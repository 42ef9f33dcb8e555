"""Named query registry — the engine's declared operator surface.

Every operator from SURVEY.md §2 lands here as a named query: a function
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) a DuckDB
oracle SQL string the driver runs side-by-side for the correctness gate.

Import order populates the registry; the reorder below controls the
order ``queries()`` exposes. The correctness driver runs the queries in
that order and records only the FIRST 50, so the order is computed from
the committed driver evidence (``CORRECTNESS_r*.json`` next to the
package): the standing witnesses lead, then every oracle query stalest
first, then the rows-only queries (impl-specific RNG/sketches/codecs —
pytest-asserted instead). Each round's window therefore refreshes the
oldest evidence, and every oracle still runs in the pytest sweep
(tests/test_oracle_parity.py).
"""

import json
import pathlib
import re

from .registry import QUERIES, oracle_sql, queries, register  # noqa: F401

# Registration side effects — each module adds its queries on import.
from . import relational  # noqa: E402,F401
from . import relational_ext  # noqa: E402,F401
from . import reference_model  # noqa: E402,F401
from . import reference_ext  # noqa: E402,F401
from . import llm_ops  # noqa: E402,F401
from . import scale_ops  # noqa: E402,F401
from . import streaming_batch  # noqa: E402,F401

#: Always first in the driver window: one witness per standing family
#: (core relational, reference model, true streaming, exact dedup) plus
#: the reference sink round trip, whose store path (``dedup_by_id``
#: and the staged strict-mode checks) changed after its newest driver
#: row. Keep this short: every entry takes a rotation slot each round.
_WITNESSES = [
    "flagship_revenue_by_region",
    "ref_extract_functions",
    "stream_true_tumbling_availablenow",
    "llm_exact_dedup_documents",
    "ref_sink_roundtrip",
]

#: The committed driver artifacts sit next to the package, wherever the
#: process was started from.
_EVIDENCE_ROOT = pathlib.Path(__file__).resolve().parents[2]


def newest_green_rounds() -> dict[str, int]:
    """Newest round in which each query's driver row was fully green
    (rows + schema + hash), read from ``CORRECTNESS_r<N>.json``."""
    latest: dict[str, int] = {}
    for artifact in _EVIDENCE_ROOT.glob("CORRECTNESS_r*.json"):
        n = int(re.search(r"r(\d+)", artifact.name).group(1))
        for name, row in json.loads(artifact.read_text()).items():
            if all(row.get(k) for k in ("rows_match", "schema_match", "hash_match")):
                latest[name] = max(latest.get(name, 0), n)
    return latest


def evidence_order(
    oracled: dict[str, bool], latest: dict[str, int], witnesses: list[str]
) -> list[str]:
    """Registry order: ``witnesses``, then every oracle query by newest
    green round (never-green = 0 first; ties keep registration order),
    then the rows-only queries. ``oracled`` maps each name, in
    registration order, to whether it carries an oracle."""
    # A typo'd witness would silently drop out of the window; fail at
    # import instead so a renamed query breaks loudly.
    unknown = [n for n in witnesses if n not in oracled]
    if unknown:
        raise RuntimeError(f"plans registry witnesses name unknown queries: {unknown}")
    rest = [n for n in oracled if n not in witnesses]
    stalest = sorted((n for n in rest if oracled[n]), key=lambda n: latest.get(n, 0))
    return list(witnesses) + stalest + [n for n in rest if not oracled[n]]


#: Registration order with oracle flags (QUERIES is re-sorted below).
_registered = {name: spec.oracle is not None for name, spec in QUERIES.items()}
_resorted = {
    n: QUERIES[n]
    for n in evidence_order(_registered, newest_green_rounds(), _WITNESSES)
}
QUERIES.clear()
QUERIES.update(_resorted)
