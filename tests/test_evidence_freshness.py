"""Evidence-freshness guard (VERDICT r11 "Next round #7").

The driver samples only the first 50 registry queries per round, so
driver CORRECTNESS evidence ages: a query green in round 4 whose plan
has silently drifted since would stay "green" forever on paper. The
rotation policy — no oracle-carrying query's newest driver row older
than K rounds — used to live in VERDICT prose; this encodes it as a
failing test.

A query counts as fresh if its newest fully-green row (rows + schema +
hash) in any checked-in CORRECTNESS_r*.json is at most K rounds old,
OR it currently holds a slot in the driver window (it will earn a row
this round — the artifact for the in-flight round does not exist yet
while the round is being built). Rows-only queries are exempt: their
evidence is the pytest suite, not driver rows.

K = 8: the registry order (``plans.evidence_order``) fills the window
with a few witnesses and then the stalest oracle queries, so with 321
oracle queries and 45 rotating slots a full sweep takes ~7 rounds. The
simulation below checks that this keeps every query inside K from the
committed history on, and that a witness list long enough to starve the
rotation fails it.
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans

_ROOT = pathlib.Path(__file__).resolve().parent.parent
_WINDOW = 50
_MAX_AGE_ROUNDS = 8


def _load_history(root: pathlib.Path) -> tuple[dict[str, int], int]:
    """(newest fully-green round per query, current in-flight round)."""
    latest: dict[str, int] = {}
    rounds = []
    for artifact in root.glob("CORRECTNESS_r*.json"):
        n = int(re.search(r"r(\d+)", artifact.name).group(1))
        rounds.append(n)
        for q, r in json.loads(artifact.read_text()).items():
            if (
                isinstance(r, dict)
                and r.get("rows_match")
                and r.get("schema_match")
                and r.get("hash_match")
            ):
                latest[q] = max(latest.get(q, 0), n)
    return latest, (max(rounds) + 1 if rounds else 1)


def find_stale(
    latest: dict[str, int],
    window: list[str],
    oracle_queries: list[str],
    current_round: int,
    max_age: int = _MAX_AGE_ROUNDS,
) -> list[tuple[str, int]]:
    """Oracle queries whose newest green driver row is older than
    ``max_age`` rounds and which do not sit in the current window."""
    floor = current_round - max_age
    in_window = set(window)
    return sorted(
        (q, latest.get(q, 0))
        for q in oracle_queries
        if q not in in_window and latest.get(q, 0) < floor
    )


def test_no_oracle_query_evidence_is_stale():
    latest, current = _load_history(_ROOT)
    oracle_qs = [n for n, s in plans.QUERIES.items() if s.oracle]
    window = list(plans.QUERIES)[:_WINDOW]
    stale = find_stale(latest, window, oracle_qs, current)
    assert stale == [], (
        f"driver evidence older than {_MAX_AGE_ROUNDS} rounds (round "
        f"{current} in flight) and not scheduled for refresh: {stale} — "
        "check the CORRECTNESS_r*.json artifacts and plans._WITNESSES"
    )


#: Future rounds simulated by the rotation test (two full sweeps).
_SIM_ROUNDS = 16


def _first_stale_round(witnesses: list[str]) -> tuple[int, list] | None:
    """Replay the driver from the committed history: each round the
    registry is ordered from the evidence so far and the first
    ``_WINDOW`` queries turn green. Returns the first round whose
    freshness check fails, with its stale queries, or None."""
    latest, current = _load_history(_ROOT)
    registered = plans._registered
    oracle_qs = [n for n, has_oracle in registered.items() if has_oracle]
    for rnd in range(current, current + _SIM_ROUNDS):
        window = plans.evidence_order(registered, latest, witnesses)[:_WINDOW]
        stale = find_stale(latest, window, oracle_qs, rnd)
        if stale:
            return rnd, stale
        latest.update((n, rnd) for n in window)
    return None


def test_rotation_keeps_evidence_fresh_by_construction():
    assert _first_stale_round(plans._WITNESSES) is None


def test_rotation_simulation_fails_when_witnesses_starve_it():
    extra = [
        n
        for n, has_oracle in plans._registered.items()
        if has_oracle and n not in plans._WITNESSES
    ]
    assert _first_stale_round(plans._WITNESSES + extra[:15]) is not None


def test_guard_fails_on_synthetic_staleness():
    """The guard must actually bite: a query last green 9 rounds ago
    and not in the window is stale."""
    stale = find_stale(
        latest={"q_old": 3, "q_fresh": 11, "q_windowed": 1},
        window=["q_windowed"],
        oracle_queries=["q_old", "q_fresh", "q_windowed"],
        current_round=12,
    )
    assert stale == [("q_old", 3)]


def test_guard_counts_never_sampled_as_stale():
    stale = find_stale(
        latest={},
        window=[],
        oracle_queries=["q_new"],
        current_round=12,
    )
    assert stale == [("q_new", 0)]
