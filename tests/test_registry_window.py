"""Registry order invariants.

The correctness driver processes queries in registry order and records
only the FIRST 50 — round 2 lost 17 CORRECTNESS rows purely by
position. The order is computed at import from the committed driver
evidence (``plans.evidence_order``): the explicit witnesses lead, then
every oracle query stalest first, then the rows-only queries. These
tests pin that shape on the real registry and the order function on
synthetic input; that the rotation keeps every oracle query's evidence
fresh is tests/test_evidence_freshness.py's job.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from smart_contract_database_builder_spark import plans

_DRIVER_WINDOW = 50


def _has_oracle(name: str) -> bool:
    return plans.QUERIES[name].oracle is not None


def test_family_witnesses_lead():
    names = list(plans.QUERIES)
    assert names[: len(plans._WITNESSES)] == plans._WITNESSES


def test_oracle_queries_fill_the_driver_window_exactly():
    """A rows-only query inside the window would waste a driver-checked
    slot."""
    head = list(plans.QUERIES)[:_DRIVER_WINDOW]
    assert [n for n in head if not _has_oracle(n)] == []


def test_only_genuinely_rows_only_queries_trail_the_overflow():
    """No rows-only query sits before an oracle query, and each one
    documents WHY it has no oracle."""
    flags = [_has_oracle(n) for n in plans.QUERIES]
    first_rows_only = flags.index(False)
    assert not any(flags[first_rows_only:])
    for n in list(plans.QUERIES)[first_rows_only:]:
        doc = plans.QUERIES[n].doc.lower()
        assert "rows-only" in doc or "rows only" in doc, n


def test_window_takes_the_stalest_oracle_queries():
    latest = plans.newest_green_rounds()
    names = list(plans.QUERIES)
    rotated_in = [
        latest.get(n, 0)
        for n in names[len(plans._WITNESSES) : _DRIVER_WINDOW]
    ]
    past = [latest.get(n, 0) for n in names[_DRIVER_WINDOW:] if _has_oracle(n)]
    assert max(rotated_in) <= min(past)


def test_rotated_out_queries_have_prior_driver_green_rows():
    """Never-green queries sort first, so every oracle query past the
    window has some driver-green CORRECTNESS row."""
    latest = plans.newest_green_rounds()
    never_green = [
        n
        for n in list(plans.QUERIES)[_DRIVER_WINDOW:]
        if _has_oracle(n) and n not in latest
    ]
    assert never_green == []


# --- evidence_order on synthetic input --------------------------------

_ORACLED = {
    "w_fresh": True,
    "q_a": True,
    "raw_1": False,
    "q_b": True,
    "q_new": True,
    "q_c": True,
    "raw_2": False,
    "w_raw_sibling": True,
}
_LATEST = {"w_fresh": 9, "q_a": 7, "q_b": 4, "q_c": 7, "w_raw_sibling": 1}


def _order(witnesses=("w_fresh",)):
    return plans.evidence_order(_ORACLED, _LATEST, list(witnesses))


def test_order_witnesses_lead_whatever_their_evidence():
    assert _order(("w_fresh", "w_raw_sibling"))[:2] == ["w_fresh", "w_raw_sibling"]


def test_order_stalest_first_never_green_leading():
    assert _order()[1:6] == ["q_new", "w_raw_sibling", "q_b", "q_a", "q_c"]


def test_order_ties_keep_registration_order():
    order = _order()
    assert order.index("q_a") < order.index("q_c")


def test_order_rows_only_last_in_registration_order():
    assert _order()[-2:] == ["raw_1", "raw_2"]
    assert sorted(_order()) == sorted(_ORACLED)


def test_order_unknown_witness_raises():
    with pytest.raises(RuntimeError, match="q_typo"):
        _order(("w_fresh", "q_typo"))
