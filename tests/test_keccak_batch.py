"""The batch Keccak-256 kernel (``keccak.selectors`` / ``_digests``)
against the scalar reference ``keccak256``: random messages, mixed
block counts in one batch, the 136-byte rate boundaries and public
vectors."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from smart_contract_database_builder_spark.functions.keccak import (
    _digests,
    keccak256,
    selector,
    selectors,
)

_FOX = b"The quick brown fox jumps over the lazy dog"
_FOX_DIGEST = "4d741b6f1eb29cb2a9b9911c82f56fa8d73b04959d3d9d222895df6c0b28aa15"
_EMPTY_DIGEST = "c5d2460186f7233c927e7db2dcc703c0e500b653ca82273b7bfad8045d85a470"
_BOUNDARY_LENGTHS = (0, 1, 135, 136, 137, 271, 272, 273)


def test_public_vectors():
    assert keccak256(_FOX).hex() == _FOX_DIGEST
    assert [d.hex() for d in _digests([_FOX, b""])] == [_FOX_DIGEST, _EMPTY_DIGEST]


@pytest.mark.parametrize("n", _BOUNDARY_LENGTHS)
def test_rate_boundaries_match_scalar(n):
    """0x81 single-byte padding at 135, a whole extra padding block at
    136 and 272, and two/three-block messages around them."""
    msg = bytes((7 * i + n) % 256 for i in range(n))
    assert _digests([msg]) == [keccak256(msg)]


def test_rate_boundaries_in_one_batch_keep_input_order():
    msgs = [bytes([n % 256]) * n for n in _BOUNDARY_LENGTHS] * 2
    assert _digests(msgs) == [keccak256(m) for m in msgs]


def test_empty_batch():
    assert _digests([]) == []
    assert selectors([]) == []


@given(st.binary(max_size=420))
@settings(max_examples=60, deadline=None)
def test_digest_matches_scalar_for_random_bytes(msg):
    assert _digests([msg]) == [keccak256(msg)]


@given(st.lists(st.binary(max_size=300), max_size=12))
@settings(max_examples=40, deadline=None)
def test_mixed_block_count_batch_matches_scalar(msgs):
    assert _digests(msgs) == [keccak256(m) for m in msgs]


@given(st.lists(st.text(max_size=80), max_size=16))
@settings(max_examples=40, deadline=None)
def test_selectors_match_scalar_selector(sigs):
    """Non-ASCII text too: both forms hash the UTF-8 bytes."""
    assert selectors(sigs) == [selector(s) for s in sigs]
