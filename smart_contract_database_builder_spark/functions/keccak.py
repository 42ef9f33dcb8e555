"""Keccak-256 — ABI selector hashing (SURVEY.md F5).

The reference derives 4-byte function selectors via alloy's
``f.selector()`` (reference src/functions.rs:28-29), i.e. the first 4
bytes of Keccak-256 of the canonical signature. Spark has md5/sha2 but
no keccak, and no crypto package is guaranteed on executors, so this is
a dependency-free implementation of the original Keccak (pre-SHA-3
padding, as used by Ethereum), written from the public FIPS-202 /
Keccak specification.

Two forms compute the same digests:

- ``selectors`` / ``_digests``: the engine path. One call hashes a whole
  batch: the lanes of every message sit in a ``(25, N)`` uint64 matrix,
  so each Keccak-f round is ~18 whole-matrix numpy calls whatever N is.
  Messages are grouped by block count (one group for ABI signatures,
  which fit one 136-byte block). The extraction stage calls it once per
  Arrow batch (see compilestage/stage.py).
- ``keccak256`` / ``selector``: the scalar, list-of-lanes form, kept as
  the test reference for the batch kernel; no engine code calls it.
  It costs ~0.6-0.8 ms per signature on a 4-core x86 VM, which was more
  than half of the scanner's single-thread extraction time when it ran
  once per extracted function. The batch kernel costs ~0.8 ms for one
  signature, ~2.4 ms for 250 and ~8 ms for 1,000 on the same VM.
"""

from __future__ import annotations

import numpy as np

_MASK = (1 << 64) - 1

_ROUND_CONSTANTS = (
    0x0000000000000001, 0x0000000000008082, 0x800000000000808A,
    0x8000000080008000, 0x000000000000808B, 0x0000000080000001,
    0x8000000080008081, 0x8000000000008009, 0x000000000000008A,
    0x0000000000000088, 0x0000000080008009, 0x000000008000000A,
    0x000000008000808B, 0x800000000000008B, 0x8000000000008089,
    0x8000000000008003, 0x8000000000008002, 0x8000000000000080,
    0x000000000000800A, 0x800000008000000A, 0x8000000080008081,
    0x8000000000008080, 0x0000000080000001, 0x8000000080008008,
)

#: Rotation offsets r[x][y] from the Keccak reference specification.
_ROTATIONS = (
    (0, 36, 3, 41, 18),
    (1, 44, 10, 45, 2),
    (62, 6, 43, 15, 61),
    (28, 55, 25, 21, 56),
    (27, 20, 39, 8, 14),
)

_RATE_BYTES = 136  # 1088-bit rate / 512-bit capacity → Keccak-256


def _rotl(v: int, n: int) -> int:
    return ((v << n) | (v >> (64 - n))) & _MASK


def _keccak_f(a: list[list[int]]) -> None:
    """Keccak-f[1600] permutation over the 5×5 lane state, in place."""
    for rc in _ROUND_CONSTANTS:
        # θ
        c = [a[x][0] ^ a[x][1] ^ a[x][2] ^ a[x][3] ^ a[x][4] for x in range(5)]
        d = [c[(x - 1) % 5] ^ _rotl(c[(x + 1) % 5], 1) for x in range(5)]
        for x in range(5):
            for y in range(5):
                a[x][y] ^= d[x]
        # ρ and π
        b = [[0] * 5 for _ in range(5)]
        for x in range(5):
            for y in range(5):
                b[y][(2 * x + 3 * y) % 5] = _rotl(a[x][y], _ROTATIONS[x][y])
        # χ
        for x in range(5):
            for y in range(5):
                a[x][y] = b[x][y] ^ ((~b[(x + 1) % 5][y]) & b[(x + 2) % 5][y])
        a[0][0] &= _MASK
        # ι
        a[0][0] ^= rc


def keccak256(data: bytes) -> bytes:
    """Keccak-256 digest (original Keccak 0x01 padding, as in Ethereum —
    NOT the 0x06-padded SHA3-256)."""
    state = [[0] * 5 for _ in range(5)]
    # multi-rate padding: 0x01 … 0x80 (single 0x81 byte when one short)
    padded = bytearray(data)
    pad_len = _RATE_BYTES - (len(padded) % _RATE_BYTES)
    padded += b"\x01" + b"\x00" * (pad_len - 2) + b"\x80" if pad_len >= 2 else b"\x81"

    for block_start in range(0, len(padded), _RATE_BYTES):
        block = padded[block_start : block_start + _RATE_BYTES]
        for i in range(_RATE_BYTES // 8):
            lane = int.from_bytes(block[i * 8 : (i + 1) * 8], "little")
            x, y = i % 5, i // 5
            state[x][y] ^= lane
        _keccak_f(state)

    out = bytearray()
    for i in range(4):  # 32 bytes = 4 lanes
        x, y = i % 5, i // 5
        out += state[x][y].to_bytes(8, "little")
    return bytes(out)


def selector(signature: str) -> str:
    """F5: ``0x`` + first 4 bytes of keccak256(canonical signature) —
    the format the reference stores (src/functions.rs:28-29)."""
    return "0x" + keccak256(signature.encode()).hex()[:8]


# ---------------------------------------------------------------------------
# Batch kernel: lanes are rows of a (25, N) matrix, flat index x + 5*y
# ---------------------------------------------------------------------------

_LANES_PER_BLOCK = _RATE_BYTES // 8

#: ρ rotation of each flat lane, as left and right shift amounts.
_RHO_LEFT = np.array(
    [[_ROTATIONS[i % 5][i // 5]] for i in range(25)], dtype=np.uint64
)
_RHO_RIGHT = (np.uint64(64) - _RHO_LEFT) % np.uint64(64)

#: π moves lane (x, y) to (y, 2x+3y); as a gather, B = rotated[_PI_SRC]
#: (the inverse of that move, flat lane i = x + 5y).
_PI_SRC = np.argsort(
    [y + 5 * ((2 * x + 3 * y) % 5) for y in range(5) for x in range(5)]
)
#: χ reads B at (x+1, y) and (x+2, y); composed with π into one gather.
_CHI_SRC1 = _PI_SRC[[(i + 1) % 5 + 5 * (i // 5) for i in range(25)]]
_CHI_SRC2 = _PI_SRC[[(i + 2) % 5 + 5 * (i // 5) for i in range(25)]]
_THETA_PREV = [4, 0, 1, 2, 3]  # column x-1
_THETA_NEXT = [1, 2, 3, 4, 0]  # column x+1
_ONE = np.uint64(1)
_SIXTY_THREE = np.uint64(63)
_RC = np.array(_ROUND_CONSTANTS, dtype=np.uint64)


def _keccak_f_batch(a: np.ndarray) -> np.ndarray:
    """Keccak-f[1600] on every column of a ``(25, N)`` uint64 lane
    matrix; returns the permuted matrix."""
    for rc in _RC:
        # θ: column parities, then D[x] = C[x-1] ^ rotl(C[x+1], 1)
        c = np.bitwise_xor.reduce(a.reshape(5, 5, -1), axis=0)
        nxt = c[_THETA_NEXT]
        d = c[_THETA_PREV] ^ ((nxt << _ONE) | (nxt >> _SIXTY_THREE))
        a = (a.reshape(5, 5, -1) ^ d).reshape(25, -1)
        # ρ, then π and χ as gathers of the rotated lanes
        r = (a << _RHO_LEFT) | (a >> _RHO_RIGHT)
        a = r[_PI_SRC] ^ (~r[_CHI_SRC1] & r[_CHI_SRC2])
        # ι
        a[0] ^= rc
    return a


def _digests(messages: list[bytes]) -> list[bytes]:
    """Keccak-256 of every message (same digests as ``keccak256``),
    one permutation pass per block-count group."""
    groups: dict[int, list[int]] = {}
    for i, m in enumerate(messages):
        groups.setdefault(len(m) // _RATE_BYTES + 1, []).append(i)
    out: list[bytes] = [b""] * len(messages)
    for blocks, idx in groups.items():
        size = blocks * _RATE_BYTES
        # 0x01 … 0x80 padding; a one-byte pad becomes 0x81 via the |=
        padded = np.frombuffer(
            b"".join(
                messages[i] + b"\x01" + bytes(size - len(messages[i]) - 1)
                for i in idx
            ),
            dtype=np.uint8,
        ).reshape(len(idx), size).copy()
        padded[:, -1] |= 0x80
        lanes = padded.view("<u8").astype(np.uint64).T
        state = np.zeros((25, len(idx)), dtype=np.uint64)
        for b in range(blocks):
            block = lanes[b * _LANES_PER_BLOCK : (b + 1) * _LANES_PER_BLOCK]
            state[:_LANES_PER_BLOCK] ^= block
            state = _keccak_f_batch(state)
        digest = np.ascontiguousarray(state[:4].T).astype("<u8").tobytes()
        for k, i in enumerate(idx):
            out[i] = digest[32 * k : 32 * (k + 1)]
    return out


def selectors(signatures: list[str]) -> list[str]:
    """F5 over a batch: ``selector(s)`` for every signature, hashed in
    one kernel call."""
    return [
        "0x" + d[:4].hex() for d in _digests([s.encode() for s in signatures])
    ]
