"""Cross-engine deterministic hashing for oracle-checkable sketches.

Every sketch operator that needs a correctness oracle builds on a hash
BOTH engines compute bit-identically:

    Spark :  conv(substr(md5(x), 1, 12), 16, 10)::long     (48-bit)
    DuckDB:  ('0x' || substr(md5(x), 1, 12))::BIGINT

All derived hash families (MinHash permutations, SimHash bit votes) are
affine transforms mod a 31-bit Mersenne prime over that base — plain
integer arithmetic expressible in any SQL dialect with no 64-bit
overflow (a, x < 2^31 ⇒ a·x < 2^62 < 2^63).

``xxhash64`` remains the right choice when no SQL oracle is needed
(pure speed, one JVM intrinsic); :func:`xxhash64` below is its
driver-side twin, so a key's bucket is known without a Spark job, and
:func:`murmur3_ints` twins Spark's ``hash`` (the Murmur3 behind
``hashpartitioning``), so the driver knows which task a shuffle sends
a row to. The
md5 helpers exist so the *same*
operator output is exactly verifiable against DuckDB. Cost note: one
md5 per token/shingle plus k affine transforms is cheaper than k
xxhash64 calls for k ≥ 2 — the oracle-able form is also the faster
plan for multi-hash sketches.

Reference analogy: the reference pins its own deterministic encodings
(canonical JSON, Content.scala:16-48) for byte-exact cross-system
comparison; this is the hash-domain equivalent.
"""

from __future__ import annotations

import struct

from pyspark.sql import Column, functions as F

#: 2^31 - 1 — all affine hash outputs live in [0, MERSENNE31)
MERSENNE31 = 2_147_483_647

_M64 = (1 << 64) - 1


def _splitmix64(x: int) -> int:
    """Python-side SplitMix64 (matches sources/changelog.py's kernel):
    used only to derive affine parameters deterministically from a seed."""
    x = (x + 0x9E3779B97F4A7C15) & _M64
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    acc = (acc + lane * _P2) & _M64
    return (_rotl(acc, 31) * _P1) & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — bit-identical to
    Spark's ``xxhash64`` (seed 42) over a string's UTF-8 bytes, so the
    driver can compute what ``F.xxhash64`` would without launching a job.
    Lanes are read little-endian, as Spark's ``Platform.getLong`` does."""
    n = len(data)
    i = 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64,
             (seed - _P1) & _M64]
        while i <= n - 32:
            v = [_round(a, x) for a, x in zip(v, struct.unpack_from("<4Q", data, i))]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for a in v:
            h = ((h ^ _round(0, a)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i <= n - 8:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i <= n - 4:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= (b * _P5) & _M64
        h = (_rotl(h, 11) * _P1) & _M64
    h = ((h ^ (h >> 33)) * _P2) & _M64
    h = ((h ^ (h >> 29)) * _P3) & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


_C1, _C2 = 0xCC9E2D51, 0x1B873593
_M32 = 0xFFFFFFFF


def murmur3_ints(values, seed: int = 42) -> int:
    """Spark's ``hash(v1, v2, ...)`` over int columns as a signed 32-bit
    int: Murmur3_x86_32 ``hashInt`` of each value, seeded with the hash
    so far (a ``None`` leaves it unchanged, as a NULL column does).
    ``hashpartitioning(cols, k)`` sends a row to ``pmod(hash, k)``."""
    h = seed & _M32
    for v in values:
        if v is None:
            continue
        k1 = (v & _M32) * _C1 & _M32
        k1 = ((k1 << 15) | (k1 >> 17)) & _M32
        h ^= k1 * _C2 & _M32
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
        h ^= 4
        h ^= h >> 16
        h = h * 0x85EBCA6B & _M32
        h ^= h >> 13
        h = h * 0xC2B2AE35 & _M32
        h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def affine_params(k: int, seed: int = 42) -> list[tuple[int, int]]:
    """k deterministic (a, b) pairs with a ∈ [1, P-1], b ∈ [0, P-1]."""
    out = []
    for i in range(k):
        a = _splitmix64(seed * 0x9E37 + 2 * i) % (MERSENNE31 - 1) + 1
        b = _splitmix64(seed * 0x9E37 + 2 * i + 1) % MERSENNE31
        out.append((a, b))
    return out


def md5_long48(col: Column) -> Column:
    """48-bit integer from the md5 hex prefix (JVM-side, codegen'd)."""
    return F.conv(F.substring(F.md5(col), 1, 12), 16, 10).cast("long")


def md5_long48_sql(expr: str) -> str:
    """DuckDB rendering of :func:`md5_long48` over a SQL expression."""
    return f"('0x' || substr(md5({expr}), 1, 12))::BIGINT"
