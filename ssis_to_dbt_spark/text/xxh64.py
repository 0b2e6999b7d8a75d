"""Pure-Python XXH64 — bit-compatible with Spark's ``F.xxhash64``.

XXH64 is a fully-specified public algorithm (Yann Collet's xxHash,
github.com/Cyan4973/xxHash; Spark carries a verbatim implementation in
``sql/catalyst/.../expressions/XXH64.java``).  This module reimplements it
from the public spec so pytest oracles can reproduce Spark's 64-bit
hashes exactly.  No engine module imports it: its only importers are the
tests (``tests/test_xxh64.py``).  DuckDB has no xxhash64, so the xxhash64
operator family (``minhash_pairs_docs``, ``simhash_pairs_docs``,
``lsh_topk_embeddings``) would otherwise be rows-only; with this module
those entries are value-pinned against a Python oracle.

Semantics mirrored from Spark (seed 42, per-column chaining):

- ``F.xxhash64(c1, c2, ...)`` folds left: ``h = 42`` then for each
  non-null column ``h = hash(value, h)``.
- ``IntegerType`` hashes via the 4-byte int path (``hashInt``),
  ``LongType`` via the 8-byte path (``hashLong``), ``StringType`` via the
  byte-stream path over the UTF-8 encoding.

Everything returns SIGNED 64-bit (Spark longs); Python's ``%`` on a
signed value with a positive modulus already matches ``F.pmod``.
"""

from __future__ import annotations

_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5
_M = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _M
    h ^= h >> 29
    h = (h * _P3) & _M
    h ^= h >> 32
    return h


def _signed(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def xxh64_bytes(data: bytes, seed: int = 42) -> int:
    """XXH64 of a byte string (Spark's ``hashUnsafeBytes`` / the reference
    spec, little-endian lanes).  Returns a signed 64-bit int."""
    seed &= _M
    n = len(data)
    off = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _M
        v2 = (seed + _P2) & _M
        v3 = seed
        v4 = (seed - _P1) & _M
        limit = n - 32
        while off <= limit:
            v1 = (_rotl((v1 + int.from_bytes(data[off:off + 8], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v2 = (_rotl((v2 + int.from_bytes(data[off + 8:off + 16], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v3 = (_rotl((v3 + int.from_bytes(data[off + 16:off + 24], "little")
                         * _P2) & _M, 31) * _P1) & _M
            v4 = (_rotl((v4 + int.from_bytes(data[off + 24:off + 32], "little")
                         * _P2) & _M, 31) * _P1) & _M
            off += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _M
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _M, 31) * _P1) & _M
            h = (h * _P1 + _P4) & _M
    else:
        h = (seed + _P5) & _M
    h = (h + n) & _M
    while off + 8 <= n:
        k = int.from_bytes(data[off:off + 8], "little")
        h ^= (_rotl((k * _P2) & _M, 31) * _P1) & _M
        h = (_rotl(h, 27) * _P1 + _P4) & _M
        off += 8
    if off + 4 <= n:
        h ^= (int.from_bytes(data[off:off + 4], "little") * _P1) & _M
        h = (_rotl(h, 23) * _P2 + _P3) & _M
        off += 4
    while off < n:
        h ^= (data[off] * _P5) & _M
        h = (_rotl(h, 11) * _P1) & _M
        off += 1
    return _signed(_fmix(h))


def xxh64_string(s: str, seed: int = 42) -> int:
    """``F.xxhash64(string_col)`` twin: XXH64 over the UTF-8 bytes."""
    return xxh64_bytes(s.encode("utf-8"), seed)


def xxh64_int(i: int, seed: int = 42) -> int:
    """Spark's 4-byte int path (IntegerType columns/literals)."""
    seed &= _M
    h = (seed + _P5 + 4) & _M
    h ^= ((i & 0xFFFFFFFF) * _P1) & _M
    h = (_rotl(h, 23) * _P2 + _P3) & _M
    return _signed(_fmix(h))


def xxh64_long(v: int, seed: int = 42) -> int:
    """Spark's 8-byte path (LongType columns/literals)."""
    seed &= _M
    h = (seed + _P5 + 8) & _M
    h ^= (_rotl((v & _M) * _P2 & _M, 31) * _P1) & _M
    h = (_rotl(h, 27) * _P1 + _P4) & _M
    return _signed(_fmix(h))


def spark_xxhash64(*values, seed: int = 42) -> int:
    """``F.xxhash64(c1, c2, ...)`` twin: left-fold the per-type hashes
    with the previous hash as the next seed (NULLs are skipped, matching
    Spark).  Python ``int`` maps to Spark IntegerType when it fits 32
    bits is AMBIGUOUS — pass explicit wrappers instead: ``("int", v)``,
    ``("long", v)``, ``str`` or ``bytes`` values are unambiguous."""
    h = seed
    for v in values:
        if v is None:
            continue
        if isinstance(v, tuple):
            kind, val = v
            if kind == "int":
                h = xxh64_int(val, h)
            elif kind == "long":
                h = xxh64_long(val, h)
            else:
                raise ValueError(f"unknown kind {kind!r}")
        elif isinstance(v, str):
            h = xxh64_string(v, h)
        elif isinstance(v, bytes):
            h = xxh64_bytes(v, h)
        else:
            raise TypeError(
                f"ambiguous type {type(v).__name__}; wrap ints as "
                "('int', v) or ('long', v)"
            )
    return h
