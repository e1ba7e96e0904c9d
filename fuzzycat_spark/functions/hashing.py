"""Hashing kernels: content hashes, MinHash signatures, SimHash fingerprints.

- **MinHash** (`minhash_signature_udf`, `minhash_from_h64_udf`) — one md5
  per shingle, then k permutations by splitmix64 mixing in numpy,
  Arrow-batched (k native md5 calls per shingle would dominate at scale).
  `minhash_params` exposes the constants, so the DuckDB oracle reproduces
  the signatures bit-for-bit.
- **SimHash** (`simhash32`) — native Catalyst, md5-based, JVM-side,
  whole-stage codegen.

Reference semantics being generalized: fuzzycat blocks on a single
normalized key (`/root/reference/fuzzycat/sandcrawler.py:66-90` via
`notes/old_pipeline.md:19-23`); MinHash/SimHash band keys are the
north-star replacement for that sorted-key slab clustering.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

# MinHash permutations: perm_i(s) = splitmix64(h64(s) XOR C_i) >> 2, where
# h64 = first 8 bytes of md5 and C_i are per-permutation odd constants.
#
# Why a full 64-bit mixer instead of the classic affine (a*h+b) mod p:
# with h and a small relative to p the affine map barely wraps, so it is
# near-monotonic in h — every "permutation" then shares the same argmin
# (the doc's smallest base hash) and LSH bands become fully correlated
# (measured: 0.03 signature agreement at 0.84 true jaccard). splitmix64 is
# a bijective finalizer with full avalanche, XORed with an independent
# constant per permutation. All math wraps mod 2^64, exact in numpy uint64
# and reproducible in DuckDB via 32-bit-limb multiplication (see
# `splitmix64_sql`). The final >>2 keeps values in signed-int64 range for
# Spark's LongType; shifting is monotonic so mins are preserved.
_MIX1 = 0xFF51AFD7ED558CCD
_MIX2 = 0xC4CEB9FE1A85EC53
_U64 = 1 << 64
_U32 = 1 << 32


def content_hash(col: Column | str) -> Column:
    """md5 of raw bytes — the exact-duplicate key."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def minhash_params(k: int = 16, seed: int = 42) -> list[int]:
    """The k per-permutation XOR constants (odd, 64-bit) for a given seed —
    exposed so the DuckDB oracle can embed them as SQL literals and
    reproduce `minhash_signature_udf` exactly."""
    rng = np.random.RandomState(seed)
    c = rng.randint(0, 1 << 62, size=k, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    return c.tolist()


def _splitmix64_np(z: "np.ndarray") -> "np.ndarray":
    z = z.astype(np.uint64, copy=True)
    z ^= z >> np.uint64(33)
    z *= np.uint64(_MIX1)
    z ^= z >> np.uint64(33)
    z *= np.uint64(_MIX2)
    z ^= z >> np.uint64(33)
    return z


def splitmix64_sql(zexpr: str) -> str:
    """DuckDB SQL reproducing the permutation value mix(z) >> 2 for a
    UBIGINT expression `zexpr` (already XORed with the permutation
    constant). Multiplications are done in 32-bit limbs so no intermediate
    exceeds INT128."""

    def mulmod(e: str, m: int) -> str:
        hi, lo = m >> 32, m & 0xFFFFFFFF
        return (
            f"((({e})::HUGEINT * {lo} + "
            f"(((({e}) % {_U32})::HUGEINT * {hi}) % {_U32}) * {_U32}) % {_U64})::UBIGINT"
        )

    s1 = f"(({zexpr})::UBIGINT)"
    s2 = f"xor({s1}, {s1} >> 33)"
    s3 = mulmod(s2, _MIX1)
    s4 = f"xor({s3}, {s3} >> 33)"
    s5 = mulmod(s4, _MIX2)
    return f"(xor({s5}, {s5} >> 33) >> 2)::BIGINT"


def md5_h64(col: Column) -> Column:
    """First 8 bytes of md5 as a signed int64 — pure Catalyst (codegen).

    Bit-identical to Python's ``int.from_bytes(md5(s)[:8], 'big')`` viewed
    as two's-complement (conv with negative toBase = signed 64-bit), and to
    DuckDB's ``('0x' || substr(md5(s),1,16))::UBIGINT`` reinterpreted. This
    is the MinHash BASE hash: computing it JVM-side keeps the only Python
    work per document at the (k, n) numpy permutation mix.
    """
    return F.conv(F.substring(F.md5(col.cast("binary")), 1, 16), 16, -10).cast(
        "long"
    )


def md5_field48(col: Column | str, seed: int, start: int = 1) -> Column:
    """48-bit non-negative integer from md5(col ':' seed) hex chars
    [start, start+12) — the shared seeded-decision grid (mixing keep/drop,
    shard placement, within-shard order). Chars 1-12 and 13-24 of one md5
    give two independent fields for one hash computation. DuckDB mirror:
    ``('0x' || substr(md5(x::VARCHAR || ':<seed>'), <start>, 12))::BIGINT``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(
        F.substring(F.md5(F.concat(c.cast("string"), F.lit(f":{seed}"))), start, 12),
        16,
        10,
    ).cast("long")


def minhash_from_h64_udf(k: int = 16, seed: int = 42):
    """Vectorized MinHash over a pre-hashed array<long> column (base hashes
    from `md5_h64`, computed JVM-side inside whole-stage codegen).

    Returns a pandas UDF producing array<long> of length k:
    sig_i = min over shingle hashes h of splitmix64(uint64(h) XOR C_i) >> 2.
    The whole Arrow batch is mixed in ONE numpy (k, total_shingles)
    broadcast, then per-document minima come from np.minimum.reduceat over
    the flattened batch — no per-shingle and no per-document Python in the
    hot loop.

    Empty/null shingle sets get sig_i = mix(C_i) >> 2 (h=0), a deterministic
    sentinel that only collides with other empty docs.
    """
    c = np.array(minhash_params(k, seed), dtype=np.uint64)
    empty_sig = (_splitmix64_np(c) >> np.uint64(2)).astype(np.int64)

    # mixing chunk: k * CHUNK * 8 B * ~3 live temporaries stays inside L2/L3
    # (k=32 -> ~2 MB/temp at 8192). An unchunked (k, total_batch) broadcast
    # materializes ~100 MB of temporaries per Arrow batch; with one Python
    # worker per core that floods DRAM bandwidth and was measured to triple
    # per-thread CPU time at 32 workers. Cache-resident chunks keep the ~10
    # passes of the mixer off DRAM.
    _CHUNK = 8192

    @pandas_udf(ArrayType(LongType()))
    def _minhash(h64_series: pd.Series) -> pd.Series:
        n = len(h64_series)
        arrs = []
        lens = np.zeros(n, dtype=np.int64)
        for j, hv in enumerate(h64_series):
            if hv is None:
                continue
            a = np.asarray(hv, dtype=np.int64)
            if a.size:
                arrs.append(a)
                lens[j] = a.size
        if not arrs:
            return pd.Series([empty_sig] * n)
        flat = np.concatenate(arrs).view(np.uint64)
        ne_lens = lens[lens > 0]
        n_ne = ne_lens.size
        ne_starts = np.zeros(n_ne, dtype=np.int64)
        np.cumsum(ne_lens[:-1], out=ne_starts[1:])
        mins = np.empty((k, n_ne), dtype=np.uint64)
        doc_lo = 0
        while doc_lo < n_ne:
            # take whole documents until the chunk holds ~_CHUNK hashes
            doc_hi = doc_lo + 1
            h_lo = ne_starts[doc_lo]
            while (
                doc_hi < n_ne and ne_starts[doc_hi] + ne_lens[doc_hi] - h_lo <= _CHUNK
            ):
                doc_hi += 1
            h_hi = ne_starts[doc_hi - 1] + ne_lens[doc_hi - 1]
            perms = _splitmix64_np(flat[None, h_lo:h_hi] ^ c[:, None])
            perms >>= np.uint64(2)
            mins[:, doc_lo:doc_hi] = np.minimum.reduceat(
                perms, ne_starts[doc_lo:doc_hi] - h_lo, axis=1
            )
            doc_lo = doc_hi
        mins = mins.astype(np.int64)
        out = np.empty(n, dtype=object)
        col_idx = 0
        for j in range(n):
            if lens[j]:
                out[j] = mins[:, col_idx]
                col_idx += 1
            else:
                out[j] = empty_sig
        return pd.Series(out)

    return _minhash


def minhash_signature_udf(k: int = 16, seed: int = 42):
    """Vectorized MinHash over an array<string> shingle column.

    Convenience wrapper that hashes shingles with Python hashlib (one md5
    per shingle) before the numpy permutation mix — kept for tests and
    string-array call sites. Pipelines hash JVM-side instead:
    `minhash_from_h64_udf(k)(F.transform(shingles, md5_h64))` produces the
    identical signature with no Python in the base-hash loop.
    """
    c = np.array(minhash_params(k, seed), dtype=np.uint64)
    empty_sig = (_splitmix64_np(c) >> np.uint64(2)).astype(np.int64)

    @pandas_udf(ArrayType(LongType()))
    def _minhash(shingle_series: pd.Series) -> pd.Series:
        out = []
        for shingles in shingle_series:
            if shingles is None or not isinstance(shingles, (list, np.ndarray)) or len(shingles) == 0:
                out.append(empty_sig)
                continue
            base = np.fromiter(
                (
                    int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big")
                    for s in shingles
                ),
                dtype=np.uint64,
                count=len(shingles),
            )
            # (k, n) broadcast: wrap-exact uint64 mixing, monotone >>2 at end
            perms = _splitmix64_np(base[None, :] ^ c[:, None]) >> np.uint64(2)
            out.append(perms.min(axis=1).astype(np.int64))
        return pd.Series(out)

    return _minhash


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Compress a signature into `bands` band-hash strings.

    band_key[b] = md5 of the b-th slice of `rows` signature entries.
    Explode downstream with posexplode → (band_id, band_hash) join keys.
    """
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.md5(
            F.concat_ws("|", F.transform(F.slice(sig, b * rows + 1, rows),
                                         lambda x: x.cast("string"))).cast("binary")
        ),
    )


def _hex2long_expr(c: Column) -> Column:
    """First 8 hex chars of an md5 string → long (0..2^32-1). conv() is
    JVM-native; DuckDB oracle mirrors it with positional hex arithmetic."""
    return F.conv(F.substring(c, 1, 8), 16, 10).cast("long")


def token_hashes32(tokens: Column) -> Column:
    """Per-token 32-bit hashes (first 8 md5 hex chars) as array<long> —
    materialize this as a column attribute before calling
    `simhash32_from_hashes`, which aggregates over it 32 times."""
    return F.transform(tokens, lambda t: _hex2long_expr(F.md5(t.cast("binary"))))


def simhash32_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash from a pre-materialized token-hash array (duplicates
    = term-frequency weight). One aggregate pass per bit; `hashes` MUST be
    a plain attribute — passing the hashing expression re-runs md5 32x per
    row (HOF lambdas re-evaluate captured expressions)."""
    zero = F.lit(0).cast("long")
    # one aggregate pass per bit; bit index j is a Python int so shiftright
    # stays a static JVM expression
    def _vote_merge(j: int):
        def merge(acc, h):
            return acc + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1, 1
            ).otherwise(-1)

        return merge

    fp = None
    for j in range(32):
        vote = F.aggregate(hashes, zero, _vote_merge(j))
        bit = F.when(vote > 0, F.lit(1 << j).cast("long")).otherwise(zero)
        fp = bit if fp is None else fp + bit
    return (
        F.when(hashes.isNull(), F.lit(None).cast("long"))
        .when(F.size(hashes) == 0, F.lit(-1).cast("long"))
        .otherwise(fp)
    )


def simhash32(tokens: Column) -> Column:
    """32-bit SimHash straight from a token array. Convenience for small
    inputs/oracles; pipelines should materialize `token_hashes32` first."""
    return simhash32_from_hashes(token_hashes32(tokens))


def hamming32(a: Column, b: Column) -> Column:
    """Hamming distance between two 32-bit fingerprints stored as long."""
    x = a.bitwiseXOR(b)
    out = None
    for j in range(32):
        bit = F.shiftright(x, j).bitwiseAND(F.lit(1))
        out = bit if out is None else out + bit
    return out.cast("int")


__all__ = [
    "content_hash",
    "md5_h64",
    "minhash_from_h64_udf",
    "minhash_signature_udf",
    "lsh_band_keys",
    "simhash32",
    "hamming32",
]
