"""b-bit minwise hashing — MinHash sketches compressed to ``b`` bits per
slot (Li & König, "b-Bit Minwise Hashing", WWW 2010).

At 10^12-turn scale the near-dup pipeline's verify stage is byte-bound:
exact-Jaccard verification re-joins the per-doc SHINGLE ARRAYS (bigger
than the text itself), and even full MinHash signatures cost
``num_perm × 8`` bytes per doc through every shuffle and checkpoint.
Storing only the lowest ``b`` bits of each slot shrinks the sketch
``64/b``× (128 perms at b=8: 1 KiB → 128 B) at a quantifiable accuracy
cost: two slots now also agree BY CHANCE with probability ``C ≈ 2^-b``,
so the corrected estimator is::

    Ĵ = (m/k − C) / (1 − C),   m = matching slots, k = num_perm

(the large-universe simplification of Li & König's estimator — their
exact ``C`` depends on the two set sizes' ratio and converges to
``2^-b`` for the set sizes this engine sees; at b=8 the residual bias
is < 1/256 of the match rate).

Scale shape:

* ONE fused Arrow kernel computes the k-perm signature matrix once and
  emits BOTH the full-width LSH band hashes (candidate generation keeps
  its full 61-bit collision resistance — banding is not where the bytes
  hurt) and the packed b-bit sketch as a ``binary`` column.
* Candidate pairs come from the shared ``_buckets`` machinery
  (bucket caps, skew audit) exactly as ``minhash_near_dup_pairs``.
* Verification joins the 128-byte sketches instead of the shingle
  arrays — the verify stage's shuffle volume drops by the ratio of
  shingle bytes to sketch bytes (~50× on this corpus) and never
  re-reads text. Slot matching is one vectorized uint8 comparison per
  pair (Arrow batch, no per-row Python).

Accuracy discipline: with k=128, b=8 the estimator's std is
``sqrt(p(1−p)/k)/(1−C) ≈ 0.045`` at J=0.5 — callers must pick
thresholds with margin (the driver query's fixture pairs sit ≥ 0.875
vs threshold 0.5, ~8σ). ``bbit_estimate_md5`` is the ORACLE-SIBLING:
the same estimator over md5-derived slot values that DuckDB reproduces
bit-for-bit (hard value-hash oracle for the estimator arithmetic);
the packed-kernel path is the scale form (pytest-pinned against it).

Reference analogue: the deviation-bit budget trade in GD — RS(n, k)
keeps ``n−k`` parity bytes of discriminating power per chunk
(`DESIGN.md:62-109`); b-bit minwise keeps ``b`` bits per permutation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from ._vectorize import iter_segments
from .minhash import MERSENNE_P, _MAX_HASH, _SH_B, shingle_df

_SUPPORTED_B = (1, 2, 4, 8, 16)


def _pack_bbit(sig: np.ndarray, b: int) -> list[bytes]:
    """Pack a (n, k) uint64 signature matrix to lowest-b-bit rows of
    ``k*b/8`` bytes each (b ∈ {1,2,4,8,16}; little-endian within bytes
    for sub-byte b — the exact inverse of ``_unpack_bbit``)."""
    n, k = sig.shape
    if b == 16:
        return [
            (row & np.uint64(0xFFFF)).astype("<u2").tobytes() for row in sig
        ]
    u8 = (sig & np.uint64((1 << b) - 1)).astype(np.uint8)
    if b == 8:
        return [row.tobytes() for row in u8]
    per = 8 // b  # slots per byte
    packed = np.zeros((n, k // per), dtype=np.uint8)
    for j in range(per):
        packed |= u8[:, j::per] << (j * b)
    return [row.tobytes() for row in packed]


def _unpack_bbit(buf: bytes, k: int, b: int) -> np.ndarray:
    """Inverse of ``_pack_bbit`` for one row → (k,) uint16 slot values."""
    if b == 16:
        return np.frombuffer(buf, dtype="<u2").astype(np.uint16)
    raw = np.frombuffer(buf, dtype=np.uint8)
    if b == 8:
        return raw.astype(np.uint16)
    per = 8 // b
    out = np.empty(k, dtype=np.uint16)
    mask = (1 << b) - 1
    for j in range(per):
        out[j::per] = (raw >> (j * b)) & mask
    return out


def bbit_sketch_bands(
    shingles: DataFrame,
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    b: int = 8,
    seed: int = 1,
) -> DataFrame:
    """``(id, bands array<long>[bands], bsig binary[num_perm*b/8])`` —
    the k-perm signature computed ONCE, folded into full-width LSH band
    hashes AND packed to the b-bit sketch in the same Arrow pass (the
    fused-kernel convention of ``minhash_band_hashes``)."""
    if b not in _SUPPORTED_B:
        raise ValueError(f"b must be one of {_SUPPORTED_B}, got {b}")
    if bands * rows != num_perm:
        raise ValueError("bands * rows must equal num_perm")
    if (num_perm * b) % 8 != 0:
        # sub-byte b packs 8/b slots per byte; a num_perm that doesn't
        # fill whole bytes would otherwise die in numpy with an opaque
        # broadcast error inside _pack_bbit
        raise ValueError(
            f"num_perm * b must be a multiple of 8, got {num_perm}*{b}"
        )
    rng = np.random.default_rng(seed)
    pa_ = rng.integers(1, MERSENNE_P, size=num_perm, dtype=np.uint64)
    pb_ = rng.integers(0, MERSENNE_P, size=num_perm, dtype=np.uint64)

    _BUDGET = 1 << 11
    scratch: dict = {}

    def _buf(n: int) -> np.ndarray:
        buf = scratch.get("v")
        if buf is None or buf.shape[0] < n:
            buf = np.empty((max(n, _BUDGET), num_perm), dtype=np.uint64)
            scratch["v"] = buf
        return buf[:n]

    out_type = T.StructType(
        [
            T.StructField("bands", T.ArrayType(T.LongType())),
            T.StructField("bsig", T.BinaryType()),
        ]
    )

    @F.pandas_udf(out_type)
    def sketch_udf(col: pd.Series) -> pd.DataFrame:
        n = len(col)
        sig = np.full((n, num_perm), _MAX_HASH, dtype=np.uint64)
        for idx, flat, starts in iter_segments(col, budget=_BUDGET):
            v = _buf(len(flat))
            np.multiply(flat.astype(np.uint64)[:, None], pa_[None, :], out=v)
            np.add(v, pb_[None, :], out=v)
            np.bitwise_and(v, _MAX_HASH, out=v)
            sig[idx] = np.minimum.reduceat(v, starts, axis=0)
        m = sig.reshape(n, bands, rows)
        h = m[:, :, 0].copy()
        for j in range(1, rows):
            np.multiply(h, _SH_B, out=h)
            np.add(h, m[:, :, j], out=h)
        return pd.DataFrame(
            {"bands": list(h.view(np.int64)), "bsig": _pack_bbit(sig, b)}
        )

    return shingles.select(
        "id", sketch_udf("shingles").alias("_sk")
    ).select("id", F.col("_sk.bands").alias("bands"), F.col("_sk.bsig").alias("bsig"))


def verify_bbit(
    pairs: DataFrame,
    sketches: DataFrame,
    num_perm: int = 128,
    b: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """``(id_l, id_r, n_match, j_est)`` for candidate pairs whose
    corrected b-bit estimate meets ``threshold``.

    Two hash joins ship the ``num_perm*b/8``-byte sketches to the pair
    (never the shingles, never the text); slot matching + the Li–König
    correction run in one vectorized uint8 kernel per Arrow batch.
    """
    if b not in _SUPPORTED_B:
        raise ValueError(f"b must be one of {_SUPPORTED_B}, got {b}")
    C = 2.0 ** (-b)

    @F.pandas_udf(T.IntegerType())
    def match_udf(lcol: pd.Series, rcol: pd.Series) -> pd.Series:
        n = len(lcol)
        if n == 0:
            return pd.Series([], dtype="int32")
        lm = np.frombuffer(b"".join(lcol), dtype=np.uint8).reshape(n, -1)
        rm = np.frombuffer(b"".join(rcol), dtype=np.uint8).reshape(n, -1)
        if b == 8:
            m = (lm == rm).sum(axis=1)
        elif b == 16:
            m = (
                (lm.view("<u2") == rm.view("<u2")).sum(axis=1)
            )
        else:
            per = 8 // b
            mask = np.uint8((1 << b) - 1)
            m = np.zeros(n, dtype=np.int64)
            for j in range(per):
                m += (
                    ((lm >> (j * b)) & mask) == ((rm >> (j * b)) & mask)
                ).sum(axis=1)
        return pd.Series(m.astype(np.int32))

    sl = sketches.select(F.col("id").alias("id_l"), F.col("bsig").alias("_bl"))
    sr = sketches.select(F.col("id").alias("id_r"), F.col("bsig").alias("_br"))
    j = pairs.join(sl, "id_l").join(sr, "id_r")
    est = (F.col("n_match") / F.lit(float(num_perm)) - F.lit(C)) / F.lit(1.0 - C)
    return (
        j.select("id_l", "id_r", match_udf("_bl", "_br").alias("n_match"))
        .withColumn("j_est", F.round(est, 6))
        .filter(F.col("j_est") >= threshold)
    )


def bbit_near_dup_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    num_perm: int = 128,
    bands: int = 32,
    rows: int = 4,
    b: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int = 2000,
    seed: int = 1,
) -> DataFrame:
    """End-to-end b-bit near-dup pairs: full-width LSH banding for
    candidates, b-bit sketch verification instead of exact-Jaccard text
    re-read — the shape for corpora where the verify stage's shuffle
    bytes, not the candidate count, are the bottleneck."""
    from .minhash import explode_band_hashes, lsh_candidate_pairs

    sh = shingle_df(df, id_col, text_col, w=w)
    sk = bbit_sketch_bands(
        sh, num_perm=num_perm, bands=bands, rows=rows, b=b, seed=seed
    ).localCheckpoint(eager=True)
    bandsdf = explode_band_hashes(sk.select("id", "bands"))
    pairs, _ = lsh_candidate_pairs(bandsdf, max_bucket_size=max_bucket_size)
    pairs = pairs.localCheckpoint(eager=True)
    return verify_bbit(
        pairs, sk.select("id", "bsig"), num_perm=num_perm, b=b, threshold=threshold
    )


def bbit_estimate_md5(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    num_perm: int = 16,
    b: int = 8,
) -> DataFrame:
    """ORACLE-SIBLING estimator audit: ``(id_l, id_r, n_match, j_est,
    jaccard, abs_err)`` over ALL pairs, with md5-derived slot values a
    SQL engine reproduces bit-for-bit.

    Slot ``p`` of a doc = min over its shingles ``s`` of
    ``md5(p || ':' || s)`` (lexicographic min of the hex string — both
    engines agree); the b-bit value is the LAST ``b/4`` hex chars. All
    pairs, exact Jaccard alongside — the quadratic oracle sibling of
    ``bbit_near_dup_pairs`` (same convention as
    ``embedding.cosine_topk_bruteforce`` vs the LSH path). Pure JVM
    expressions — no UDF; the b-bit correction arithmetic is identical
    to ``verify_bbit``'s.
    """
    if b % 4 != 0:
        raise ValueError("md5 oracle sibling supports b in {4, 8, 12, 16}")
    from .ngrams import gram_strings

    hexch = b // 4
    C = 2.0 ** (-b)
    # STRING shingles (gram_strings), not shingle_df's xxhash64 values —
    # md5 over the span text is what the SQL twin reproduces.
    posting = df.select(
        F.col(id_col).alias("id"),
        F.explode(gram_strings(F.col(text_col), w=w)).alias("s"),
    ).dropDuplicates(["id", "s"])
    slots = (
        posting.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(num_perm - 1))).alias("p"), "s"
        )
        .groupBy("id", "p")
        .agg(
            F.substring(
                F.min(F.md5(F.concat_ws(":", F.col("p").cast("string"), "s"))),
                33 - hexch,
                hexch,
            ).alias("v")
        )
    )
    sizes = posting.groupBy("id").agg(F.count("*").alias("n_sh"))
    # Pairwise slot matches via one p-ordered value array per doc. The
    # p-keyed self-equi-join has only num_perm distinct join keys, so it
    # shuffles num_perm rows PER PAIR (16M rows at 1k docs) into a
    # (id_l, id_r) agg; collapsing to arrays first moves one row per pair
    # through a broadcast loop join instead (measured 5.5x faster, row-
    # identical). Every doc owns all num_perm slots, so the zipped arrays
    # are always aligned and full-length.
    # The O(n^2) all-pairs loop join below is INTENTIONAL: this is the
    # audit tier, whose contract is an estimate for EVERY doc pair (see
    # docstring). Do not "fix" it with banding or candidate pruning.
    sig = slots.groupBy("id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("p", "v"))), lambda s: s["v"]
        ).alias("vs")
    )
    matches = (
        sig.select(F.col("id").alias("id_l"), F.col("vs").alias("_vl"))
        .join(
            sig.select(F.col("id").alias("id_r"), F.col("vs").alias("_vr")),
            F.col("id_l") < F.col("id_r"),
        )
        .select(
            "id_l",
            "id_r",
            F.aggregate(
                F.zip_with("_vl", "_vr", lambda a, b_: (a == b_).cast("long")),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            ).alias("n_match"),
        )
    )
    common = (
        posting.select(F.col("id").alias("id_l"), "s")
        .join(posting.select(F.col("id").alias("id_r"), "s"), "s")
        .filter(F.col("id_l") < F.col("id_r"))
        .groupBy("id_l", "id_r")
        .agg(F.count("*").alias("n_common"))
    )
    est = (F.col("n_match") / F.lit(float(num_perm)) - F.lit(C)) / F.lit(1.0 - C)
    jac = F.col("n_common") / (F.col("n_l") + F.col("n_r") - F.col("n_common"))
    # `matches` covers EVERY pair (each doc owns all num_perm slots, so
    # the p-join emits num_perm rows per pair even with zero matching
    # values); `common` only covers pairs sharing a shingle — left join.
    return (
        matches.join(common, ["id_l", "id_r"], "left")
        .na.fill({"n_common": 0})
        .join(sizes.select(F.col("id").alias("id_l"), F.col("n_sh").alias("n_l")), "id_l")
        .join(sizes.select(F.col("id").alias("id_r"), F.col("n_sh").alias("n_r")), "id_r")
        .select(
            "id_l",
            "id_r",
            "n_match",
            F.round(est, 6).alias("j_est"),
            F.round(jac, 6).alias("jaccard"),
            F.round(F.abs(est - jac), 6).alias("abs_err"),
        )
    )


def bbit_estimate_md5_sql(
    table: str,
    id_expr: str,
    shingles_expr: str,
    num_perm: int = 16,
    b: int = 8,
) -> str:
    """DuckDB twin of ``bbit_estimate_md5`` (``shingles_expr`` must be
    the same shingle-list expression the Spark side used)."""
    hexch = b // 4
    C = 2.0 ** (-b)
    return f"""
        with posting as (
          select distinct {id_expr} as id, unnest({shingles_expr}) as s
          from {table}
        ),
        slots as (
          select id, p,
                 substring(min(md5(p || ':' || s)), {33 - hexch}, {hexch}) as v
          from posting, range(0, {num_perm}) t(p)
          group by 1, 2
        ),
        sizes as (select id, count(*) as n_sh from posting group by 1),
        matches as (
          select l.id as id_l, r.id as id_r,
                 sum(case when l.v = r.v then 1 else 0 end)::bigint as n_match
          from slots l join slots r on l.p = r.p and l.id < r.id
          group by 1, 2
        ),
        common as (
          select l.id as id_l, r.id as id_r, count(*)::bigint as n_common
          from posting l join posting r on l.s = r.s and l.id < r.id
          group by 1, 2
        )
        select m.id_l, m.id_r, m.n_match,
               round((m.n_match::double / {num_perm} - {C})
                     / (1 - {C}), 6) as j_est,
               round(coalesce(c.n_common, 0)::double
                     / (sl.n_sh + sr.n_sh - coalesce(c.n_common, 0)), 6) as jaccard,
               round(abs((m.n_match::double / {num_perm} - {C})
                         / (1 - {C})
                         - coalesce(c.n_common, 0)::double
                           / (sl.n_sh + sr.n_sh - coalesce(c.n_common, 0))),
                     6) as abs_err
        from matches m
        left join common c on m.id_l = c.id_l and m.id_r = c.id_r
        join sizes sl on sl.id = m.id_l
        join sizes sr on sr.id = m.id_r
    """
