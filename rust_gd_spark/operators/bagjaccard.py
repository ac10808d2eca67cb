"""Multiset (bag) Jaccard near-dup detection.

Set-Jaccard (``operators/minhash.py``) treats a document as the SET of
its w-shingles, which conflates two very different documents: a page
and the same page with one sentence repeated 500 times (crawler-trap
pagination, templated spam, agent loops that escaped turn-level
collapse) have nearly identical shingle SETS. Bag Jaccard scores the
multiset overlap instead::

    J_bag(A, B) = Σ_g min(cnt_A(g), cnt_B(g)) / Σ_g max(cnt_A(g), cnt_B(g))

so a doubled document scores ≈ 0.5 against its original, and
repetition-inflated variants separate cleanly from true near-dups.
With totals ``T_A = Σ cnt_A`` the denominator is ``T_A + T_B − Σ min``,
so one pairwise sum suffices.

Relation to the reference engine: where set dedup treats a repeated
chunk as one dictionary entry, the reference's byte stream keeps each
OCCURRENCE (every repeated chunk is replaced by its id again —
`src/gd_byte_unit.rs` dedup loop emits one id per chunk, not per
distinct chunk). Bag Jaccard is the similarity measure consistent with
that occurrence-preserving view.

Scale notes (the 100 TB shape):

* the multiset is computed by the SAME Arrow prefix-poly kernel as set
  shingles (``minhash._shingle_hash_batch(counted=True)``) — one pass,
  values + occurrence counts, no gram strings;
* :func:`bag_jaccard_pairs` is the EXACT form: the shared
  inverted-index join ``minhash._set_overlap_pairs`` weighted by
  occurrence count (Σ min per pair), the oracle-verifiable operator.
  At corpus scale, generate candidates with LSH first and verify those
  pairs with :func:`verify_bag_jaccard` — banding collision tracks SET
  Jaccard, which upper-bounds bag Jaccard
  (min/max ≤ set intersection/union termwise), so an LSH recall bound
  at threshold t is also a recall bound for bag-Jaccard ≥ t;
* :func:`verify_bag_jaccard` joins the per-doc (values, counts) arrays
  onto a bounded candidate-pair table and computes Σ min in one
  Arrow-vectorized kernel — no explode of the corpus.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

from .minhash import _set_overlap_pairs, _shingle_hash_batch, normalize_text


def shingle_count_df(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    chunk_bytes: int = 1 << 20,
) -> DataFrame:
    """``(id, shingles array<long>, cnts array<int>, total bigint)``.

    The multiset sibling of ``minhash.shingle_df``: same normalization,
    same injective span-hash kernel, plus each distinct shingle's
    occurrence count and the multiset's total size (Σ cnts, i.e. the
    number of w-gram positions — what the bag-Jaccard denominator
    needs without re-aggregating the array).
    """
    _CHUNK_BYTES = chunk_bytes

    @F.pandas_udf(
        T.StructType(
            [
                T.StructField("shingles", T.ArrayType(T.LongType())),
                T.StructField("cnts", T.ArrayType(T.IntegerType())),
                T.StructField("total", T.LongType()),
            ]
        )
    )
    def counted_udf(norm: pd.Series) -> pd.DataFrame:
        texts = list(norm)
        vals: list[np.ndarray] = []
        cnts: list[np.ndarray] = []
        i, n_rows = 0, len(texts)
        while i < n_rows:
            j, tot = i, 0
            while j < n_rows and (tot == 0 or tot + len(texts[j]) <= _CHUNK_BYTES):
                tot += len(texts[j])
                j += 1
            for v, c in _shingle_hash_batch(texts[i:j], w, counted=True):
                vals.append(v)
                cnts.append(c)
            i = j
        return pd.DataFrame(
            {
                "shingles": vals,
                "cnts": cnts,
                "total": [int(c.sum()) for c in cnts],
            }
        )

    out = df.select(
        F.col(id_col).alias("id"),
        counted_udf(normalize_text(F.col(text_col))).alias("_sh"),
    )
    return out.select("id", "_sh.shingles", "_sh.cnts", "_sh.total")


def bag_jaccard_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT all-pairs multiset w-shingle Jaccard ≥ threshold.

    ``minhash._set_overlap_pairs`` over (shingle, count) postings with
    Σ min(c_l, c_r) as the intersection and multiset totals as sizes.
    ``max_df`` drops shingles present in more than max_df documents
    before pairing (stopword-shingle guard; None = exact). Output
    ``(id_l, id_r, bag_jaccard)`` rounded to 6dp.
    """
    # Pin the counted-shingle table: totals and the posting explode both
    # read it, and the multiset kernel is a pandas-UDF subtree exchange
    # reuse never covers — unpinned it ran twice (0.70x interleaved with
    # the pin). Calibration-tier exact operator; one array row per doc.
    sh = shingle_count_df(df, id_col, text_col, w=w).localCheckpoint(eager=True)
    posting = sh.select(
        "id", F.explode(F.arrays_zip("shingles", "cnts")).alias("p")
    ).select("id", F.col("p.shingles").alias("s"), F.col("p.cnts").alias("c"))
    pairs, _ = _set_overlap_pairs(
        posting, sh.select("id", F.col("total").alias("n")), df_cap=max_df,
        weight="c",
    )
    return pairs.select(
        "id_l",
        "id_r",
        F.round(
            F.col("inter").cast("double")
            / (F.col("n_l") + F.col("n_r") - F.col("inter")).cast("double"),
            6,
        ).alias("bag_jaccard"),
    ).filter(F.col("bag_jaccard") >= threshold)


def verify_bag_jaccard(
    pairs: DataFrame, sh: DataFrame, threshold: float = 0.5
) -> DataFrame:
    """Bag Jaccard on a bounded candidate-pair table (the scale path).

    ``pairs``: (id_l, id_r); ``sh``: output of :func:`shingle_count_df`.
    The per-doc (sorted values, counts) arrays ride the two hash joins;
    Σ min is one vectorized merge per pair inside an Arrow batch kernel —
    the corpus posting table is never exploded or shuffled.
    """

    @F.pandas_udf(T.DoubleType())
    def bagj_udf(
        vl: pd.Series, cl: pd.Series, vr: pd.Series, cr: pd.Series,
        tl: pd.Series, tr: pd.Series,
    ) -> pd.Series:
        out = np.zeros(len(vl), dtype=np.float64)
        for i in range(len(vl)):
            # kernel sorts values as uint64; the int64 Arrow view wraps
            # large hashes negative, so restore uint64 before searchsorted
            a = np.asarray(vl[i], dtype=np.int64).view(np.uint64)
            b = np.asarray(vr[i], dtype=np.int64).view(np.uint64)
            ca, cb = np.asarray(cl[i]), np.asarray(cr[i])
            if len(a) == 0 or len(b) == 0:
                continue
            pos = np.searchsorted(b, a)
            pos_c = np.clip(pos, 0, len(b) - 1)
            hit = b[pos_c] == a
            m = int(np.minimum(ca[hit], cb[pos_c[hit]]).sum())
            out[i] = m / (int(tl[i]) + int(tr[i]) - m)
        return pd.Series(np.round(out, 6))

    # the whole Σmin + division + round happens in the kernel, and the
    # flag (deterministic in fact) stops Catalyst pushing the threshold
    # filter through and evaluating the kernel a second time — the
    # embedding dot-kernel pattern (embedding.py:512)
    bagj_udf = bagj_udf.asNondeterministic()

    sl = sh.select(
        F.col("id").alias("id_l"),
        F.col("shingles").alias("vl"),
        F.col("cnts").alias("cl"),
        F.col("total").alias("tl"),
    )
    sr = sh.select(
        F.col("id").alias("id_r"),
        F.col("shingles").alias("vr"),
        F.col("cnts").alias("cr"),
        F.col("total").alias("tr"),
    )
    j = pairs.join(sl, "id_l").join(sr, "id_r")
    return (
        j.select(
            "id_l",
            "id_r",
            bagj_udf("vl", "cl", "vr", "cr", "tl", "tr").alias("bag_jaccard"),
        )
        .filter(F.col("bag_jaccard") >= threshold)
    )


def bag_jaccard_pairs_sql(
    table: str,
    id_col: str,
    shingles_expr: str,
    threshold: float = 0.5,
) -> str:
    """ANSI-SQL twin of :func:`bag_jaccard_pairs` (DuckDB-ready).

    ``shingles_expr`` is a SQL expression producing the list of string
    w-grams WITH multiplicity (the repo's ``_SHINGLES`` macro); hash
    injectivity makes the hashed Spark form equivalent.
    """
    return f"""
        with sh as (
          select {id_col} as id, unnest({shingles_expr}) as s from {table}
        ),
        cnt as (select id, s, count(*) as c from sh group by 1, 2),
        tot as (select id, sum(c) as t from cnt group by 1),
        common as (
          select l.id as id_l, r.id as id_r, sum(least(l.c, r.c)) as m
          from cnt l join cnt r on l.s = r.s and l.id < r.id
          group by 1, 2
        ),
        bj as (
          select c.id_l, c.id_r,
                 round(c.m::double / (tl.t + tr.t - c.m), 6) as bag_jaccard
          from common c
          join tot tl on tl.id = c.id_l
          join tot tr on tr.id = c.id_r
        )
        select id_l, id_r, bag_jaccard from bj
        where bag_jaccard >= {threshold}
    """
