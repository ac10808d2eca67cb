"""Document containment pairs — asymmetric near-dup detection.

Jaccard is symmetric, so it structurally misses SUBSET documents: a page
fully contained in a 10× longer page scores J = |A|/|B| ≈ 0.1 and
survives every Jaccard-threshold dedup, yet it contributes zero novel
tokens. Containment ``c(A→B) = |A∩B| / |A|`` scores it 1.0. The classic
cases: quote-inflated reposts, truncated re-crawls, aggregator pages,
and (for transcripts) sessions embedded in longer sessions —
``convdedup`` already measures containment at TURN-set granularity;
this operator is the document/shingle-set analogue.

Exact computation via the shared inverted-index join
(``minhash._set_overlap_pairs``; never O(n²)): ``max_df`` drops stopword
shingles before pairing, the standard scale guard. Output carries BOTH
directions plus the symmetric max, so one pass serves "drop the subset"
and "flag the superset" policies.

Scale note (honest): LSH banding's collision probability follows
JACCARD, so a low-J/high-containment pair is invisible to MinHash band
candidate generation — there is no banding fix (Broder's containment
estimator still needs a candidate). At corpus scale the candidate
generators for containment are (a) the winnowing substring index
(``substring.py``), which catches verbatim containment spans directly,
and (b) this operator's ``max_df``-guarded inverted index when shingle
posting lists are bounded. This module is the exact/oracle path, same
contract as ``exact_jaccard_pairs`` vs the MinHash approximations.

Reference analogue: a chunk whose base matches a dictionary entry with
deviation 0 is contained verbatim (`src/dict.rs:38-63`); containment
generalizes that to "most of A's spans occur in B".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .minhash import _set_overlap_pairs, shingle_df


def exact_containment_pairs(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    w: int = 5,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """``(id_l, id_r, n_common, containment_l, containment_r,
    containment, jaccard)`` for every pair whose MAX-direction
    containment meets ``threshold`` (``id_l < id_r``;
    ``containment_l = |∩| / |shingles(id_l)|``, ``containment`` is the
    max of the two directions; all ratios 6-dp rounded — the engine-wide
    oracle contract)."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # Pin the shingle table: sizes and the posting explode both read it,
    # and the shingle kernel is a pandas-UDF subtree — never an
    # exchange-reuse candidate — so unpinned it ran once per consumer
    # (0.79x interleaved with the pin). Calibration-tier exact operator:
    # the pinned table is bounded by the slice it is pointed at.
    sh = shingle_df(df, id_col, text_col, w=w).localCheckpoint(eager=True)
    # shingle_df arrays are distinct per row: postings need no dedup
    pairs, _ = _set_overlap_pairs(
        sh.select("id", F.explode("shingles").alias("s")),
        sh.select("id", F.size("shingles").alias("n")),
        df_cap=max_df,
    )
    out = pairs.select(
        "id_l",
        "id_r",
        F.col("inter").alias("n_common"),
        F.round(F.col("inter") / F.col("n_l"), 6).alias("containment_l"),
        F.round(F.col("inter") / F.col("n_r"), 6).alias("containment_r"),
        F.round(F.col("inter") / F.least("n_l", "n_r"), 6).alias("containment"),
        F.round(
            F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter")), 6
        ).alias("jaccard"),
    )
    return out.filter(F.col("containment") >= threshold)


def exact_containment_pairs_sql(
    table: str,
    id_expr: str,
    shingles_expr: str,
    threshold: float = 0.8,
) -> str:
    """DuckDB twin of ``exact_containment_pairs`` (exact config,
    max_df=None); ``shingles_expr`` must be the Spark side's shingle
    expression."""
    return f"""
        with posting as (
          select distinct {id_expr} as id, unnest({shingles_expr}) as s
          from {table}
        ),
        sizes as (select id, count(*) as n from posting group by 1),
        common as (
          select l.id as id_l, r.id as id_r, count(*)::bigint as n_common
          from posting l join posting r on l.s = r.s and l.id < r.id
          group by 1, 2
        )
        select c.id_l, c.id_r, c.n_common,
               round(c.n_common::double / sl.n, 6) as containment_l,
               round(c.n_common::double / sr.n, 6) as containment_r,
               round(c.n_common::double / least(sl.n, sr.n), 6) as containment,
               round(c.n_common::double / (sl.n + sr.n - c.n_common), 6)
                 as jaccard
        from common c
        join sizes sl on sl.id = c.id_l
        join sizes sr on sr.id = c.id_r
        where round(c.n_common::double / least(sl.n, sr.n), 6) >= {threshold}
    """
