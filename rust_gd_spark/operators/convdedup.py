"""Conversation-level dedup over multi-turn transcripts.

The transcript-native dedup granularity the document operators don't
cover: two CONVERSATIONS are duplicates when their TURN SETS overlap —
the "same conversation re-logged with a turn dropped / retried /
re-ordered" case (agent-trace corpora are full of these: a retried run
shares every turn up to the divergence point). Document-level MinHash
over the joined text misses turn reorderings and scores a 9-of-10-turn
re-log by token overlap instead of by turn overlap; this operator works
on the set of normalized turn fingerprints, so it is insensitive to turn
order and exact about turn membership.

Reference analogue: the GD dictionary matches whole chunk BASES after
deviation is stripped (`src/dict.rs:38-63`, `DESIGN.md:62-109`); here a
conversation's "base" is its set of normalized turn hashes and the
"deviation" (ignored) is turn order + dropped/added turns below the
threshold.

Similarity measures over turn sets A, B:

* ``jaccard``     = |A∩B| / |A∪B|   — symmetric near-dup;
* ``containment`` = |A∩B| / min(|A|,|B|) — subset re-logs (a strict
  prefix re-log scores 1.0 regardless of the longer run's extra turns).

Scale design (10^9 conversations, 10^12 turns):

* One partial-agg shuffle builds the distinct ``(conv, turn_hash)`` set
  and per-conv sizes ride the same exchange.
* Candidate pairs come from the shared turn-hash inverted-index join
  (``minhash._set_overlap_pairs``): the intersection is counted
  exactly, not estimated, so no signatures are needed.
* Hot turns are the hazard: a boilerplate greeting shared by 10^6
  conversations posts a 10^12-pair bucket. ``df_cap`` drops turn hashes
  whose conversation frequency exceeds the cap BEFORE the self-join
  (same philosophy as the MinHash bucket caps in `_buckets.py`).
  Dropped hashes are counted in the audit so the recall trade is
  visible, and common/ubiquitous turns are exactly the ones that carry
  no dedup signal. ``df_cap=None`` (the oracle config) is exact.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, functions as F

from .components import assign_clusters
from .minhash import _set_overlap_pairs, normalize_text


@dataclass
class ConvDedupAudit:
    n_convs: int
    n_distinct_turn_hashes: int
    n_capped_hashes: int


def conversation_turn_sets(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """``(conv, h)`` — the DISTINCT normalized-turn-hash set per
    conversation. Normalization is ``minhash.normalize_text`` (the
    engine-wide base/deviation knob), so turn fingerprints, document
    shingles, and CDC chunks all describe the same token stream."""
    return transcripts.select(
        F.col(conv_col).alias("conv"),
        F.md5(normalize_text(F.col(text_col))).alias("h"),
    ).dropDuplicates(["conv", "h"])


def conversation_dup_pairs(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    threshold: float = 0.8,
    measure: str = "jaccard",
    df_cap: int | None = None,
    with_audit: bool = False,
):
    """``(conv_l, conv_r, n_common, jaccard, containment)`` for every
    conversation pair whose ``measure`` meets ``threshold``
    (``conv_l < conv_r``; both measures are emitted, the filter applies
    to the chosen one; 6-dp rounding, the engine-wide oracle contract).

    ``df_cap``: drop turn hashes appearing in more than this many
    conversations before pairing (see module docstring). None = exact.
    ``with_audit=True`` returns ``(pairs_df, ConvDedupAudit)``.
    """
    _check_args(threshold, measure)
    sets = conversation_turn_sets(transcripts, conv_col, text_col).localCheckpoint(
        eager=True
    )
    return _dup_pairs_from_sets(sets, threshold, measure, df_cap, with_audit)


def _check_args(threshold: float, measure: str) -> None:
    """Public entry points call this before their eager turn-set pin, so a
    bad argument raises without running a Spark job."""
    if measure not in ("jaccard", "containment"):
        raise ValueError(f"unknown measure {measure!r}")
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")


def _dup_pairs_from_sets(
    sets: DataFrame,
    threshold: float,
    measure: str,
    df_cap: int | None,
    with_audit: bool,
):
    """Pair scoring over a prebuilt — and already PINNED — ``(conv, h)``
    turn-set table: the size agg, both inverted-index join sides and
    (with ``df_cap``) the document-frequency agg otherwise each re-ran
    the caller's upstream plan through the distinct (the pipeline's
    base-stage rule applied to the turn-set table). Callers pin so the
    cluster path can share the same copy for its id universe.

    Validation lives HERE (not only in the public wrapper) so every
    entry point — including the cluster path that hands its own pinned
    sets — keeps the clean ValueError contract."""
    _check_args(threshold, measure)
    sizes = sets.groupBy("conv").agg(F.count("*").alias("n"))
    pairs, hot = _set_overlap_pairs(sets, sizes, df_cap=df_cap)
    scored = pairs.select(
        F.col("id_l").alias("conv_l"),
        F.col("id_r").alias("conv_r"),
        F.col("inter").alias("n_common"),
        F.round(
            F.col("inter") / (F.col("n_l") + F.col("n_r") - F.col("inter")), 6
        ).alias("jaccard"),
        F.round(F.col("inter") / F.least("n_l", "n_r"), 6).alias("containment"),
    ).filter(F.col(measure) >= threshold)
    if not with_audit:
        return scored
    capped = 0 if hot is None else hot.count()
    n_convs = sizes.count()
    # hot ⊆ the hashes of sets, so this is the post-cap distinct count
    n_hashes = sets.select("h").distinct().count() - capped
    return scored, ConvDedupAudit(n_convs, n_hashes, capped)


def conversation_dup_clusters(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    text_col: str = "text",
    threshold: float = 0.8,
    measure: str = "jaccard",
    df_cap: int | None = None,
    small_graph_rows: int | None = None,
) -> DataFrame:
    """``(conv, cluster_id)`` for EVERY conversation: connected
    components over the qualifying pair graph (cluster survivorship =
    keep one re-log per cluster). Singletons keep their own hash id —
    the same contract as ``assign_clusters``."""
    # One turn-set build feeds pairing AND the id universe: every
    # transcript row yields a (conv, h) row (md5 of normalized text is
    # never NULL), so the conv set of `sets` equals the input's — the
    # separate transcripts.distinct() re-scan was a second evaluation of
    # the caller's plan. `_dup_pairs_from_sets` pins sets; ids read the
    # pinned copy (pre-df_cap, so a fully-capped conversation still
    # keeps its cluster row).
    _check_args(threshold, measure)
    sets = conversation_turn_sets(transcripts, conv_col, text_col).localCheckpoint(
        eager=True
    )
    pairs = _dup_pairs_from_sets(sets, threshold, measure, df_cap, False).select(
        F.col("conv_l").alias("id_l"), F.col("conv_r").alias("id_r")
    )
    ids = sets.select("conv").distinct()
    return assign_clusters(
        ids, pairs, "conv", small_graph_rows=small_graph_rows
    ).select(F.col("id").alias("conv"), "cluster_id")


def tool_masked_fingerprints(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str | None = "tool",
    tool_roles: tuple[str, ...] = ("tool",),
) -> DataFrame:
    """``(conv, n_turns, masked_key)`` — one ORDER-SENSITIVE conversation
    fingerprint with nondeterministic tool output masked out.

    Agent transcripts re-run against live tools differ ONLY in tool-turn
    text (timestamps, request ids, retry jitter); every content-hash
    dedup scores them as distinct and turn-set Jaccard
    (``conversation_dup_pairs``) is dragged below threshold by the tool
    turns. Here each turn contributes ``md5(role ␟ text)`` EXCEPT turns
    whose role is in ``tool_roles``, which contribute
    ``md5(role ␟ tool-name)`` — the tool IDENTITY still matters (a run
    that called a different tool is not a re-run) but its output does
    not. The conversation key is the md5 of the turn hashes in turn
    order, so insertions/deletions/reorderings still break the match
    (this is exact-modulo-tool-output, not fuzzy).

    Reference analogue: GD's base/deviation split (`DESIGN.md:62-109`)
    with the tool output AS the deviation — the dictionary matches on
    the base (role structure + non-tool content) and discards the
    deviation entirely.

    Plan: one partial-agg shuffle on ``conv`` (sort_array(collect_list)
    — turn hashes are 32 bytes, so per-group state is bounded by session
    length, not text volume). No window, no join.
    """
    is_tool = F.col(role_col).isin(*tool_roles)
    tool_name = (
        F.coalesce(F.col(tool_col), F.lit("")) if tool_col is not None else F.lit("")
    )
    turn_h = F.md5(
        F.concat_ws(
            "\x1f",
            F.coalesce(F.col(role_col), F.lit("")),
            F.when(is_tool, tool_name).otherwise(
                F.coalesce(F.col(text_col), F.lit(""))
            ),
        )
    )
    return (
        transcripts.select(
            F.col(conv_col).alias("conv"),
            F.col(order_col).alias("_ord"),
            turn_h.alias("_h"),
        )
        .groupBy("conv")
        .agg(
            F.count("*").cast("int").alias("n_turns"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("_ord", "_h"))),
                        lambda s: s["_h"],
                    ),
                    "",
                )
            ).alias("masked_key"),
        )
    )


def tool_masked_dup_groups(
    transcripts: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    text_col: str = "text",
    role_col: str = "role",
    tool_col: str | None = "tool",
    tool_roles: tuple[str, ...] = ("tool",),
) -> DataFrame:
    """``(conv, n_turns, masked_key, canonical_conv, group_size)`` —
    exact-dup grouping on the tool-masked fingerprint (the
    ``exactdup.py`` agg-join shape: a boilerplate conversation re-run
    10^6 times is one compact group row + an AQE-splittable join back,
    never a per-key window). canonical_conv = min(conv) in the group.
    """
    fp = tool_masked_fingerprints(
        transcripts, conv_col, order_col, text_col, role_col, tool_col, tool_roles
    )
    groups = fp.groupBy("masked_key").agg(
        F.min("conv").alias("canonical_conv"), F.count("*").alias("group_size")
    )
    return fp.join(groups, "masked_key").select(
        "conv", "n_turns", "masked_key", "canonical_conv", "group_size"
    )


def tool_masked_dup_groups_sql(
    table: str,
    conv_expr: str = "conv_id",
    order_expr: str = "turn_idx",
    text_expr: str = "text",
    role_expr: str = "role",
    tool_expr: str = "tool",
    tool_roles: tuple[str, ...] = ("tool",),
) -> str:
    """DuckDB twin of ``tool_masked_dup_groups`` (bit-exact: same md5
    turn hashes, same ordered concatenation, same grouping)."""
    roles = ", ".join(f"'{r}'" for r in tool_roles)
    turn_h = (
        f"md5(coalesce({role_expr}, '') || chr(31) || "
        f"case when {role_expr} in ({roles}) then coalesce({tool_expr}, '') "
        f"else coalesce({text_expr}, '') end)"
    )
    return f"""
        with fp as (
          select {conv_expr} as conv,
                 count(*)::int as n_turns,
                 md5(string_agg({turn_h}, ''
                     order by {order_expr}, {turn_h})) as masked_key
          from {table}
          group by 1
        ),
        grp as (
          select masked_key, min(conv) as canonical_conv,
                 count(*)::bigint as group_size
          from fp group by 1
        )
        select f.conv, f.n_turns, f.masked_key, g.canonical_conv, g.group_size
        from fp f join grp g using (masked_key)
    """


def conversation_dup_pairs_sql(
    table: str,
    conv_expr: str,
    text_expr: str,
    threshold: float,
    measure: str = "jaccard",
) -> str:
    """DuckDB twin of ``conversation_dup_pairs`` (exact config,
    df_cap=None)."""
    norm = (
        f"trim(regexp_replace(lower(coalesce({text_expr}, '')),"
        " '[^a-z0-9]+', ' ', 'g'))"
    )
    return f"""
        with sets as (
          select distinct {conv_expr} as conv, md5({norm}) as h
          from {table}
        ),
        sizes as (select conv, count(*) as n from sets group by 1),
        common as (
          select l.conv as conv_l, r.conv as conv_r, count(*)::bigint as n_common
          from sets l join sets r on l.h = r.h and l.conv < r.conv
          group by 1, 2
        )
        select c.conv_l, c.conv_r, c.n_common,
               round(c.n_common::double / (sl.n + sr.n - c.n_common), 6) as jaccard,
               round(c.n_common::double / least(sl.n, sr.n), 6) as containment
        from common c
        join sizes sl on sl.conv = c.conv_l
        join sizes sr on sr.conv = c.conv_r
        where round(c.n_common::double /
              {"(sl.n + sr.n - c.n_common)" if measure == "jaccard" else "least(sl.n, sr.n)"},
              6) >= {threshold}
    """
