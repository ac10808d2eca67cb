"""End-to-end near-duplicate detection + clustering pipeline.

north_rule shape: transcripts → (turn or conversation granularity) →
three candidate paths (MinHash/LSH, SimHash, winnowing-substring) + exact
hash dedup → union of verified pair edges → large-star/small-star connected
components → cluster table, with per-stage materialization (resume from
checkpoint), per-partition lineage rows, and dedup-ratio metrics.

Resumability (SURVEY.md §4.3): when ``checkpoint_dir`` is set, every stage
writes parquet under ``{checkpoint_dir}/{run_id}/{stage}``; a stage whose
``_SUCCESS`` marker exists is read back instead of recomputed, so a killed
job resumes at the first incomplete stage. (On a real cluster the same
layout lands in Iceberg tables; parquet-dir-with-_SUCCESS is the sandbox
equivalent of an Iceberg snapshot commit.)
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from .operators import exactdup, minhash, simhash, substring
from .operators.components import assign_clusters


@dataclass
class DedupConfig:
    """Shingle/signature config — the 'identical config' of the recall
    criterion (BASELINE.json) and the analogue of the reference's
    ``GD::setup`` params (`src/lib.rs:21-41`)."""

    w: int = 5                       # word-shingle width (MinHash path)
    num_perm: int = 128
    bands: int = 32
    rows: int = 4
    # MinHash signature kernel:
    # * "kperm" — num_perm independent (a·h+b) permutations, the textbook
    #   family; O(m·num_perm) memory traffic per doc, measured as the
    #   pipeline's bandwidth-bound non-scaling stage (BASELINE.md r3).
    # * "oph"   — one-permutation hashing (Li'12) via fast similarity
    #   sketching (Dahlgaard-Knudsen-Thorup FOCS'17): multi-round
    #   rehash + bucket-min until every slot fills, O(m + k·log k) —
    #   far less traffic than k-perm on long docs, per-slot collision
    #   probability exactly J at EVERY set size (short turns included),
    #   same banding semantics, verify still exact. The extreme-scale
    #   kernel.
    minhash_scheme: str = "kperm"
    jaccard_threshold: float = 0.7
    char_k: int = 8                  # char-gram width (SimHash path)
    # SimHash candidate generation:
    # * "banding"  — fixed sim_bands×(64/sim_bands)-bit bands; guarantees
    #   every pair at Hamming distance ≤ sim_bands−1 co-buckets, but a
    #   16-bit band's chance-collision stream grows QUADRATICALLY with
    #   corpus size (verify absorbs it here; at extreme scale it is the
    #   dominant cost).
    # * "rotations" — Manku sorted-rotations (WWW'07,
    #   simhash_rotation_candidate_pairs): candidate volume is LINEAR
    #   (≤ sim_tables·sim_window per row) and co-bucketing is guaranteed
    #   for d < 64/sim_prefix_bits (default 7 > banding's 3) — the
    #   extreme-scale mode.
    simhash_mode: str = "banding"
    sim_bands: int = 4
    sim_tables: int = 8
    sim_prefix_bits: int = 8
    sim_window: int = 8
    # rotation prefix buckets hold ~n/2^prefix_bits members BY DESIGN (the
    # sorted window bounds pair volume, not bucket size), so they get their
    # own cap — a collect_list task over 200k (rk, id, fp) structs is
    # ~7 MB, and salting only engages beyond that.
    sim_rotation_max_bucket: int = 200_000
    max_hamming: int = 3
    min_substring_len: int = 200
    max_bucket_size: int = 2000
    # pairs per bucket member (band-graph width): bounds the per-bucket
    # pair blow-up to O(m·K) while CC restores full clusters via chain +
    # band redundancy. None = exact all-pairs (small corpora / oracles).
    neighbor_window: int | None = 8
    # salt-and-keep for buckets over max_bucket_size (SURVEY.md §4.2):
    # hash-split hot buckets into ~cap-sized sub-buckets + chain their
    # representatives — connectivity (and therefore clustering recall) is
    # preserved with O(size) edges instead of dropping the bucket. Audited
    # either way (action='salted'/'dropped').
    salt_oversized: bool = True
    # substring verify: threshold decision only (False) vs exact LCS length
    # (True). Clustering needs the decision; exact length is ~10× slower on
    # long documents.
    substring_exact_length: bool = False
    # Path toggles: the exact path always runs (it is also the
    # canonicalization step); the three near-dup paths can be disabled
    # individually (e.g. the oracle-checkable exact+minhash+substring
    # subset, or a minhash-only fast pass).
    enable_minhash: bool = True
    enable_simhash: bool = True
    enable_substring: bool = True
    # Submit the three candidate paths as CONCURRENT Spark jobs (driver
    # threads; Spark schedules fairly across them — guide §2.6). Before the
    # lazy-stage/pinned-base work this measured 35% WORSE on a saturated
    # single-JVM local[N] box (3× python workers + 3× concurrent shuffles
    # fighting one memory system); with the chains now barrier-bound it
    # measured 23% (oracle shape) to 39% (full 4-path) FASTER, ABAB
    # min-of-4 at sf0.1 — the overlap fills the driver-barrier gaps of one
    # chain with another chain's stages. On a multi-executor cluster the
    # same overlap keeps executors busy across per-stage barriers. Default
    # on; GD_CONCURRENT_PATHS=0 restores sequential submission.
    concurrent_paths: bool = field(
        default_factory=lambda: os.environ.get("GD_CONCURRENT_PATHS", "1") != "0"
    )
    seed: int = 1


@dataclass
class PipelineResult:
    clusters: DataFrame              # (id, cluster_id)
    pairs: DataFrame                 # (id_l, id_r, path, score)
    metrics: DataFrame               # (run_id, stage, rows, wall_ms)
    lineage: DataFrame               # (run_id, stage, partition_id, rows)
    audits: dict = field(default_factory=dict)
    # (id, text) in the caller's id space, backed by the pipeline's pinned
    # ``base`` stage — survivorship/encoding consumers join texts against
    # THIS instead of re-evaluating the caller's input plan (often a full
    # scan + the caller's own upstream shuffles). None for results loaded
    # from disk (read_outputs).
    source: DataFrame | None = None


class _StageRunner:
    """Materialize-or-resume per stage + lineage/metrics bookkeeping.

    ``collect_stats=False`` skips the per-stage partition-count job (a full
    extra pass over each stage's output) — rows are recorded as -1 and the
    lineage table is empty. Bench/scaling runs use this; correctness runs
    keep the default.
    """

    def __init__(
        self,
        spark,
        checkpoint_dir: str | None,
        run_id: str,
        collect_stats: bool = True,
    ):
        import threading

        self.spark = spark
        self.dir = checkpoint_dir
        self.run_id = run_id
        self.collect_stats = collect_stats
        self.metrics: list[tuple] = []
        self.lineage: list[tuple] = []
        self._lock = threading.Lock()  # stages run from concurrent threads

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, self.run_id, stage)

    def _committed(self, stage: str) -> bool:
        return os.path.exists(os.path.join(self._path(stage), "_SUCCESS"))

    def run(
        self,
        stage: str,
        build,
        lazy: bool = False,
        local_only: bool = False,
    ) -> DataFrame:
        """``lazy=True`` marks a stage whose output is consumed at most
        once downstream (verify-pair frames, the pair union) or is an
        optional side-product (skew-audit frames): with no checkpoint_dir
        AND ``collect_stats=False`` it is returned unmaterialized — the
        single consumer's action evaluates it exactly once from the
        already-checkpointed upstream stages, and an unread audit costs
        zero jobs (guide §1.2: don't compute what you throw away — every
        removed ``localCheckpoint`` barrier is one fewer driver
        round-trip + eager job). With ``collect_stats=True`` (the
        default) the stage materializes as before, so the documented
        metrics/lineage contract — a real row count for EVERY stage, and
        a ``PipelineResult.pairs`` that multiple consumers (e.g.
        ``write_outputs``) can read without re-running verify joins —
        holds exactly; bench/cluster-only callers opt into the lean mode
        explicitly. With a checkpoint_dir the stage still materializes so
        resumed runs keep their parquet and the resume contract is
        unchanged.

        ``local_only=True`` marks a REUSE point that is worth pinning in
        executor memory interactively but not worth a full parquet write
        in resume mode (the ``base`` stage: id-hashed corpus text — in
        resume mode downstream stages inline it, exactly the pre-round-6
        plan shape)."""
        from .session import job_description

        t0 = time.monotonic()
        resumed = False
        if self.dir is None and lazy and not self.collect_stats:
            # build() may still run eager sub-jobs (bucket-count pins,
            # emptiness probes): label them like a materialized stage's
            with job_description(self.spark.sparkContext, f"stage:{stage}"):
                out = build()
            with self._lock:
                self.metrics.append(
                    (self.run_id, stage, -1,
                     int((time.monotonic() - t0) * 1000), False)
                )
            return out
        if self.dir is not None and local_only:
            # inline in resume mode — not a materialized stage, so it has
            # no metrics row (a fully-resumed run stays all-resumed)
            return build()
        if self.dir is None:
            # label the stage's jobs (guide §1.5) — build() may itself run
            # eager sub-jobs (internal checkpoints/probes), so set the
            # description around the whole block
            with job_description(
                self.spark.sparkContext, f"stage:{stage}"
            ):
                out = build().localCheckpoint(eager=True)
        elif self._committed(stage):
            out = self.spark.read.parquet(self._path(stage))
            resumed = True
        else:
            build().write.mode("overwrite").parquet(self._path(stage))
            out = self.spark.read.parquet(self._path(stage))
        if self.collect_stats:
            part_rows = (
                out.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"))
                .collect()
            )
            total = sum(r.rows for r in part_rows)
        else:
            part_rows, total = [], -1
        wall_ms = int((time.monotonic() - t0) * 1000)
        with self._lock:
            self.metrics.append((self.run_id, stage, total, wall_ms, resumed))
            self.lineage.extend(
                (self.run_id, stage, int(r.pid), int(r.rows)) for r in part_rows
            )
        return out

    def metrics_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.metrics, "run_id string, stage string, rows long, wall_ms long, resumed boolean"
        )

    def lineage_df(self) -> DataFrame:
        return self.spark.createDataFrame(
            self.lineage, "run_id string, stage string, partition_id int, rows long"
        )


def with_turn_uid(transcripts: DataFrame) -> DataFrame:
    """uid = conv_id:turn_idx — the stable per-turn key (input_hint)."""
    return transcripts.withColumn(
        "uid", F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )


def reassemble_conversations(transcripts: DataFrame) -> DataFrame:
    """``(uid=conv_id, text)`` — turns concatenated under STABLE turn
    ordering (sort_array over (turn_idx, text) structs; one shuffle by
    conv_id, no global sort). The Spark form of the reference's in-order
    chunk stream (`src/gd_byte_unit.rs:55-65`)."""
    return (
        transcripts.groupBy("conv_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("turn_idx", "text"))),
                    lambda s: s["text"],
                ),
                "\n",
            ).alias("text")
        )
        .select(F.col("conv_id").alias("uid"), "text")
    )


def near_dup_pipeline(
    df: DataFrame,
    id_col: str = "uid",
    text_col: str = "text",
    cfg: DedupConfig | None = None,
    checkpoint_dir: str | None = None,
    run_id: str = "run-0",
    collect_stats: bool = True,
) -> PipelineResult:
    """The full dedup DAG. ``df`` must have unique ``id_col`` values."""
    cfg = cfg or DedupConfig()
    spark = df.sparkSession
    runner = _StageRunner(spark, checkpoint_dir, run_id, collect_stats=collect_stats)

    src = df.select(F.col(id_col).alias("orig_id"), F.col(text_col).alias("text"))
    # Internal node key: xxhash64 of the caller id. Every downstream stage
    # (shingles, bands, postings, pairs, CC) shuffles compact int64 keys
    # instead of ~18-byte uid strings — at 10^12 turns the shuffle byte
    # count IS the job cost. The original id is joined back at the end;
    # a 64-bit collision can only merge two clusters, never corrupt ids
    # (same contract as assign_clusters).
    #
    # The keyed corpus is pinned ONCE (guide §2.4/§1.2): exact_groups,
    # reps and the final id join-back all read it, where the previous
    # shape re-evaluated the caller's plan (a full input scan, often with
    # the caller's own window/shuffle upstream) three times per run.
    # local_only: in resume mode a parquet write of the whole corpus text
    # is not worth the reuse — stages inline it exactly as before.
    keyed = runner.run(
        "base",
        lambda: src.select(
            "orig_id", F.xxhash64("orig_id").alias("id"), "text"
        ),
        local_only=True,
    )
    base = keyed.select("id", "text")

    # --- exact path -------------------------------------------------------
    exact_groups = runner.run(
        "exact_groups", lambda: exactdup.exact_dup_groups(base, "id", "text")
    )
    exact_pairs = exactdup.exact_dup_pairs(exact_groups)

    # Canonicalization: every near-dup path runs on ONE representative per
    # exact-text group; exact star edges re-attach the copies through
    # connected components (transitive closure ⇒ identical final clusters).
    # At web scale this is the load-bearing reduction — candidate-join and
    # verify cost scale with DISTINCT content, not corpus size, and verbatim
    # boilerplate collapses to one node instead of flooding LSH buckets.
    reps = runner.run(
        "reps",
        lambda: exact_groups.filter(F.col("id") == F.col("canonical_id"))
        .select("id")
        .join(base, "id"),
    )

    runner_audits: dict = {}

    def _staged_candidates(name: str, build_cands):
        """Materialize a candidate-pair stage AND its skew-audit frame as
        two resumable stages sharing one (memoized) build. On resume both
        read back from parquet, so ``PipelineResult.audits`` is populated
        on resumed runs too — oversized buckets are never silently
        invisible just because the run restarted."""
        cache: dict = {}

        def _memo():
            if "r" not in cache:
                cache["r"] = build_cands()
            return cache["r"]

        cand = runner.run(f"{name}_cands", lambda: _memo()[0])
        audit = runner.run(f"{name}_skew_audit", lambda: _memo()[1], lazy=True)
        return cand, audit

    # --- MinHash/LSH path -------------------------------------------------
    def _mh_chain():
        shingles = runner.run(
            "shingles", lambda: minhash.shingle_df(reps, "id", "text", w=cfg.w)
        )

        def _mh_cands():
            # Checkpoint the FUSED band-hash table (bands longs/row — see
            # minhash.minhash_band_hashes), not the num_perm-long signature
            # or the bands×-exploded band table: bucket_pairs scans its
            # input twice (count agg + prune join), and without this the
            # signature kernel — the path's dominant cost — ran twice.
            bh = minhash.minhash_band_hashes(
                shingles, cfg.num_perm, cfg.bands, cfg.rows, cfg.seed,
                scheme=cfg.minhash_scheme,
            ).localCheckpoint(eager=True)
            bands = minhash.explode_band_hashes(bh)
            return minhash.lsh_candidate_pairs(
                bands, cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
                salt_oversized=cfg.salt_oversized,
            )

        cand, audit = _staged_candidates("minhash", _mh_cands)
        runner_audits["lsh_skew"] = audit
        # lazy: the verify joins read only checkpointed frames (cand,
        # shingles) and feed exactly one consumer — the pair union.
        return runner.run(
            "minhash_pairs",
            lambda: minhash.verify_jaccard(cand, shingles, cfg.jaccard_threshold),
            lazy=True,
        )

    # --- SimHash path -------------------------------------------------------
    def _sh_chain():
        # fused text→fp kernel: no JVM gram-string explosion, 8× less
        # Arrow traffic than char_ngram_df → simhash_fingerprints. The fp
        # table is compact (one int64 per rep) — staging it makes the band
        # explode a cheap JVM re-derivation for both consumers below.
        fps = runner.run(
            "simhash_fps",
            lambda: simhash.simhash_fingerprints_from_text(
                reps, "id", "text", k=cfg.char_k
            ),
        )

        _sh_cache: dict = {}

        def _sh_cands():
            # memoized: building the candidate DAG runs eager sub-jobs
            # (bucket-count checkpoint + oversized probe inside
            # bucket_pairs); the audit stage and the verify stage must
            # share ONE build, not pay those jobs twice.
            if "r" in _sh_cache:
                return _sh_cache["r"]
            if cfg.simhash_mode == "rotations":
                r = simhash.simhash_rotation_candidate_pairs(
                    fps,
                    tables=cfg.sim_tables,
                    prefix_bits=cfg.sim_prefix_bits,
                    window=cfg.sim_window,
                    max_bucket_size=cfg.sim_rotation_max_bucket,
                    salt_oversized=cfg.salt_oversized,
                )
            elif cfg.simhash_mode == "banding":
                banded = simhash.simhash_bands(fps, bands=cfg.sim_bands)
                r = simhash.simhash_candidate_pairs(
                    banded,
                    cfg.max_bucket_size,
                    neighbor_window=cfg.neighbor_window,
                    materialize=False,
                    salt_oversized=cfg.salt_oversized,
                )
            else:
                raise ValueError(f"unknown simhash_mode {cfg.simhash_mode!r}")
            _sh_cache["r"] = r
            return r

        # the audit derives from the compact bucket-count agg — persist it
        # as its own stage. The raw 16-bit-band collision stream is
        # quadratic in corpus size and is deliberately NEVER staged: the
        # JVM Hamming filter in verify fuses over it before anything
        # materializes.
        runner_audits["simhash_skew"] = runner.run(
            "simhash_skew_audit", lambda: _sh_cands()[1], lazy=True
        )
        return runner.run(
            "simhash_pairs",
            lambda: simhash.verify_hamming(_sh_cands()[0], cfg.max_hamming),
            lazy=True,
        )

    # --- substring path -----------------------------------------------------
    def _ss_chain():
        def _ss_cands():
            k = max(16, cfg.min_substring_len // 3)
            w = cfg.min_substring_len - k + 1
            fps = substring.winnow_fingerprints(reps, "id", "text", k=k, w=w)
            return substring.substring_candidate_pairs(
                fps, cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
                salt_oversized=cfg.salt_oversized,
            )

        cand, audit = _staged_candidates("substring", _ss_cands)
        runner_audits["substring_skew"] = audit
        return runner.run(
            "substring_pairs",
            lambda: substring.verify_common_substring(
                cand, reps, "id", "text", cfg.min_substring_len,
                exact_length=cfg.substring_exact_length,
            ),
            lazy=True,
        )

    # The three candidate paths are independent DAGs over `reps`. Default
    # is SEQUENTIAL: measured on a saturated 32-core local[N] box,
    # concurrent submission made the wall 35% WORSE — 3x the python UDF
    # workers and 3x the concurrent shuffles fight for the same memory
    # bandwidth. cfg.concurrent_paths=True submits them from driver
    # threads instead — the multi-executor-cluster mode, where overlapping
    # one chain's narrow/barrier stages with another's wide stages is what
    # keeps executors busy (see DedupConfig.concurrent_paths).
    chains = []
    if cfg.enable_minhash:
        chains.append((
            _mh_chain,
            lambda mh: mh.select("id_l", "id_r", F.lit("minhash").alias("path"),
                                 F.col("jaccard").alias("score")),
        ))
    if cfg.enable_simhash:
        chains.append((
            _sh_chain,
            lambda sh: sh.select("id_l", "id_r", F.lit("simhash").alias("path"),
                                 (1.0 - F.col("hamming_dist") / 64.0).alias("score")),
        ))
    if cfg.enable_substring:
        chains.append((
            _ss_chain,
            lambda ss: ss.select("id_l", "id_r", F.lit("substring").alias("path"),
                                 F.col("common_len").cast("double").alias("score")),
        ))
    if cfg.concurrent_paths and len(chains) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(chains)) as pool:
            futs = [pool.submit(build) for build, _ in chains]
            path_pairs = [sel(f.result()) for f, (_, sel) in zip(futs, chains)]
    else:
        path_pairs = [sel(build()) for build, sel in chains]

    # --- union + clustering ---------------------------------------------------
    def _all_pairs():
        out = exact_pairs.select(
            "id_l", "id_r", F.lit("exact").alias("path"), F.lit(1.0).alias("score")
        )
        for p in path_pairs:
            out = out.unionByName(p)
        return out

    # lazy: every input of the union is either checkpointed (cands,
    # shingles, exact_groups) or a cheap derivation of one; the single
    # consumer is the CC edge canonicalization inside the clusters stage,
    # which materializes the union exactly once.
    pairs = runner.run("pairs", _all_pairs, lazy=True)

    def _clusters():
        # CC runs over the REP-LEVEL near-dup graph only; exact-dup members
        # attach to their canonical rep's component through one join
        # afterwards. Identical final partitions (near-dup edges exist only
        # between reps, and each exact group is a star around its rep), but
        # the iterative rounds never shuffle the exact stars — at scale the
        # largest edge class and the skewed one (hot boilerplate groups put
        # 10⁴+ member edges on one key; rep-graph nodes are distinct
        # content, so hot keys collapse to single nodes).
        near = pairs.filter(F.col("path") != "exact").dropDuplicates(
            ["id_l", "id_r"]
        )
        # Reliable CC checkpointing rides the pipeline's checkpoint_dir:
        # when stage resume is on, the CC iterations inside the clusters
        # stage also survive executor loss (mid-iteration truncations go
        # to {checkpoint_dir}/{run_id}/_cc instead of executor memory).
        cc_dir = (
            os.path.join(checkpoint_dir, run_id, "_cc")
            if checkpoint_dir
            else None
        )
        rep_clusters = assign_clusters(
            reps.select("id"), near, "id", checkpoint_dir=cc_dir
        )
        expanded = exact_groups.select("id", "canonical_id").join(
            rep_clusters.select(
                F.col("id").alias("canonical_id"), "cluster_id"
            ),
            "canonical_id",
        )
        return (
            keyed.select("orig_id", "id")
            .join(expanded.select("id", "cluster_id"), "id")
            .select(F.col("orig_id").alias("id"), "cluster_id")
        )

    clusters = runner.run("clusters", _clusters)

    return PipelineResult(
        clusters=clusters,
        pairs=pairs,
        metrics=runner.metrics_df(),
        lineage=runner.lineage_df(),
        audits=runner_audits,
        source=keyed.select(F.col("orig_id").alias("id"), "text"),
    )


def canonical_clusters(clusters: DataFrame) -> DataFrame:
    """Relabel ``(id, cluster_id)`` with cluster_id = min(id) per cluster.

    The internal cluster label is an xxhash64-derived int64 (content-
    addressed, no global counter); this makes labels deterministic IN TERMS
    OF THE CALLER'S IDS — the form an external system (or a SQL oracle's
    recursive-CTE components) can reproduce exactly. One small agg + one
    broadcast-able join.
    """
    labels = clusters.groupBy("cluster_id").agg(F.min("id").alias("label"))
    return clusters.join(labels, "cluster_id").select(
        "id", F.col("label").alias("cluster_id")
    )


def cluster_representatives(
    clusters: DataFrame,
    src: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Canonical-member selection: for each dedup cluster, the member to
    KEEP for training — longest text (most complete version), ties broken
    by smallest id — plus survivorship stats.

    This is the output analogue of the reference's base/deviation split
    (`src/lib.rs:90-94`: `Deduped` keeps one base per dictionary entry and
    records deviations): of a near-dup cluster we keep one representative
    and account for the bytes the rest would have cost.

    Scale notes: a single hash aggregation on ``cluster_id`` — partial
    (map-side) aggregation applies, so a mega-cluster of boilerplate
    costs O(|cluster|) combiner work spread over its input partitions,
    never a single-task window. The rep is picked with
    ``min(struct(-octet_length, id))`` (lexicographic struct ordering)
    inside the same agg, so the whole operator is one shuffle.

    Returns ``(cluster_id, rep_id, cluster_size, total_bytes,
    kept_bytes)`` where ``total_bytes``/``kept_bytes`` are UTF-8 byte
    counts (NULL text counts as '' per the engine's NULL doctrine).
    """
    members = clusters.join(
        src.select(
            F.col(id_col).alias("id"),
            F.octet_length(F.coalesce(F.col(text_col), F.lit(""))).alias("_nb"),
        ),
        "id",
    )
    best = F.min(
        F.struct((-F.col("_nb")).alias("neg_nb"), F.col("id").alias("id"))
    ).alias("_best")
    return (
        members.groupBy("cluster_id")
        .agg(
            F.count("*").alias("cluster_size"),
            F.sum("_nb").cast("long").alias("total_bytes"),
            best,
        )
        .select(
            "cluster_id",
            F.col("_best.id").alias("rep_id"),
            "cluster_size",
            "total_bytes",
            (-F.col("_best.neg_nb")).cast("long").alias("kept_bytes"),
        )
    )


def write_outputs(result: PipelineResult, out_dir: str, run_id: str = "run-0") -> dict:
    """Persist the pipeline's output contract — the engine's analogue of the
    reference's ``Deduped`` output struct (`src/lib.rs:90-94`):

        {out_dir}/{run_id}/clusters/   (id, cluster_id)
        {out_dir}/{run_id}/pairs/      (id_l, id_r, path, score)
        {out_dir}/{run_id}/metrics/    (run_id, stage, rows, wall_ms, resumed)
        {out_dir}/{run_id}/lineage/    (run_id, stage, partition_id, rows)
        {out_dir}/{run_id}/audits/<name>/  skew-audit frames
        {out_dir}/{run_id}/manifest.json

    Parquet-dir-with-_SUCCESS is the sandbox stand-in for an Iceberg
    snapshot commit (SURVEY.md §1.2/§4.3); on a real cluster these are
    ``df.writeTo(tbl).append()`` calls. Returns the manifest dict.
    """
    import json

    base = os.path.join(out_dir, run_id)
    tables = {"clusters": result.clusters, "pairs": result.pairs,
              "metrics": result.metrics, "lineage": result.lineage}
    manifest: dict = {"run_id": run_id, "tables": {}, "audits": {}}
    for name, df_ in tables.items():
        path = os.path.join(base, name)
        df_.write.mode("overwrite").parquet(path)
        manifest["tables"][name] = {"path": path, "schema": df_.schema.simpleString()}
    for name, adf in result.audits.items():
        path = os.path.join(base, "audits", name)
        adf.write.mode("overwrite").parquet(path)
        manifest["audits"][name] = {"path": path, "rows": adf.count()}
    # manifest last: its existence marks a complete, readable output set
    with open(os.path.join(base, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def read_outputs(spark, out_dir: str, run_id: str = "run-0") -> PipelineResult:
    """Load a persisted output set back into a ``PipelineResult``."""
    import json

    base = os.path.join(out_dir, run_id)
    with open(os.path.join(base, "manifest.json")) as fh:
        manifest = json.load(fh)
    t = {n: spark.read.parquet(m["path"]) for n, m in manifest["tables"].items()}
    audits = {n: spark.read.parquet(m["path"]) for n, m in manifest["audits"].items()}
    return PipelineResult(
        clusters=t["clusters"], pairs=t["pairs"], metrics=t["metrics"],
        lineage=t["lineage"], audits=audits,
    )


def write_gd_outputs(chunks: DataFrame, out_dir: str, run_id: str = "run-0") -> dict:
    """Persist the GD decomposition contract: ``bases(base_id, base,
    n_refs)`` and ``deviations(conv_id, chunk_idx, base_id, deviation,
    last_chunk_pad)`` — together lossless (reconstruct = deviations ⋈ bases
    → gd_reconstruct). Reference analogue: the packed record stream
    `src/gd_byte_unit.rs:78-98`, as columnar tables."""
    import json

    from .gd.spark import assign_base_ids

    base = os.path.join(out_dir, run_id)
    bases, with_id = assign_base_ids(chunks)
    paths = {"bases": os.path.join(base, "bases"),
             "deviations": os.path.join(base, "deviations")}
    bases.write.mode("overwrite").parquet(paths["bases"])
    with_id.select(
        "conv_id", "chunk_idx", "base_id", "deviation", "last_chunk_pad"
    ).write.mode("overwrite").parquet(paths["deviations"])
    manifest = {"run_id": run_id, "tables": paths}
    with open(os.path.join(base, "gd_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
    return manifest


def read_gd_outputs(spark, out_dir: str, run_id: str = "run-0") -> DataFrame:
    """Inverse of ``write_gd_outputs``: join deviations back to bases,
    returning the full chunk table gd_reconstruct expects."""
    base = os.path.join(out_dir, run_id)
    bases = spark.read.parquet(os.path.join(base, "bases"))
    devs = spark.read.parquet(os.path.join(base, "deviations"))
    return devs.join(bases.select("base_id", "base"), "base_id").select(
        "conv_id", "chunk_idx", "base", "deviation", "last_chunk_pad"
    )


def dedup_metrics(clusters: DataFrame) -> DataFrame:
    """Corpus-level dedup ratio — the reference's printed dedup-rate
    observability (`src/lib.rs:131-135`), relationally."""
    return clusters.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("cluster_id").alias("n_clusters"),
        (1.0 - F.countDistinct("cluster_id") / F.count("*")).alias("dup_fraction"),
    )
