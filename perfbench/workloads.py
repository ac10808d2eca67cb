"""The benchmark's workloads: seeded input, one timed iteration, the traced
run, and the checks on each output.

Every traced call passes exactly the arguments ``near_dup_pipeline`` (or the
workload's own untraced iteration) passes, and forces its output with
``localCheckpoint(eager=True)``, the pipeline's own stage boundary.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from rust_gd_spark import streaming
from rust_gd_spark.fixtures import synth_transcripts, transcripts_spark
from rust_gd_spark.gd import spark as gds
from rust_gd_spark.gd.rs import ReedSolomon
from rust_gd_spark.operators import convdedup, exactdup, minhash, simhash, substring
from rust_gd_spark.operators.components import assign_clusters
from rust_gd_spark.pipeline import DedupConfig, near_dup_pipeline, with_turn_uid

from harness import pair_recall, partition_digest

TURNS_PER_CONV = 20
# The config bench.py uses for its headline pipeline run.
HEADLINE = {"jaccard_threshold": 0.5, "min_substring_len": 120}
# The headline config finds 0.83-0.88 of the planted pairs on this input
# size; falling below the floor is a correctness failure.
TURNS_RECALL_FLOOR = 0.8
# Streaming covers the exact and MinHash paths only, so only the generator
# kinds those paths target count towards its recall.
STREAM_KINDS = ("exact", "near_token")
STREAM_BATCHES = 3
# GD code parameters the gd.spark functions default to.
RS_N, RS_K = 128, 124


def pin(df):
    return df.localCheckpoint(eager=True)


def text_bytes(pdf: pd.DataFrame) -> int:
    return int(pdf["text"].map(lambda t: len(t.encode("utf-8"))).sum())


class Workload:
    """Shared input handling. Subclasses define ``make_corpus``,
    ``iteration``, ``outcome`` and ``traced``."""

    n_conv = 100

    def __init__(self, spark, seed: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.work = work_dir
        self.df = None
        self._builds = 0

    def make_corpus(self):
        return synth_transcripts(
            seed=self.seed, n_conv=self.n_conv, turns_per_conv=TURNS_PER_CONV
        )

    def build_input(self) -> None:
        """Generate the corpus, write it as parquet and read it back."""
        self.corpus = self.make_corpus()
        self.pdf = self.corpus.transcripts
        self.n_turns = len(self.pdf)
        self.text_bytes = text_bytes(self.pdf)
        path = os.path.join(self.work, f"input-{self._builds}")
        self._builds += 1
        transcripts_spark(self.spark, self.corpus).write.mode("overwrite").parquet(path)
        self.df = self.spark.read.parquet(path)
        if self.df.count() != self.n_turns:
            raise RuntimeError("input row count changed on read-back")


# ---------------------------------------------------------------------------
# turns: the batch headline
# ---------------------------------------------------------------------------


class Turns(Workload):
    recall_floor = TURNS_RECALL_FLOOR

    def expected_pairs(self, kinds=None):
        ex = self.corpus.expected_pairs
        if kinds is not None:
            ex = ex[ex["kind"].isin(kinds)]
        return list(zip(ex["uid_l"], ex["uid_r"]))

    def iteration(self) -> dict:
        t0 = time.perf_counter()
        res = near_dup_pipeline(
            with_turn_uid(self.df), "uid", "text", DedupConfig(**HEADLINE),
            collect_stats=False,
        )
        n = res.clusters.count()
        return {"wall": time.perf_counter() - t0, "clusters": res.clusters, "rows": n}

    def outcome(self, it: dict) -> dict:
        rows = [(r.id, r.cluster_id) for r in it["clusters"].collect()]
        recall = pair_recall(self.expected_pairs(), dict(rows))
        errors = []
        if it["rows"] != self.n_turns or len(rows) != self.n_turns:
            errors.append(f"clusters hold {it['rows']} rows, input {self.n_turns}")
        if recall < self.recall_floor:
            errors.append(f"pair_recall {recall:.4f} < {self.recall_floor}")
        return {"digest": partition_digest(rows), "recall": recall, "errors": errors}

    def traced(self, tr, counts: dict) -> tuple[list, list[str]]:
        """``near_dup_pipeline`` at the headline config, one layer call at a
        time in pipeline order. Returns the traced cluster rows and no
        errors (the caller compares the rows with the timed runs)."""
        cfg = DedupConfig(**HEADLINE)
        src = with_turn_uid(self.df).select(
            F.col("uid").alias("orig_id"), F.col("text").alias("text")
        )
        with tr.span("pipeline"):
            with tr.span("pipeline.base"):
                keyed = pin(src.select("orig_id", F.xxhash64("orig_id").alias("id"), "text"))
            base = keyed.select("id", "text")
            with tr.span("exactdup"):
                groups = pin(exactdup.exact_dup_groups(base, "id", "text"))
                exact_pairs = exactdup.exact_dup_pairs(groups)
                reps = pin(
                    groups.filter(F.col("id") == F.col("canonical_id"))
                    .select("id").join(base, "id")
                )
            with tr.span("minhash"):
                with tr.span("minhash.shingle"):
                    sh = pin(minhash.shingle_df(reps, "id", "text", w=cfg.w))
                with tr.span("minhash.bands"):
                    bh = pin(minhash.minhash_band_hashes(
                        sh, cfg.num_perm, cfg.bands, cfg.rows, cfg.seed,
                        scheme=cfg.minhash_scheme,
                    ))
                    bands = minhash.explode_band_hashes(bh)
                with tr.span("minhash.candidates"):
                    mh_cand = pin(minhash.lsh_candidate_pairs(
                        bands, cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
                        salt_oversized=cfg.salt_oversized,
                    )[0])
                with tr.span("minhash.verify"):
                    mh = pin(minhash.verify_jaccard(mh_cand, sh, cfg.jaccard_threshold))
            with tr.span("simhash"):
                with tr.span("simhash.fingerprint"):
                    fps = pin(simhash.simhash_fingerprints_from_text(
                        reps, "id", "text", k=cfg.char_k
                    ))
                with tr.span("simhash.pairs"):
                    sh_cand = simhash.simhash_candidate_pairs(
                        simhash.simhash_bands(fps, bands=cfg.sim_bands),
                        cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
                        materialize=False, salt_oversized=cfg.salt_oversized,
                    )[0]
                    shp = pin(simhash.verify_hamming(sh_cand, cfg.max_hamming))
            with tr.span("substring"):
                k = max(16, cfg.min_substring_len // 3)
                w = cfg.min_substring_len - k + 1
                with tr.span("substring.winnow"):
                    wf = pin(substring.winnow_fingerprints(reps, "id", "text", k=k, w=w))
                with tr.span("substring.candidates"):
                    ss_cand = pin(substring.substring_candidate_pairs(
                        wf, cfg.max_bucket_size, neighbor_window=cfg.neighbor_window,
                        salt_oversized=cfg.salt_oversized,
                    )[0])
                with tr.span("substring.verify"):
                    ssp = pin(substring.verify_common_substring(
                        ss_cand, reps, "id", "text", cfg.min_substring_len,
                        exact_length=cfg.substring_exact_length,
                    ))
            pairs = exact_pairs.select(
                "id_l", "id_r", F.lit("exact").alias("path")
            )
            for name, p in (("minhash", mh), ("simhash", shp), ("substring", ssp)):
                pairs = pairs.unionByName(
                    p.select("id_l", "id_r", F.lit(name).alias("path"))
                )
            near = pairs.filter(F.col("path") != "exact").dropDuplicates(["id_l", "id_r"])
            with tr.span("components"):
                rep_clusters = pin(assign_clusters(reps.select("id"), near, "id"))
            with tr.span("pipeline.clusters"):
                expanded = groups.select("id", "canonical_id").join(
                    rep_clusters.select(F.col("id").alias("canonical_id"), "cluster_id"),
                    "canonical_id",
                )
                clusters = pin(
                    keyed.select("orig_id", "id")
                    .join(expanded.select("id", "cluster_id"), "id")
                    .select(F.col("orig_id").alias("id"), "cluster_id")
                )
        counts.update(
            rows=keyed.count(),
            reps=reps.count(),
            minhash_cands=mh_cand.count(),
            minhash_pairs=mh.count(),
            simhash_pairs=shp.count(),
            substring_cands=ss_cand.count(),
            substring_pairs=ssp.count(),
            cc_edges=near.count(),
        )
        rows = [(r.id, r.cluster_id) for r in clusters.collect()]
        label = dict(rows)
        counts["recall_by_kind"] = {
            kind: pair_recall(self.expected_pairs([kind]), label)
            for kind in self.corpus.expected_pairs["kind"].unique()
        }
        return rows, []

    def traced_stream(self, tr, counts: dict) -> list[str]:
        """The same turns as ``STREAM_BATCHES`` micro-batches through
        ``streaming.process_batch`` into a fresh state dir, then
        ``compact_clusters``; checked against ``near_dup_pipeline`` on the
        union at the matched exact+MinHash config. Returns check errors."""
        state = os.path.join(self.work, "stream-state")
        shutil.rmtree(state, ignore_errors=True)
        turns = with_turn_uid(self.df)
        convs = sorted(self.pdf["conv_id"].unique())
        step = len(convs) // STREAM_BATCHES
        with tr.span("streaming"):
            for b in range(STREAM_BATCHES):
                lo = convs[b * step]
                hi = convs[-1] if b == STREAM_BATCHES - 1 else convs[(b + 1) * step - 1]
                batch = turns.filter(F.col("conv_id").between(lo, hi)).select("uid", "text")
                with tr.span("streaming.epoch"):
                    streaming.process_batch(batch, state, threshold=0.7, collect_stats=False)
            counts["state_bytes"] = dir_bytes(state)
            with tr.span("streaming.compact"):
                inc = pin(streaming.compact_clusters(self.spark, state))
        inc_rows = [(r.id, r.cluster_id) for r in inc.collect()]
        ref = near_dup_pipeline(
            turns, "uid", "text",
            DedupConfig(
                jaccard_threshold=0.7, enable_simhash=False, enable_substring=False,
                neighbor_window=None,
            ),
        )
        ref_rows = [(r.id, r.cluster_id) for r in ref.clusters.collect()]
        counts["stream_recall"] = pair_recall(
            self.expected_pairs(STREAM_KINDS), dict(inc_rows)
        )
        if partition_digest(inc_rows) != partition_digest(ref_rows):
            return ["compact_clusters differs from near_dup_pipeline on the union"]
        return []


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


# ---------------------------------------------------------------------------
# convs: conversation-level dedup and the GD round trip
# ---------------------------------------------------------------------------

# Share of conversations that are logged a second time with one turn
# dropped: the re-log pattern conversation-level dedup exists for.
RELOG_SHARE = 0.1
CONVS_RECALL_FLOOR = 1.0


class Convs(Workload):
    def make_corpus(self):
        corpus = super().make_corpus()
        pdf = corpus.transcripts
        rng = np.random.default_rng(self.seed + 7919)
        conv_ids = sorted(pdf["conv_id"].unique())
        picks = rng.choice(len(conv_ids), size=int(len(conv_ids) * RELOG_SHARE), replace=False)
        copies, pairs = [], []
        for p in sorted(picks):
            orig = conv_ids[p]
            turns = pdf[pdf["conv_id"] == orig].sort_values("turn_idx")
            drop = int(rng.integers(1, len(turns)))
            copy = turns.drop(turns.index[drop]).copy()
            copy["conv_id"] = f"{orig}-relog"
            copy["turn_idx"] = np.arange(len(copy), dtype=np.int32)
            copy["ts"] = copy["ts"] + pd.Timedelta(days=1)
            copies.append(copy)
            pairs.append((orig, f"{orig}-relog"))
        corpus.transcripts = pd.concat([pdf, *copies], ignore_index=True)
        corpus.extras["relog_pairs"] = pairs
        return corpus

    def iteration(self) -> dict:
        t0 = time.perf_counter()
        clusters = pin(convdedup.conversation_dup_clusters(self.df))
        t1 = time.perf_counter()
        chunks = pin(gds.gd_decompose(self.df))
        t2 = time.perf_counter()
        bases, with_id = gds.assign_base_ids(chunks)
        d = bases.agg(
            F.count("*").alias("n_bases"), F.sum("n_refs").alias("n_chunks")
        ).collect()[0]
        t3 = time.perf_counter()
        rec = gds.gd_reconstruct(
            with_id.select("conv_id", "chunk_idx", "base", "deviation", "last_chunk_pad")
        )
        bad = mismatches(rec, self.df)
        t4 = time.perf_counter()
        return {
            "wall": t4 - t0, "clusters": clusters, "mismatches": bad,
            "n_bases": int(d.n_bases), "n_chunks": int(d.n_chunks),
            "phases": {"convdedup": t1 - t0, "decompose": t2 - t1,
                       "dict": t3 - t2, "reconstruct": t4 - t3},
        }

    def outcome(self, it: dict) -> dict:
        rows = [(r.conv, r.cluster_id) for r in it["clusters"].collect()]
        recall = pair_recall(self.corpus.extras["relog_pairs"], dict(rows))
        errors = []
        if it["mismatches"]:
            errors.append(f"GD round trip changed {it['mismatches']} turns")
        if recall < CONVS_RECALL_FLOOR:
            errors.append(f"re-log pair_recall {recall:.4f} < {CONVS_RECALL_FLOOR}")
        return {"digest": partition_digest(rows), "recall": recall, "errors": errors}

    def gd_bytes_ratio(self, it: dict) -> float:
        """Distinct base bytes plus deviation and base-id bytes, per byte of
        turn text."""
        stored = it["n_bases"] * RS_K + it["n_chunks"] * (RS_N - RS_K + 8)
        return stored / self.text_bytes

    def traced(self, tr, counts: dict) -> tuple[list, list[str]]:
        """The timed iteration one layer call at a time, each output forced.
        Returns the conversation cluster rows and the round-trip errors."""
        with tr.span("convs"):
            with tr.span("convdedup"):
                clusters = pin(convdedup.conversation_dup_clusters(self.df))
            with tr.span("gd"):
                with tr.span("gd.decompose"):
                    chunks = pin(gds.gd_decompose(self.df))
                with tr.span("gd.dict"):
                    bases, with_id = gds.assign_base_ids(chunks)
                    bases = pin(bases)
                    with_id = pin(with_id)
                with tr.span("gd.reconstruct"):
                    rec = pin(gds.gd_reconstruct(with_id.select(
                        "conv_id", "chunk_idx", "base", "deviation", "last_chunk_pad"
                    )))
            with tr.span("check"):
                counts["mismatches"] = mismatches(rec, self.df)
        counts.update(
            convdedup_pairs=convdedup.conversation_dup_pairs(self.df).count(),
            n_bases=bases.count(),
            n_chunks=chunks.count(),
        )
        rows = [(r.conv, r.cluster_id) for r in clusters.collect()]
        bad = counts["mismatches"]
        return rows, [f"traced GD round trip changed {bad} turns"] if bad else []

    def rs_kernel_mb_s(self, repeats: int = 3) -> float:
        """``ReedSolomon.decode`` alone, on the driver, one thread, over the
        chunks of this input (each conversation serialized as the Spark
        path serializes it, its tail zero-padded to a whole chunk)."""
        bufs = []
        for _, g in self.pdf.sort_values(["conv_id", "turn_idx"]).groupby("conv_id"):
            raw = gds.serialize_turns(g["turn_idx"].astype(int).tolist(), g["text"].tolist())
            arr = np.frombuffer(raw, dtype=np.uint8)
            bufs.append(np.concatenate([arr, np.zeros(-len(arr) % RS_N, np.uint8)]))
        chunks = np.concatenate(bufs).reshape(-1, RS_N)
        code = ReedSolomon(RS_N, RS_K)
        times = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            code.decode(chunks)
            times.append(time.perf_counter() - t0)
        return chunks.nbytes / 1e6 / sorted(times)[len(times) // 2]


def mismatches(rec, src) -> int:
    """Rows of ``(conv_id, turn_idx, text)`` present on one side only or
    with different text: the GD round-trip invariant is that this is 0."""
    a = rec.select("conv_id", "turn_idx", F.col("text").alias("t_rec"))
    b = src.select("conv_id", "turn_idx", F.col("text").alias("t_src"))
    return (
        a.join(b, ["conv_id", "turn_idx"], "full")
        .filter(~F.col("t_rec").eqNullSafe(F.col("t_src")))
        .count()
    )


WORKLOADS = {"turns": Turns, "convs": Convs}
