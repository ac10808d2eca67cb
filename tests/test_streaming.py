"""Incremental (streaming) dedup: per-batch state evolution, a real
Structured Streaming run over a file source, and compaction equivalence
with the batch pipeline at matched config."""

import pytest
from pyspark.sql import functions as F

from rust_gd_spark import streaming as st
from rust_gd_spark.pipeline import DedupConfig, near_dup_pipeline, with_turn_uid


def _clusters_as_partition(df):
    """cluster assignment -> frozenset of frozensets (label-free)."""
    rows = df.collect()
    by = {}
    for r in rows:
        by.setdefault(r.cluster_id, set()).add(r.id)
    return frozenset(frozenset(v) for v in by.values())


@pytest.fixture()
def turn_batches(small_corpus):
    """The fixture corpus split into three row-disjoint batches."""
    pdf = small_corpus.transcripts
    n = len(pdf)
    return [pdf.iloc[: n // 3], pdf.iloc[n // 3 : 2 * n // 3], pdf.iloc[2 * n // 3 :]]


def test_incremental_matches_batch_pipeline(spark, small_corpus, turn_batches, tmp_path):
    state = str(tmp_path / "state")
    for part in turn_batches:
        df = with_turn_uid(
            spark.createDataFrame(part[["conv_id", "turn_idx", "text"]])
        ).select("uid", "text")
        st.process_batch(df, state, threshold=0.7)

    inc = st.compact_clusters(spark, state)

    full = with_turn_uid(
        spark.createDataFrame(
            small_corpus.transcripts[["conv_id", "turn_idx", "text"]]
        )
    )
    # matched config: exact + minhash only (the incremental path's scope)
    res = near_dup_pipeline(
        full, "uid", "text",
        DedupConfig(
            jaccard_threshold=0.7, enable_simhash=False, enable_substring=False,
            neighbor_window=None,
        ),
    )
    assert _clusters_as_partition(inc) == _clusters_as_partition(res.clusters)


def test_incremental_state_counters(spark, turn_batches, tmp_path):
    """Exact dups arriving in a later batch must attach to the EARLIER
    batch's canonical id, and their content keys must not re-enter the
    store."""
    state = str(tmp_path / "state")
    df0 = with_turn_uid(
        spark.createDataFrame(turn_batches[0][["conv_id", "turn_idx", "text"]])
    ).select("uid", "text")
    c0 = st.process_batch(df0, state)
    # replay batch 0 verbatim: zero new keys, zero new edges
    c_replay = st.process_batch(df0, state)
    assert c_replay["rows"] == c0["rows"]
    assert c_replay["new_keys"] == 0
    assigns = spark.read.parquet(f"{state}/assignments")
    # every replayed row resolves to the original canonical (one per key)
    keys = spark.read.parquet(f"{state}/content_keys")
    assert keys.groupBy("content_key").count().filter("count > 1").count() == 0
    assert assigns.filter(F.col("canonical_id").isNull()).count() == 0


def test_streaming_null_text(spark, tmp_path):
    """NULL text keys as '' (the batch NULL doctrine): rows are never
    dropped from assignments, and repeated batches must not accumulate
    duplicate content-key rows for the NULL/'' key."""
    state = str(tmp_path / "state")
    rows = [("a", None), ("b", "some genuinely unique text here"), ("c", "")]
    df = spark.createDataFrame(rows, "uid string, text string")
    st.process_batch(df, state)
    st.process_batch(
        spark.createDataFrame([("d", None)], "uid string, text string"), state
    )
    assigns = spark.read.parquet(f"{state}/assignments")
    assert assigns.count() == 4  # nothing dropped
    got = {r.uid: r.canonical_id for r in assigns.collect()}
    assert got["a"] == got["c"] == got["d"] == "a"  # NULL ≡ '' shares a key
    keys = spark.read.parquet(f"{state}/content_keys")
    assert keys.filter(F.col("content_key").isNull()).count() == 0
    assert keys.groupBy("content_key").count().filter("count > 1").count() == 0


def test_streaming_history_join_cap_and_audit(spark, tmp_path):
    """A band key whose total posting count exceeds max_bucket_size is
    excluded from the batch-vs-history join (no |new|x|hist| blow-up) and
    audited to the band_audits store — mirroring bucket_pairs."""
    # 6 near-identical texts share (almost) all band hashes; cap of 4
    # makes their shared keys hot once history holds 3+ postings.
    texts = [
        (f"u{i}", "alpha beta gamma delta epsilon zeta eta theta iota "
                  f"kappa lambda mu nu xi omicron pi rho variant{i}")
        for i in range(6)
    ]
    state = str(tmp_path / "state")
    mk = lambda rs: spark.createDataFrame(rs, "uid string, text string")
    st.process_batch(mk(texts[:3]), state, max_bucket_size=4)
    st.process_batch(mk(texts[3:]), state, max_bucket_size=4)
    audits = spark.read.parquet(f"{state}/band_audits")
    dropped = audits.filter(F.col("action") == "dropped")
    assert dropped.count() > 0
    assert dropped.agg(F.min("bucket_size")).collect()[0][0] > 4
    # pairs through non-hot keys still verified (recall via band redundancy)
    edges = spark.read.parquet(f"{state}/edges")
    assert edges.count() > 0


def test_store_commit_order(spark, tmp_path, monkeypatch):
    """A crash must never leave band postings without their shingle sets
    (later epochs' verify inner-joins candidates to the shingle store and
    would drop them silently): content_keys, then shingles, commit
    before any other store write starts."""
    import os
    import time

    from pyspark.sql.readwriter import DataFrameWriter

    spans = {}
    orig = DataFrameWriter.parquet

    def timed(self, path, *args, **kwargs):
        t0 = time.monotonic()
        try:
            return orig(self, path, *args, **kwargs)
        finally:
            spans[os.path.basename(path)] = (t0, time.monotonic())

    monkeypatch.setattr(DataFrameWriter, "parquet", timed)
    texts = [
        (f"u{i}", f"alpha beta gamma delta epsilon zeta eta theta v{i % 3}")
        for i in range(6)
    ]
    st.process_batch(
        spark.createDataFrame(texts, "uid string, text string"),
        str(tmp_path / "state"),
    )
    assert {"content_keys", "shingles", "bands", "edges", "assignments"} <= set(
        spans
    )
    assert spans["content_keys"][1] <= spans["shingles"][0]
    rest = [t0 for name, (t0, _) in spans.items()
            if name not in ("content_keys", "shingles")]
    assert spans["shingles"][1] <= min(rest)


def test_compact_state_mid_stream(spark, turn_batches, tmp_path):
    """compact_state between micro-batches must not change the final
    clusters (dedup/partition rewrite is semantics-free), and it bounds
    the store file count."""
    import glob

    ref_state = str(tmp_path / "ref")
    cmp_state = str(tmp_path / "cmp")
    dfs = [
        with_turn_uid(
            spark.createDataFrame(p[["conv_id", "turn_idx", "text"]])
        ).select("uid", "text")
        for p in turn_batches
    ]
    for d in dfs:
        st.process_batch(d, ref_state, threshold=0.7)
    st.process_batch(dfs[0], cmp_state, threshold=0.7)
    st.process_batch(dfs[1], cmp_state, threshold=0.7)
    stats = st.compact_state(spark, cmp_state, partitions=2)
    assert stats["content_keys"] > 0 and stats["bands"] > 0
    st.process_batch(dfs[2], cmp_state, threshold=0.7)

    ref = _clusters_as_partition(st.compact_clusters(spark, ref_state))
    got = _clusters_as_partition(st.compact_clusters(spark, cmp_state))
    assert ref == got
    # bands store is partitioned by band_idx after compaction
    assert glob.glob(f"{cmp_state}/bands/band_idx=*"), "partitioned rewrite"


def test_compact_state_age_bound(spark, tmp_path):
    """max_epoch_age evicts old state (the reference dict's LRU analogue,
    src/dict.rs:50-63): a text seen only before the horizon re-enters as
    a NEW canonical afterwards."""
    state = str(tmp_path / "state")
    mk = lambda rs: spark.createDataFrame(rs, "uid string, text string")
    st.process_batch(mk([("a", "ancient text seen once long ago")]), state)
    st.process_batch(mk([("b", "something else entirely different")]), state)
    st.process_batch(mk([("c", "third batch of unrelated content")]), state)
    # keep only the last 2 epochs (1, 2) — epoch 0 ("a") is evicted
    st.compact_state(spark, state, max_epoch_age=1, partitions=2)
    keys = spark.read.parquet(f"{state}/content_keys")
    assert keys.filter(F.col("canonical_id") == "a").count() == 0
    st.process_batch(mk([("z", "ancient text seen once long ago")]), state)
    assigns = spark.read.parquet(f"{state}/assignments")
    got = {r.uid: r.canonical_id for r in assigns.collect()}
    assert got["z"] == "z"  # re-entered as its own canonical


def test_streaming_file_source_end_to_end(spark, turn_batches, tmp_path):
    """A real readStream over a file source with availableNow triggers:
    files appearing across two runs are both absorbed; state persists."""
    src = tmp_path / "src"
    src.mkdir()
    state = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt")
    schema = "conv_id string, turn_idx int, text string"

    def write_batch(i):
        spark.createDataFrame(
            turn_batches[i][["conv_id", "turn_idx", "text"]]
        ).coalesce(1).write.mode("overwrite").parquet(str(src / f"b{i}"))

    def run_stream():
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "*.parquet")
            .parquet(str(src / "*"))
        )
        q = st.incremental_dedup_stream(stream, state, ckpt)
        q.awaitTermination(120)

    write_batch(0)
    run_stream()
    n0 = spark.read.parquet(f"{state}/assignments").count()
    assert n0 == len(turn_batches[0])

    write_batch(1)
    run_stream()  # restart: only the new files are processed
    total = spark.read.parquet(f"{state}/assignments").count()
    assert total == len(turn_batches[0]) + len(turn_batches[1])

    inc = st.compact_clusters(spark, state)
    assert inc.count() == total
    assert inc.select("id").distinct().count() == total


def test_compact_age_bound_between_incremental_batches(spark, turn_batches, tmp_path):
    """The `_q_incremental_clusters` flow with an age-bounded compaction
    BETWEEN micro-batches (round-3 VERDICT next-round #7): an age horizon
    spanning every live epoch is semantics-free (clusters equal the
    uncompacted run), while an evicting horizon drops the aged epoch's
    state, so a text whose only duplicate lives in that epoch re-enters
    as a NEW canonical — the documented eviction cost. (Note: between the
    FIRST two batches no age value can evict — horizon = current−k ≤ 0 —
    so the evicting case needs a third probe batch.)"""
    dfs = [
        with_turn_uid(
            spark.createDataFrame(p[["conv_id", "turn_idx", "text"]])
        ).select("uid", "text")
        for p in turn_batches[:2]
    ]
    uids = [{r.uid for r in d.select("uid").collect()} for d in dfs]

    ref_state = str(tmp_path / "ref")
    for d in dfs:
        st.process_batch(d, ref_state, threshold=0.7)
    ref = _clusters_as_partition(st.compact_clusters(spark, ref_state))
    assert [c for c in ref if (c & uids[0]) and (c & uids[1])], (
        "fixture must have dups straddling the batch boundary"
    )

    # spanning horizon: compaction between batches changes nothing
    span_state = str(tmp_path / "span")
    st.process_batch(dfs[0], span_state, threshold=0.7)
    st.compact_state(spark, span_state, max_epoch_age=1, partitions=2)
    st.process_batch(dfs[1], span_state, threshold=0.7)
    assert _clusters_as_partition(st.compact_clusters(spark, span_state)) == ref

    # evicting horizon: a probe batch re-sends a text whose cluster lives
    # ENTIRELY in epoch 0; with epoch 0 evicted it becomes its own
    # canonical, where the uncompacted reference absorbs it.
    texts0 = {r.uid: r.text for r in dfs[0].collect()}
    batch0_only = next(c for c in ref if c <= uids[0])
    probe_text = texts0[next(iter(batch0_only))]
    probe = spark.createDataFrame([("probe:0", probe_text)], "uid string, text string")

    st.process_batch(probe, ref_state, threshold=0.7)
    ref3 = _clusters_as_partition(st.compact_clusters(spark, ref_state))
    assert any("probe:0" in c and (c & batch0_only) for c in ref3)

    evict_state = str(tmp_path / "evict")
    st.process_batch(dfs[0], evict_state, threshold=0.7)
    st.process_batch(dfs[1], evict_state, threshold=0.7)
    # current epoch = 1 -> horizon 1 evicts epoch 0 (dfs[0]'s state)
    st.compact_state(spark, evict_state, max_epoch_age=0, partitions=2)
    st.process_batch(probe, evict_state, threshold=0.7)
    got = _clusters_as_partition(st.compact_clusters(spark, evict_state))
    assert frozenset({"probe:0"}) in got  # re-entered as its own canonical
    # batch-0 assignments are results, not state: they survive eviction
    assert {u for c in got for u in c} == uids[0] | uids[1] | {"probe:0"}
