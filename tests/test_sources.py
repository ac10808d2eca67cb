"""File-source tests: binaryFile → block split → per-file sequential GD
round-trip (the reference CLI flow, `examples/main.rs:15-40`)."""

import numpy as np
from pyspark.sql import functions as F

from rust_gd_spark import sources


def _write_files(tmp_path):
    rng = np.random.default_rng(5)
    payloads = {
        # repetitive: same 128-byte chunk 64x -> GD compresses hard
        "rep.bin": bytes(range(128)) * 64,
        # random: incompressible, still must round-trip
        "rand.bin": rng.integers(0, 256, size=3000, dtype=np.uint8).tobytes(),
    }
    for name, data in payloads.items():
        (tmp_path / name).write_bytes(data)
    return payloads


def test_block_split_reassembles(spark, tmp_path):
    payloads = _write_files(tmp_path)
    blocks = sources.read_binary_blocks(
        spark, str(tmp_path), block_bytes=1024, glob="*.bin"
    )
    rows = blocks.collect()
    by_file = {}
    for r in sorted(rows, key=lambda r: (r.file, r.block_idx)):
        by_file.setdefault(r.file.rsplit("/", 1)[-1], []).append(bytes(r.data))
    for name, data in payloads.items():
        assert b"".join(by_file[name]) == data, name
    # block sizes: all but last == block_bytes
    sizes = [len(b) for b in by_file["rand.bin"]]
    assert sizes[:-1] == [1024] * (len(sizes) - 1) and 0 < sizes[-1] <= 1024


def test_empty_files_skipped_by_source(spark, tmp_path):
    """Zero-byte files produce no rows (Spark binaryFile contract)."""
    (tmp_path / "empty.bin").write_bytes(b"")
    (tmp_path / "x.bin").write_bytes(b"hi")
    rows = sources.read_binary_blocks(spark, str(tmp_path)).collect()
    assert {r.file.rsplit("/", 1)[-1] for r in rows} == {"x.bin"}


def test_gd_file_roundtrip_and_compression(spark, tmp_path):
    _write_files(tmp_path)
    blocks = sources.read_binary_blocks(spark, str(tmp_path), block_bytes=1024)
    rt = {
        r.file.rsplit("/", 1)[-1]: r
        for r in sources.gd_file_roundtrip(blocks, "rs", 255, n=128, k=124).collect()
    }
    assert all(r.roundtrip_ok for r in rt.values())
    assert rt["rep.bin"].orig_bytes == 128 * 64
    # cross-block dictionary reuse: the repeated chunk is a dictionary hit
    # after block 1, so the deduped stream must shrink
    assert rt["rep.bin"].dedup_ratio < 0.7, rt["rep.bin"].dedup_ratio
    # random data must not corrupt (ratio ~1, exact round-trip already checked)
    assert rt["rand.bin"].n_blocks == 3


def test_hamming_kind_roundtrip(spark, tmp_path):
    (tmp_path / "x.bin").write_bytes(b"abcdefgh" * 512)
    blocks = sources.read_binary_blocks(spark, str(tmp_path))
    rt = sources.gd_file_roundtrip(blocks, "hamming", 511, deg=8).collect()
    assert len(rt) == 1 and rt[0].roundtrip_ok


def test_ensure_min_partitions_cap_factor(spark, tmp_path):
    """Size-derived scan width: cap_factor oversubscribes the core cap for
    dense scan-terminal callers, and the width stays input-size-derived."""
    from rust_gd_spark.session import ensure_min_partitions

    p = str(tmp_path / "docs.parquet")
    spark.range(2000).selectExpr("id", "repeat('x', 200) as text").coalesce(
        1
    ).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    cap = spark.sparkContext.defaultParallelism

    base = ensure_min_partitions(spark.read.parquet(p), target_bytes=1)
    assert base.rdd.getNumPartitions() == cap  # byte-derived, capped at cores

    wide = ensure_min_partitions(
        spark.read.parquet(p), target_bytes=1, cap_factor=4
    )
    assert wide.rdd.getNumPartitions() == 4 * cap  # oversubscribed cap

    # a tiny input never reaches the cap no matter the factor
    narrow = ensure_min_partitions(
        spark.read.parquet(p), target_bytes=1 << 30, cap_factor=4
    )
    assert narrow.rdd.getNumPartitions() <= df.rdd.getNumPartitions() + 1


def test_ensure_min_partitions_stops_stat_at_cap(spark, tmp_path, monkeypatch):
    """The driver stats input files only until cap × target bytes are
    counted: past that the width is the cap whatever the rest add."""
    import os

    from rust_gd_spark.session import ensure_min_partitions

    p = str(tmp_path / "many.parquet")
    spark.range(4000).selectExpr("id", "repeat('x', 50) as text").repartition(
        40
    ).write.mode("overwrite").parquet(p)
    n_files = len(spark.read.parquet(p).inputFiles())
    assert n_files == 40
    cap = spark.sparkContext.defaultParallelism

    stat_calls = []
    orig = os.path.getsize

    def counting(f):
        stat_calls.append(f)
        return orig(f)

    monkeypatch.setattr(os.path, "getsize", counting)
    out = ensure_min_partitions(spark.read.parquet(p), target_bytes=1)
    assert out.rdd.getNumPartitions() >= cap
    assert len(stat_calls) == 1  # the first file alone is past cap bytes

    stat_calls.clear()
    ensure_min_partitions(spark.read.parquet(p), target_bytes=1 << 30)
    assert len(stat_calls) == n_files  # never reaches the cap: stats all


def test_job_description_restores_enclosing_label(spark):
    """Nested scoped labels must restore the outer label, not clear it —
    the job-audit tooling depends on stage labels surviving inner
    operator scopes (e.g. cc:canon inside stage:clusters)."""
    from rust_gd_spark.session import job_description

    sc = spark.sparkContext
    with job_description(sc, "outer"):
        with job_description(sc, "inner"):
            assert sc.getLocalProperty("spark.job.description") == "inner"
        assert sc.getLocalProperty("spark.job.description") == "outer"
    assert sc.getLocalProperty("spark.job.description") is None
