"""MinHash/LSH operator tests (SURVEY.md §5 port, item 3: recall vs exact
oracle at identical shingle/signature config)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import example, given, settings, strategies as st
from pyspark.sql import functions as F

from rust_gd_spark.operators import minhash as mh


@pytest.fixture(scope="module")
def turns_df(transcripts_df):
    return transcripts_df.withColumn(
        "uid", F.concat_ws(":", "conv_id", F.col("turn_idx").cast("string"))
    )


def _py_shingles(text: str, w: int = 5) -> set:
    import re

    toks = re.sub(r"[^a-z0-9]+", " ", text.lower()).strip().split()
    if len(toks) < w:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}


def test_shingle_df_matches_python(spark, turns_df):
    sh = mh.shingle_df(turns_df, "uid", "text", w=5, hashed=False)
    rows = sh.limit(50).collect()
    src = {r.uid: r.text for r in turns_df.limit(50).collect()}
    checked = 0
    for r in rows:
        if r.id in src:
            assert set(r.shingle_strs) == _py_shingles(src[r.id]), r.id
            checked += 1
    assert checked > 0


def test_minhash_signature_shape_and_determinism(spark, turns_df):
    sh = mh.shingle_df(turns_df, "uid", "text")
    s1 = mh.minhash_signatures(sh, num_perm=64, seed=7)
    s2 = mh.minhash_signatures(sh, num_perm=64, seed=7)
    a = {r.id: tuple(r.sig) for r in s1.collect()}
    b = {r.id: tuple(r.sig) for r in s2.collect()}
    assert a == b
    assert all(len(v) == 64 for v in a.values())


def test_minhash_estimates_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (property of the hash family)."""
    base = " ".join(f"w{i}" for i in range(200))
    variant = " ".join(f"w{i}" for i in range(150)) + " " + " ".join(
        f"x{i}" for i in range(50)
    )
    df = spark.createDataFrame(
        [("a", base), ("b", variant)], ["uid", "text"]
    )
    sh = mh.shingle_df(df, "uid", "text", w=3)
    sigs = {r.id: np.array(r.sig) for r in mh.minhash_signatures(sh, 256).collect()}
    est = float((sigs["a"] == sigs["b"]).mean())
    rows = {r.id: set(r.shingles) for r in sh.collect()}
    true_j = len(rows["a"] & rows["b"]) / len(rows["a"] | rows["b"])
    assert abs(est - true_j) < 0.12, (est, true_j)


def test_oph_kernel_unit():
    """Densified-OPH chunk kernel: determinism, full densification, and
    identical-input ⇒ identical-signature."""
    rng = np.random.default_rng(3)
    lens = np.array([1, 40, 300, 40])
    starts = np.zeros(4, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    flat = rng.integers(0, 1 << 63, size=int(lens.sum()), dtype=np.uint64)
    flat[starts[3] : starts[3] + 40] = flat[starts[1] : starts[1] + 40]
    s1 = mh._oph_signatures_chunk(flat, starts, 128)
    s2 = mh._oph_signatures_chunk(flat, starts, 128)
    assert np.array_equal(s1, s2)
    assert s1.shape == (4, 128)
    # every slot densified below the 61-bit ceiling, even for 1 shingle
    assert (s1 <= np.uint64((1 << 61) - 1)).all()
    # identical shingle multisets -> identical signatures
    assert np.array_equal(s1[1], s1[3])
    # disjoint sets -> (essentially) disjoint signatures
    assert (s1[1] == s1[2]).mean() < 0.1
    with pytest.raises(AssertionError):
        mh._oph_signatures_chunk(flat, starts, 100)  # not a power of two


def test_oph_signatures_estimate_jaccard(spark):
    """Densified-OPH slot agreement rate ≈ true Jaccard (Shrivastava-Li'14
    estimator property), same tolerance as the k-perm family."""
    base = " ".join(f"w{i}" for i in range(200))
    variant = " ".join(f"w{i}" for i in range(150)) + " " + " ".join(
        f"x{i}" for i in range(50)
    )
    df = spark.createDataFrame([("a", base), ("b", variant)], ["uid", "text"])
    sh = mh.shingle_df(df, "uid", "text", w=3)
    sigs = {
        r.id: np.array(r.sig)
        for r in mh.minhash_signatures(sh, 256, scheme="oph").collect()
    }
    est = float((sigs["a"] == sigs["b"]).mean())
    rows = {r.id: set(r.shingles) for r in sh.collect()}
    true_j = len(rows["a"] & rows["b"]) / len(rows["a"] | rows["b"])
    assert abs(est - true_j) < 0.12, (est, true_j)


def test_oph_lsh_pairs_match_exact_oracle(spark, turns_df):
    """scheme='oph' end-to-end: recall vs the exact-Jaccard operator at
    matched config ≥ 0.99, verify keeps precision exact."""
    got = {
        (r.id_l, r.id_r)
        for r in mh.minhash_near_dup_pairs(
            turns_df, "uid", "text", threshold=0.7, scheme="oph"
        ).collect()
    }
    exp = {
        (r.id_l, r.id_r)
        for r in mh.exact_jaccard_pairs(
            turns_df, "uid", "text", threshold=0.7
        ).collect()
    }
    assert exp
    assert len(got & exp) / len(exp) >= 0.99
    assert got <= exp


def test_lsh_pairs_match_exact_oracle(spark, turns_df):
    """Dup-pair recall vs the exact-Jaccard operator at matched config
    must be >= 0.99 (BASELINE.json) — on the fixture it is 1.0."""
    got = {
        (r.id_l, r.id_r)
        for r in mh.minhash_near_dup_pairs(
            turns_df, "uid", "text", threshold=0.7
        ).collect()
    }
    exp = {
        (r.id_l, r.id_r)
        for r in mh.exact_jaccard_pairs(turns_df, "uid", "text", threshold=0.7).collect()
    }
    assert exp, "fixture must contain near-dup pairs"
    recall = len(got & exp) / len(exp)
    assert recall >= 0.99, recall
    # verification guarantees no false positives
    assert got <= exp


def test_exact_jaccard_against_bruteforce(spark):
    texts = [
        ("a", "the quick brown fox jumps over the lazy dog again and again"),
        ("b", "the quick brown fox jumps over the lazy cat again and again"),
        ("c", "completely different words nothing shared here at all folks"),
        ("d", "the quick brown fox jumps over the lazy dog again and again"),
    ]
    df = spark.createDataFrame(texts, ["uid", "text"])
    got = {
        (r.id_l, r.id_r): r.jaccard
        for r in mh.exact_jaccard_pairs(df, "uid", "text", w=3, threshold=0.0).collect()
    }
    sh = {u: _py_shingles(t, 3) for u, t in texts}
    for (l, r), j in got.items():
        exp = len(sh[l] & sh[r]) / len(sh[l] | sh[r])
        assert abs(j - exp) < 1e-12
    assert got[("a", "d")] == 1.0
    assert ("a", "c") not in got or got[("a", "c")] == 0.0


_BAGS = st.lists(
    st.dictionaries(st.integers(0, 7), st.integers(1, 3), max_size=6),
    min_size=1,
    max_size=8,
)


def _overlap_bruteforce(bags, df_cap, weighted):
    """Reference for ``_set_overlap_pairs``: ``{(l, r): (inter, n_l,
    n_r)}`` over pairs sharing a kept token, plus the capped tokens."""
    df = {}
    for b in bags:
        for t in b:
            df[t] = df.get(t, 0) + 1
    hot = set() if df_cap is None else {t for t, n in df.items() if n > df_cap}
    size = [sum(b.values()) if weighted else len(b) for b in bags]
    out = {}
    for l, bl in enumerate(bags):
        for r in range(l + 1, len(bags)):
            shared = (set(bl) & set(bags[r])) - hot
            if shared:
                inter = sum(
                    min(bl[t], bags[r][t]) if weighted else 1 for t in shared
                )
                out[(l, r)] = (inter, size[l], size[r])
    return out, hot


@settings(max_examples=6, deadline=None, derandomize=True)
@given(bags=_BAGS, df_cap=st.integers(1, 4))
@example(bags=[{}, {}, {1: 1}], df_cap=1)  # empty sets
@example(bags=[{1: 2, 2: 1}, {1: 2, 2: 1}, {3: 1}], df_cap=2)  # identical
@example(bags=[{5: 1}, {5: 3}, {6: 1}], df_cap=1)  # single-token sets
@example(bags=[{0: 1, 1: 1}, {0: 2, 1: 1}, {0: 1, 2: 1}], df_cap=2)  # everywhere
def test_set_overlap_pairs_matches_bruteforce(spark, bags, df_cap):
    """The shared inverted-index join equals brute force for set
    Jaccard/containment (count) and bag Jaccard (Σ min), with and
    without the document-frequency cap; t = 1.0 keeps exactly the
    identical sets."""
    postings = spark.createDataFrame(
        [(i, t, c) for i, b in enumerate(bags) for t, c in b.items()],
        "id long, s long, c int",
    )
    for weighted in (False, True):
        sizes = spark.createDataFrame(
            [(i, sum(b.values()) if weighted else len(b)) for i, b in enumerate(bags)],
            "id long, n long",
        )
        for cap in (None, df_cap):
            pairs, hot = mh._set_overlap_pairs(
                postings, sizes, df_cap=cap, weight="c" if weighted else None
            )
            assert sorted(pairs.columns) == ["id_l", "id_r", "inter", "n_l", "n_r"]
            got = {
                (r.id_l, r.id_r): (r.inter, r.n_l, r.n_r) for r in pairs.collect()
            }
            exp, exp_hot = _overlap_bruteforce(bags, cap, weighted)
            assert got == exp, (weighted, cap)
            if cap is None:
                assert hot is None
            else:
                assert {r.s for r in hot.collect()} == exp_hot
            # jaccard (set or bag) at t = 1.0: exactly the identical,
            # uncapped sets; measures are functions of (inter, n_l, n_r)
            key = dict if weighted else set
            ident = {
                (l, r)
                for l in range(len(bags))
                for r in range(l + 1, len(bags))
                if bags[l] and key(bags[l]) == key(bags[r])
                and not set(bags[l]) & exp_hot
            }
            assert {k for k, (i, nl, nr) in got.items() if i == nl + nr - i} == ident


def test_skew_bucket_capping(spark):
    """A hot boilerplate bucket above the cap is excluded AND audited."""
    rows = [(f"dup{i}", "padpadpad " * 20) for i in range(50)] + [
        ("u1", "some unique sentence with many distinct tokens right here"),
    ]
    df = spark.createDataFrame(rows, ["uid", "text"])
    sh = mh.shingle_df(df, "uid", "text")
    sig = mh.minhash_signatures(sh)
    bands = mh.lsh_bands(sig)
    pairs, audit = mh.lsh_candidate_pairs(bands, max_bucket_size=10)
    assert pairs.filter(F.col("id_l").startswith("dup")).count() == 0
    audit_rows = audit.collect()
    assert audit_rows and max(r.bucket_size for r in audit_rows) == 50
    # with a big enough cap the pairs come back
    pairs2, audit2 = mh.lsh_candidate_pairs(bands, max_bucket_size=100)
    assert pairs2.count() == 50 * 49 // 2
    assert audit2.count() == 0


def test_fused_band_hashes_bucket_like_two_step(spark, turns_df):
    """The fused signature+band kernel must produce the same BUCKETING as
    the two-step signatures→lsh_bands path: identical per-band partitions
    of ids (band hash values differ — xxhash64 vs polynomial digest — but
    two ids share a fused band hash iff they share the signature slice,
    i.e. iff they share the two-step band hash, modulo 64-bit collisions)."""
    sh = mh.shingle_df(turns_df, "uid", "text", w=5)
    sig = mh.minhash_signatures(sh, num_perm=32, seed=1)
    two_step = mh.lsh_bands(sig, bands=8, rows=4)
    fused = mh.explode_band_hashes(
        mh.minhash_band_hashes(sh, num_perm=32, bands=8, rows=4, seed=1)
    )

    def partitions(df):
        rows = df.groupBy("band_idx", "band_hash").agg(
            F.sort_array(F.collect_list("id")).alias("members")
        ).collect()
        return sorted((r.band_idx, tuple(r.members)) for r in rows)

    assert partitions(two_step) == partitions(fused)


def test_shingle_hash_batch_segments():
    """Kernel unit test: w-gram spans, short rows, empties, cross-row
    boundaries without separators."""
    out = mh._shingle_hash_batch(["a b c d", "a b c d", "x", "", "c d a b"], w=2)
    # identical texts -> identical shingle sets
    assert out[0].tolist() == out[1].tolist()
    assert len(out[0]) == 3  # "a b","b c","c d"
    assert len(out[2]) == 1 and len(out[3]) == 1
    assert out[3].tolist() == [0]  # empty text -> constant 0
    # "c d a b" shares exactly the shingle "c d" and "a b" with "a b c d"
    assert len(set(out[0]) & set(out[4])) == 2
