"""MinHash/LSH path: signature determinism, estimator sanity, planted-pair
recall, decoy rejection, and the hot-bucket star-edge skew path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from europa_spark.config import DedupConfig
from europa_spark.exact import representatives, with_content_hash
from europa_spark.extract import split_quarantine, with_extracted
from europa_spark.fixtures import _shingles, jaccard
from europa_spark.minhash import (
    band_table,
    candidate_pairs,
    minhash_pairs,
    verify_pairs,
    with_signatures,
)


@pytest.fixture(scope="module")
def reps(spark, docs_df):
    clean, _ = split_quarantine(with_extracted(docs_df))
    return representatives(with_content_hash(clean)).select("url", "extracted").cache()


@pytest.fixture(scope="module")
def sigs(reps):
    return with_signatures(reps).cache()


def test_signature_shape_and_determinism(spark, sigs):
    two = sigs.limit(5).select("url", "minhash", "shingles")
    rows1 = {r["url"]: r["minhash"] for r in two.collect()}
    rows2 = {r["url"]: r["minhash"] for r in two.collect()}
    assert rows1 == rows2
    assert all(len(v) == 128 for v in rows1.values())


def test_minhash_estimates_jaccard(spark):
    """Signature agreement fraction must track true Jaccard (property)."""
    base = " ".join(f"w{i}" for i in range(300))
    variant = " ".join(f"w{i}" if i % 10 else f"x{i}" for i in range(300))
    df = spark.createDataFrame([("a", base), ("b", variant)], "url string, extracted string")
    s = {r["url"]: r for r in with_signatures(df).collect()}
    true_j = jaccard(_shingles(base.split(" ")), _shingles(variant.split(" ")))
    est = sum(x == y for x, y in zip(s["a"]["minhash"], s["b"]["minhash"])) / 128
    assert abs(est - true_j) < 0.15, (true_j, est)


def _planted_minhash_pairs(corpus):
    return {
        (a, b)
        for a, b, m, _ in corpus.expected_pairs.itertuples(index=False)
        if m == "minhash"
    }


def test_recall_and_decoy_rejection(spark, reps, sigs, corpus):
    got = {
        (r["url_a"], r["url_b"])
        for r in minhash_pairs(reps, sigs=sigs).collect()
    }
    planted = _planted_minhash_pairs(corpus)
    missed = planted - got
    recall = 1 - len(missed) / len(planted)
    assert recall >= 0.99, f"recall {recall}, missed {sorted(missed)[:5]}"
    # decoys (block C 'd' docs) must never pair with their base
    decoy_pairs = {p for p in got if "/c/" in p[0] and p[1].endswith("d")}
    assert not decoy_pairs
    # every found pair must truly be above threshold (verify step is exact)
    ext = {r["url"]: r["extracted"] for r in reps.collect()}
    for a, b in list(got - planted)[:50]:
        j = jaccard(_shingles(ext[a].split(" ")), _shingles(ext[b].split(" ")))
        assert j >= 0.8, (a, b, j)


def test_hot_bucket_star_and_salted_edges(spark):
    """Oversized band buckets route to star edges + salted within-sub-bucket
    all-pairs (skew cap): work is O(n * cap), never O(n^2)."""
    cfg = DedupConfig(bucket_cap=3, salt_sub_cap=3)
    text = " ".join(f"t{i}" for i in range(100))
    n = 10
    df = spark.createDataFrame(
        [(f"u{i:02d}", text) for i in range(n)], "url string, extracted string"
    )
    sigs = with_signatures(df, cfg)
    bt = band_table(sigs, cfg)
    cands = candidate_pairs(bt, cfg)
    rows = {(r["url_a"], r["url_b"]) for r in cands.collect()}
    star = {("u00", f"u{i:02d}") for i in range(1, n)}
    assert star <= rows  # connectivity through the bucket representative
    # boundedness is PER BAND (identical docs collide in all 16 bands and
    # each band salts differently, so the union may approach all-pairs —
    # per-band candidate WORK is what must stay O(n * cap)):
    one_band = candidate_pairs(bt.filter(F.col("band_idx") == 0), cfg)
    assert one_band.count() < n * cfg.bucket_cap
    confirmed = verify_pairs(cands, sigs, cfg)
    # identical text -> J=1 on every candidate, so the component is intact
    assert confirmed.count() == len(rows)


def test_hot_bucket_mutual_pairs_survive_salting(spark):
    """Adversarial (ADVICE r01): hot-bucket members that are near-dups of
    EACH OTHER but not of the bucket min must keep a direct candidate edge
    whenever they share a salt — the star-only r01 design dropped them all."""
    cfg = DedupConfig(bucket_cap=2, salt_sub_cap=2)
    members = ["a0"] + [f"m{i}" for i in range(1, 8)]
    bands = spark.createDataFrame(
        [(u, 0, 42) for u in members], "url string, band_idx int, band_hash bigint"
    )
    rows = {
        (r["url_a"], r["url_b"])
        for r in candidate_pairs(bands, cfg).collect()
    }
    star = {("a0", m) for m in members[1:]}
    assert star <= rows
    non_star = rows - star
    # salting ceil(8/2)=4 sub-buckets over 8 members: within-salt mutual
    # pairs must exist (deterministic xxhash salt assignment)
    assert non_star, "salted sub-buckets must emit direct member-member pairs"
    # and the fan-out stays linear-ish: every member appears in O(cap) pairs
    from collections import Counter

    degree = Counter()
    for a, b in rows:
        degree[a] += 1
        degree[b] += 1
    assert max(degree[m] for m in members[1:]) <= 2 * cfg.bucket_cap


def test_band_join_is_narrow(spark, sigs):
    """The band self-join must shuffle only narrow columns — the wide
    shingles/minhash arrays may not appear anywhere in its optimized plan."""
    bt = band_table(sigs)
    assert set(bt.columns) == {"url", "band_idx", "band_hash"}
    # shingles/minhash legitimately feed the signature projection, but no
    # SHUFFLE may carry the wide arrays: every Exchange input must be narrow
    import re

    plan = (
        candidate_pairs(bt)._jdf.queryExecution().executedPlan().toString()
    )
    for m in re.finditer(r"Exchange ([^\n]*)", plan):
        line = m.group(1)
        assert "shingles" not in line and "minhash" not in line, line


def test_verify_strategy_and_margin_equivalence(spark, reps):
    """r4 ADVICE #2: the verify configurations must confirm the IDENTICAL
    (url_a, url_b, score) set on the planted corpus — text rehash (default),
    JVM set algebra on stored shingle arrays (the incremental path's verify,
    fed by with_signatures), and the est_prefilter margin (which must drop
    nothing at the canonical config: P(false drop) ~ 1e-5 per true pair)."""
    base = {
        (r["url_a"], r["url_b"], r["score"])
        for r in minhash_pairs(reps).collect()
    }
    assert base, "planted corpus must yield pairs"
    got_arrays = {
        (r["url_a"], r["url_b"], r["score"])
        for r in minhash_pairs(reps, sigs=with_signatures(reps)).collect()
    }
    assert got_arrays == base
    margin_cfg = DedupConfig(verify_est_margin=0.15)
    got_margin = {
        (r["url_a"], r["url_b"], r["score"])
        for r in minhash_pairs(reps, margin_cfg).collect()
    }
    assert got_margin == base


def test_mega_bucket_star_only(spark):
    """Buckets above cfg.star_only_cap (web-scale boilerplate cliques) keep
    star edges but skip salted sub-bucket pairs — the salted work would be
    n*cap/2 per band while star edges alone give full cluster recall for a
    true near-dup clique (config.star_only_cap rationale)."""
    cfg = DedupConfig(bucket_cap=2, star_only_cap=4)
    bands = spark.createDataFrame(
        [(f"m{i}", 0, 42) for i in range(8)],
        "url string, band_idx int, band_hash bigint",
    )
    rows = {
        (r["url_a"], r["url_b"]) for r in candidate_pairs(bands, cfg).collect()
    }
    assert rows == {("m0", f"m{i}") for i in range(1, 8)}
