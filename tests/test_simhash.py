"""SimHash-64: bit math, dot-score equivalence, pigeonhole recall."""

from __future__ import annotations

import pytest

from europa_spark.config import DedupConfig
from europa_spark.simhash import _simhash_np, simhash_pairs, with_simhash


def test_simhash_deterministic_and_sensitive():
    cache: dict = {}
    base = " ".join(f"w{i}" for i in range(400))
    same = _simhash_np(base, cache)
    assert same == _simhash_np(base, {})
    # single-token change -> small Hamming distance; unrelated -> large
    one_off = " ".join(("zz" if i == 7 else f"w{i}") for i in range(400))
    other = " ".join(f"q{i}" for i in range(400))

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(same, _simhash_np(one_off, {})) <= 6
    assert ham(same, _simhash_np(other, {})) > 20


def test_dot_score_equivalence():
    """Reference ±1-vector Dot score == 64 - 2*hamming
    (QdrantRepository.cs:240-247, Vectorize)."""
    a = _simhash_np("alpha beta gamma " * 30, {})
    b = _simhash_np("alpha beta delta " * 30, {})
    bits_a = [(a >> i) & 1 for i in range(64)]
    bits_b = [(b >> i) & 1 for i in range(64)]
    dot = sum((2 * x - 1) * (2 * y - 1) for x, y in zip(bits_a, bits_b))
    hamming = sum(x != y for x, y in zip(bits_a, bits_b))
    assert dot == 64 - 2 * hamming


def test_pigeonhole_pairs(spark):
    """Pairs within Hamming d MUST be found (pigeonhole guarantee, not
    probabilistic): plant token-level mutants and check."""
    base_words = [f"w{i}" for i in range(500)]
    variants = {
        "v1": " ".join(("x0" if i == 3 else w) for i, w in enumerate(base_words)),
        "v2": " ".join(("x1" if i == 200 else w) for i, w in enumerate(base_words)),
        "far": " ".join(f"z{i}" for i in range(500)),
    }
    rows = [("base", " ".join(base_words))] + [(k, v) for k, v in variants.items()]
    df = spark.createDataFrame(rows, "url string, extracted string")
    cfg = DedupConfig(simhash_hamming_d=6, simhash_bands=8)
    got = {(r["url_a"], r["url_b"]): r["score"]
           for r in simhash_pairs(df, cfg).collect()}
    sigs = {r["url"]: r["simhash"] for r in with_simhash(df).collect()}

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    for k in ("v1", "v2"):
        d = ham(sigs["base"], sigs[k])
        if d <= 6:
            key = tuple(sorted(["base", k]))
            assert key in got, (k, d, got)
            assert abs(got[key] - (64 - d) / 64) < 1e-9
    assert not any("far" in p for p in got), got


def test_fnv1a_kernel_reference_values():
    """FNV-1a-64 pinned to the published test vectors — the token hash the
    DuckDB oracle replays per byte in HUGEINT space."""
    from europa_spark.simhash import _fnv1a64

    assert _fnv1a64("", {}) == 0xCBF29CE484222325
    assert _fnv1a64("a", {}) == 0xAF63DC4C8601EC8C
    assert _fnv1a64("foobar", {}) == 0x85944171F73967E8


def test_fnv_simhash_banded_pairs_equal_bruteforce(spark, docs_df):
    """The gated FNV-SimHash config: the banded+capped Spark plan must emit
    EXACTLY the brute-force Hamming<=d pair set on the fixture corpus (the
    oracle-equality precondition: pigeonhole bands >= d+1 and no hot
    buckets at this scale)."""
    from europa_spark.extract import split_quarantine, with_extracted

    cfg = DedupConfig(simhash_token_hash="fnv1a")
    clean, _ = split_quarantine(with_extracted(docs_df))
    reps = clean.select("url", "extracted").limit(600)
    sigs = {r["url"]: r["simhash"] for r in with_simhash(reps, cfg).collect()}

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    urls = sorted(sigs)
    brute = {
        (a, b)
        for i, a in enumerate(urls)
        for b in urls[i + 1 :]
        if ham(sigs[a], sigs[b]) <= cfg.simhash_hamming_d
    }
    got = {
        (r["url_a"], r["url_b"])
        for r in simhash_pairs(reps, cfg).collect()
    }
    assert got == brute


@pytest.mark.parametrize("tier", ["hot", "mega"])
@pytest.mark.parametrize("path", ["simhash", "blockmean"])
def test_band_join_skew_tiers(spark, path, tier):
    """Batch simhash and media block-mean band joins inherit the three-tier
    skew bound: n identical signatures fill one bucket per band, every
    candidate verifies (Hamming 0), so the confirmed pairs ARE the
    candidates. A hot bucket yields star edges to the min plus salted
    sub-bucket pairs; a mega bucket (> star_only_cap) star edges only; and
    per-band work stays within n * salt_sub_cap."""
    n = 60
    # bucket_cap > salt_sub_cap: sub-buckets sized by bucket_cap (~n/2 * 9
    # pairs here) would break the n * salt_sub_cap bound below
    cfg = DedupConfig(
        bucket_cap=10, salt_sub_cap=3, star_only_cap=n if tier == "hot" else n - 1
    )
    urls = [f"u{i:02d}" for i in range(n)]
    if path == "simhash":
        sigs = spark.createDataFrame(
            [(u, 0x5A5A_1234_F00D_0042) for u in urls], "url string, simhash bigint"
        )
        got = simhash_pairs(None, cfg, sigs=sigs)
        n_bands = cfg.simhash_bands  # identical signatures: every band collides
    else:
        from europa_spark.multimodal import media_blockmean_pairs

        sigs = spark.createDataFrame(
            [(u, "a5" * 121) for u in urls], "url string, blockmean string"
        )
        # one band of the whole hash: the output IS the per-band candidate set
        got = media_blockmean_pairs(sigs, hamming_d=0, n_bands=1, cfg=cfg)
        n_bands = 1
    rows = {(r["url_a"], r["url_b"]) for r in got.collect()}
    star = {(urls[0], u) for u in urls[1:]}
    assert star <= rows
    if tier == "hot":
        assert rows - star, "salted sub-buckets must emit member-member pairs"
    else:
        assert rows == star
    assert len(rows) <= n_bands * n * cfg.salt_sub_cap
