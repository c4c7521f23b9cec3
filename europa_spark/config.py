"""Run configuration — the SearchParameters analog.

Reference: Core/Entities/SearchParameters/SearchParameters.cs:6-34 (folders,
similarity degree, size/type filters) and its validator
Api/Controllers/SearchParametersValidator.cs:11-46. Ours is a frozen dataclass
validated at job submit; the canonical values are pinned by FIXTURES.md §3 and
the recall gate binds to them.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict
import json
import hashlib

MERSENNE_61 = (1 << 61) - 1


@dataclass(frozen=True)
class DedupConfig:
    # extraction / filtering (FileFilter.cs:7-28 analog: lang/size predicates)
    langs: tuple[str, ...] = ()          # empty = accept all (FileFilter.cs:7-11)
    exclude_langs: tuple[str, ...] = ()  # non-empty = reject (FileFilter.cs:13-17)
    min_bytes: int | None = None         # doc_bytes lower bound (FileFilter.cs:19-28)
    max_bytes: int | None = None

    # exact cascade (DuplicateByHashFinder.cs:42-44,96-97)
    prefix_fraction: float = 0.10        # stage-1 hashes first 10% of chars

    # shingling / MinHash (FIXTURES.md §3)
    shingle_k: int = 5                   # word 5-grams
    num_perm: int = 128
    seed: int = 42

    # LSH banding: b bands x r rows, b*r == num_perm
    bands: int = 16
    rows_per_band: int = 8
    jaccard_threshold: float = 0.8       # exact-verify cutoff

    # SimHash (FIXTURES.md §3)
    simhash_hamming_d: int = 3
    simhash_bands: int = 4               # 4 x 16-bit pigeonhole bands
    # token hash feeding the SimHash bit votes: 'blake2b' (default, crypto
    # mixing) or 'fnv1a' — FNV-1a-64 is a per-byte modular chain, so the
    # whole signature is expressible in DuckDB HUGEINT SQL and the simhash
    # gate gets a hard value oracle (r2 VERDICT #4 next-round item)
    simhash_token_hash: str = "blake2b"

    # substring pass (winnowing; FIXTURES.md §3). Density = 2/(w+1): w=128
    # emits ~1 fingerprint per 64 chars instead of ~1 per 16 (4x fewer rows
    # through every shuffle of the pass); any shared run >= k+w-1 = 191 chars
    # still shares a fingerprint, and the planted >= 600-char blocks share
    # >= floor((600-k+1)/w) = 4 >= votes. 64-bit fingerprints make random
    # 3-vote collisions between unrelated docs effectively impossible.
    winnow_kgram: int = 64               # char k-grams
    winnow_window: int = 128
    substring_votes: int = 3             # shared fingerprints to call a pair

    # verify pre-filter: skip exact-Jaccard verification for candidate pairs
    # whose MinHash-estimated Jaccard (fraction of equal signature
    # components — the signatures are already materialized and ~5x narrower
    # than the shingle arrays) is below jaccard_threshold - this margin.
    # The estimator is Bin(num_perm, J)/num_perm: at J = 0.8, num_perm = 128,
    # margin 0.15 the per-pair false-drop probability is
    # P(Bin(128,.8) < .65*128) ~ 1e-5 — far inside the 0.99 recall gate.
    # Default OFF: measured at 200k bench rows, LSH candidate precision is
    # 100% (15,985/15,985 candidates verify at J >= 0.8 — b=16 r=8 banding
    # at tau 0.8 admits essentially no sub-threshold collisions), so the
    # estimate join is pure overhead there. Turn it on for corpora whose
    # similarity mass sits just under the threshold (heavy boilerplate with
    # J in [0.5, 0.8)), where candidates outnumber true pairs.
    verify_est_margin: float | None = None

    # skew handling (north rule: explicit salting of hot LSH buckets)
    bucket_cap: int = 2000               # max rows per (band_idx, band_hash) bucket
    # size of the salted sub-buckets that hot-bucket members all-pair
    # within. DECOUPLED from bucket_cap (r5): with sub-buckets of cap=2000
    # members, a hot bucket's salted work was n*cap/2 pairs per band — a
    # 10k-member near-dup clique (ordinary webtext boilerplate) emitted
    # ~10M candidates per band, 44M distinct over 16 bands, ~110 GB through
    # the verify join. At 64 the same bucket emits ~32*n per band (~5M
    # distinct total): still superlinear recall insurance for mixed hot
    # buckets, bounded enough to survive a 100x corpus. Recall note: the
    # only pairs this trades are members similar to EACH OTHER but not to
    # the bucket anchor whose every shared band is hot and salted apart —
    # the same residual class as before, at a different constant.
    salt_sub_cap: int = 64
    # buckets above this are MEGA buckets: star edges only, no salted
    # sub-bucket pairs. Rationale: salted work per hot bucket is
    # n * salt_sub_cap / 2 per band — at web scale a boilerplate family with
    # 10^5..10^7 near-identical members would emit 10^8+ candidates per band
    # (measured blowup: a 10%-near-dup-clique 1M corpus produced 1.6e9
    # candidates under salt-everything). In a true near-dup CLIQUE every
    # member is similar to the bucket min, so star edges alone verify and
    # the cluster forms with FULL membership recall; what a mega bucket
    # gives up is direct member-member edges for members similar to each
    # other but NOT to the anchor — a mixed mega-bucket shape that webtext
    # boilerplate does not produce (and the d+1 other bands still catch).
    star_only_cap: int = 20_000
    top_k_neighbors: int | None = None   # QdrantRepository.cs:192 limit=100; None = unlimited (recall-safe)

    # join strategy: hint the small frames (winner urls, candidate url sets)
    # for broadcast semi-joins. Set False beyond ~10^9 docs per job — the
    # url sets outgrow executor memory there — and AQE plans a shuffle
    # semi-join instead (r2 VERDICT #4: was an unconditional code-level hint
    # whose break-at-scale fix needed a code edit).
    broadcast_hints: bool = True

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perm:
            raise ValueError(
                f"bands*rows_per_band must equal num_perm "
                f"({self.bands}*{self.rows_per_band} != {self.num_perm})"
            )
        if not (0.0 < self.prefix_fraction <= 1.0):
            raise ValueError("prefix_fraction must be in (0, 1]")
        if not (0.0 < self.jaccard_threshold <= 1.0):
            raise ValueError("jaccard_threshold must be in (0, 1]")
        # degreeOfSimilarity <= hash bits (SearchParametersValidator.cs:28-33)
        if not (0 <= self.simhash_hamming_d <= 64):
            raise ValueError("simhash_hamming_d must be in [0, 64]")
        # pigeonhole: any pair within Hamming d collides on >= 1 of (d+1) bands
        if self.simhash_bands < self.simhash_hamming_d + 1:
            raise ValueError("simhash_bands must be >= simhash_hamming_d + 1")
        if (self.min_bytes is not None and self.max_bytes is not None
                and self.min_bytes > self.max_bytes):
            raise ValueError("min_bytes > max_bytes")
        if self.bucket_cap < 2:
            raise ValueError("bucket_cap must be >= 2")
        if self.star_only_cap < self.bucket_cap:
            raise ValueError("star_only_cap must be >= bucket_cap")
        if self.salt_sub_cap < 2:
            raise ValueError("salt_sub_cap must be >= 2")
        if self.verify_est_margin is not None and not (
            0.0 <= self.verify_est_margin < self.jaccard_threshold
        ):
            raise ValueError(
                "verify_est_margin must be in [0, jaccard_threshold) or None"
            )
        if self.simhash_token_hash not in ("blake2b", "fnv1a"):
            raise ValueError("simhash_token_hash must be 'blake2b' or 'fnv1a'")

    def config_hash(self) -> str:
        """Stable hash identifying this config — keys checkpoint rows so a
        resumed run never mixes deltas from different configs."""
        payload = json.dumps(asdict(self), sort_keys=True, default=str)
        return hashlib.sha256(payload.encode()).hexdigest()[:16]


CANONICAL = DedupConfig()
