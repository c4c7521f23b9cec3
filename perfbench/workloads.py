"""Seeded corpora for the pipeline workloads, with planted truth.

``pipeline-uniform`` is ``europa_spark.fixtures.generate(n, seed)`` as is.
``pipeline-clique`` is the same corpus with a seeded share of the block-A
rows (unique prose, no planted pairs) rewritten to one shared boilerplate
plus a per-url token: every pair among them is a near duplicate
(5-shingle Jaccard ~0.99), so they flood the same LSH band buckets and
union-find gets one giant component.

Corpora are cached under the work directory, keyed by the row count, the
seed, the workload and a hash of the generator sources (this file and
``europa_spark/fixtures.py``), so a cached corpus is never served for a
changed generator.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd

CLIQUE_SHARE = 0.10
CLIQUE_WORDS = 200
# corpus size at which the canonical bucket caps apply unscaled
CAPS_AT_ROWS = 50_000


def pipeline_config(rows: int):
    """CANONICAL with the LSH bucket caps scaled to the corpus size, so the
    clique crosses ``bucket_cap`` (the hot tier) at benchmark scale as a
    10 % clique does at 50k docs under the canonical caps."""
    from dataclasses import replace

    from europa_spark.config import CANONICAL

    scale = rows / CAPS_AT_ROWS
    return replace(
        CANONICAL,
        bucket_cap=max(2, int(CANONICAL.bucket_cap * scale)),
        star_only_cap=max(2, int(CANONICAL.star_only_cap * scale)),
    )


def _generator_hash(repo_root: str) -> str:
    h = hashlib.sha256()
    for path in (
        os.path.join(repo_root, "europa_spark", "fixtures.py"),
        os.path.abspath(__file__),
    ):
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def corpus_key(workload: str, rows: int, seed: int, repo_root: str) -> str:
    blob = json.dumps(
        {"workload": workload, "rows": rows, "seed": seed,
         "generator": _generator_hash(repo_root)},
        sort_keys=True,
    )
    return hashlib.sha256(blob.encode()).hexdigest()[:20]


def add_clique(documents: pd.DataFrame, clusters: pd.DataFrame,
               seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Rewrite a seeded ``CLIQUE_SHARE`` of the block-A rows into one near-dup
    clique and return (documents, expected_clusters) with the clique added
    as one more cluster.

    Only block-A rows are eligible: rows of the other blocks carry planted
    edges (an html copy of a near-dup base still pairs with its mutant), so
    rewriting them would break the planted truth."""
    rng = np.random.default_rng([seed, 0xC11])
    block_a = np.flatnonzero(documents["url"].str.contains("/a/", regex=False))
    n_clique = int(len(block_a) * CLIQUE_SHARE)
    chosen = np.sort(rng.choice(block_a, size=n_clique, replace=False))
    boiler = " ".join(f"boiler{int(w)}" for w in rng.integers(0, 10**6, CLIQUE_WORDS))
    docs = documents.copy()
    urls = docs["url"].to_numpy()[chosen]
    docs.loc[docs.index[chosen], "text"] = [
        f"{boiler} tok{hashlib.sha1(u.encode()).hexdigest()[:12]}" for u in urls
    ]
    clique = pd.DataFrame({"url": urls, "cluster_id": min(urls)})
    truth = (
        pd.concat([clusters, clique], ignore_index=True)
        .sort_values("url").reset_index(drop=True)
    )
    return docs, truth


@dataclass
class Truth:
    clusters: pd.DataFrame         # url -> cluster_id (min url)
    n_quarantine: int              # rows with no usable text


def build_corpus(workload: str, rows: int, seed: int):
    """The planted corpus of a pipeline workload."""
    from europa_spark.fixtures import generate

    corpus = generate(rows, seed=seed, truth=True)
    corpus.expected_pairs = corpus.expected_extraction = None  # unused
    if workload == "pipeline-clique":
        corpus.documents, corpus.expected_clusters = add_clique(
            corpus.documents, corpus.expected_clusters, seed
        )
    return corpus


def ensure_corpus(workload: str, rows: int, seed: int, work_dir: str,
                  repo_root: str) -> tuple[str, bool]:
    """The cached corpus directory, built first on a cache miss, and
    whether it was a hit."""
    from europa_spark.fixtures import write_corpus

    out = os.path.join(work_dir, "corpus",
                       corpus_key(workload, rows, seed, repo_root))
    done = os.path.join(out, "_DONE")
    hit = os.path.exists(done)
    if not hit:
        shutil.rmtree(out, ignore_errors=True)
        write_corpus(build_corpus(workload, rows, seed), out)
        with open(done, "w") as f:
            f.write(json.dumps({"workload": workload, "rows": rows, "seed": seed}))
    return out, hit


def load_truth(corpus_dir: str) -> Truth:
    return Truth(
        clusters=pd.read_parquet(
            os.path.join(corpus_dir, "expected_clusters.parquet")),
        n_quarantine=len(pd.read_parquet(
            os.path.join(corpus_dir, "expected_quarantine.parquet"))),
    )
