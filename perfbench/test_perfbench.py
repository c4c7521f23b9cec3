"""Tests of the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from checks import components_problems, report_problems, truth_map  # noqa: E402
from spans import _covered, jobs_between, window_metrics  # noqa: E402
from workloads import add_clique, corpus_key  # noqa: E402

from europa_spark.fixtures import generate  # noqa: E402


def _components(edges) -> dict[str, str]:
    """url -> min url of its component, singletons omitted (the shape
    connected_components returns)."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps: dict[str, list[str]] = {}
    for u in parent:
        comps.setdefault(find(u), []).append(u)
    return {u: min(m) for m in comps.values() if len(m) > 1 for u in m}


@pytest.fixture(scope="module")
def corpus():
    return generate(400, seed=11, truth=True)


def _edges(corpus):
    return list(zip(corpus.expected_pairs["url_a"], corpus.expected_pairs["url_b"]))


def test_truth_components_pass(corpus):
    want = truth_map(corpus.expected_clusters)
    assert components_problems(_components(_edges(corpus)), want) == []


@pytest.mark.parametrize("which", [0, -1])
def test_dropped_edge_is_flagged(corpus, which):
    """Negative control: the output of a pass that lost one planted edge
    must fail the check (a 2-member cluster vanishes, or a chain splits)."""
    want = truth_map(corpus.expected_clusters)
    # drop an edge whose endpoints then have no other path between them
    edges = _edges(corpus)
    for i in range(len(edges))[::(1 if which == 0 else -1)]:
        cut = edges[:i] + edges[i + 1:]
        got = _components(cut)
        a, b = edges[i]
        if got.get(a) is None or got.get(a) != got.get(b):
            break
    else:
        pytest.skip("every edge is redundant")
    assert components_problems(got, want)


def test_wrong_cluster_id_is_flagged(corpus):
    want = truth_map(corpus.expected_clusters)
    got = dict(want)
    url = max(got)
    got = {u: (url if c == got[url] else c) for u, c in got.items()}
    assert components_problems(got, want)


def test_report_counts(corpus):
    want = truth_map(corpus.expected_clusters)
    dups = len(want) - len(set(want.values()))
    assert report_problems(390, dups, 390, want) == []
    assert report_problems(390, dups - 1, 390, want)
    assert report_problems(389, dups, 390, want)


def test_clique_only_rewrites_block_a(corpus):
    docs, truth = add_clique(corpus.documents, corpus.expected_clusters, seed=11)
    changed = docs["text"].ne(corpus.documents["text"]) & docs["text"].notna()
    urls = set(docs.loc[changed, "url"])
    n_a = corpus.documents["url"].str.contains("/a/", regex=False).sum()
    assert len(urls) == int(n_a * 0.10) >= 2
    assert all("/a/" in u for u in urls)
    want = truth_map(truth)
    assert {want[u] for u in urls} == {min(urls)}
    # the planted clusters are untouched
    before = truth_map(corpus.expected_clusters)
    assert {u: c for u, c in want.items() if u not in urls} == before
    # near-duplicates, not exact ones: every rewritten text is distinct
    assert docs.loc[changed, "text"].nunique() == len(urls)


def test_clique_is_seeded(corpus):
    a, _ = add_clique(corpus.documents, corpus.expected_clusters, seed=3)
    b, _ = add_clique(corpus.documents, corpus.expected_clusters, seed=3)
    c, _ = add_clique(corpus.documents, corpus.expected_clusters, seed=4)
    assert a.equals(b)
    assert not a.equals(c)


def test_corpus_key_covers_every_input():
    base = corpus_key("pipeline-uniform", 5000, 1, ROOT)
    assert base == corpus_key("pipeline-uniform", 5000, 1, ROOT)
    assert len({
        base,
        corpus_key("pipeline-clique", 5000, 1, ROOT),
        corpus_key("pipeline-uniform", 5001, 1, ROOT),
        corpus_key("pipeline-uniform", 5000, 2, ROOT),
    }) == 4


def test_covered_merges_overlaps():
    assert _covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert _covered([]) == 0


def test_window_metrics_reads_only_the_window(tmp_path):
    """Jobs submitted outside [t0, t1] count only as job starts; the
    window's task metrics, UDF metrics and memory peaks are its own."""
    import json

    def task(stage, run_ms, heap, py_ms):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Accumulables": [
                    {"Name": "time to run Python workers", "Update": py_ms}]},
                "Task Metrics": {"Executor Run Time": run_ms},
                "Task Executor Metrics": {"JVMHeapMemory": heap}}

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.job.description": "europa:a"}},
        task(0, 500, 9e9, 700),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 3000,
         "Stage IDs": [1], "Properties": {"spark.job.description": "europa:b"}},
        task(1, 250, 2e6, 40),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 3500},
    ]
    log = tmp_path / "eventlog"
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n"
                           for e in events))
    m = window_metrics(str(log), 2.0, 4.0, str(tmp_path))
    assert list(m["jobs"]) == [1]
    assert list(m["by_tag"]) == ["europa:b"]
    assert m["by_tag"]["europa:b"]["run_s"] == 0.25
    assert m["python_s"] == 0.04
    assert m["JVMHeapMemory"] == 2.0
    assert m["driver_s"] == 1.5
    assert jobs_between(m["job_starts"], 0.5, 3.5) == 2
