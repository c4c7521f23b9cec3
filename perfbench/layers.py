"""The traced pass and the per-layer metrics.

The traced pass composes the same layers as ``pipeline.run`` from their
public functions, one span per layer call. The layer functions return lazy
frames, so each span ends by materializing that layer's output; a span
around the call alone would time only plan building.
"""

from __future__ import annotations

import os
import time
from functools import reduce

from spans import Tracer, event_log_file, jobs_between, window_metrics

# europa:<stage> job tags that launch jobs in a store-less pipeline.run
PIPELINE_TAGS = (
    "signatures_dual", "pairs_minhash", "pairs_substring", "pairs", "components"
)


def traced_pass(bench, tracer: Tracer, counts: dict) -> tuple[float, list[str]]:
    from checks import components_problems
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from europa_spark.cluster import connected_components
    from europa_spark.exact import content_hash_col, exact_membership, exact_pairs
    from europa_spark.extract import split_quarantine, with_extracted
    from europa_spark.minhash import (
        band_table,
        candidate_pairs,
        maybe_broadcast,
        minhash_pairs,
        with_dual_signatures,
    )
    from europa_spark.pipeline import apply_filters, spread_kernel_input
    from europa_spark.substring import substring_pairs

    cfg = bench.cfg
    held: list[DataFrame] = []

    def keep(df: DataFrame) -> DataFrame:
        held.append(df)
        return df.persist()

    t0 = time.time()
    try:
        with tracer.span("pass"):
            filtered = apply_filters(bench.docs, cfg)
            with tracer.span("extract"):
                clean, quarantine = split_quarantine(with_extracted(filtered))
                clean = keep(
                    clean.select("url", "warc_ts", "extracted")
                    .withColumn("content_hash", content_hash_col())
                )
                counts["clean"] = clean.count()
                counts["quarantined"] = quarantine.count()
            with tracer.span("exact"):
                membership = keep(exact_membership(clean, cfg))
                membership.count()
                winners = membership.filter(
                    F.col("url") == F.col("exact_group_id")
                ).select("url")
                reps = keep(
                    clean.join(maybe_broadcast(winners, cfg), "url", "left_semi")
                    .select("url", "extracted")
                )
                counts["reps"] = reps.count()
            with tracer.span("minhash.sign"):
                # truncated like pipeline.run's: downstream plans start
                # from a leaf instead of re-analyzing the whole chain
                dual = with_dual_signatures(
                    spread_kernel_input(reps, filtered), cfg
                ).localCheckpoint(eager=True)
                sigs = dual.select("url", "minhash")
            with tracer.span("minhash.bands"):
                bands = keep(band_table(sigs, cfg))
                size = F.col("count")
                counts["largest_bucket"], counts["hot_buckets"] = (
                    bands.groupBy("band_idx", "band_hash").count().agg(
                        F.max(size),
                        F.sum((size > cfg.bucket_cap).cast("long")),
                    ).first()
                )
            with tracer.span("minhash.candidates"):
                cands = keep(candidate_pairs(bands, cfg, registry=held))
                counts["candidates"] = cands.count()
            with tracer.span("minhash.pairs"):
                mh = keep(minhash_pairs(reps, cfg, sigs=sigs, registry=held))
                counts["verified"] = mh.count()
            with tracer.span("substring"):
                ss = keep(substring_pairs(reps, cfg, registry=held,
                                          fp_arrays=dual))
                counts["substring_pairs"] = ss.count()
            with tracer.span("pairs"):
                pairs = (
                    reduce(DataFrame.unionByName, [exact_pairs(membership), mh, ss])
                    .dropDuplicates(["url_a", "url_b"])
                    .localCheckpoint(eager=True)
                )
                counts["pairs"] = pairs.count()
            with tracer.span("cluster"):
                comps = connected_components(
                    pairs, n_edges_hint=counts["pairs"]
                ).toPandas()
        wall = time.time() - t0
    finally:
        for df in held:
            df.unpersist()
    sizes = comps["cluster_id"].value_counts()
    counts["components"] = len(sizes)
    counts["largest"] = int(sizes.max()) if len(sizes) else 0
    got = dict(zip(comps["url"], comps["cluster_id"]))
    return wall, components_problems(got, bench.want)


def layer_metrics(log_dir: str, work: str, untraced: dict, traced: dict,
                  tracer: Tracer, counts: dict) -> dict:
    """Per-layer metrics: span times and counts from the traced pass,
    engine counters from the untraced pass's event-log window."""
    eng = window_metrics(
        event_log_file(log_dir), untraced["start"],
        untraced["start"] + untraced["wall_s"], os.path.join(work, "tmp"),
    )
    cl = tracer.get("cluster")

    m: dict[str, tuple[float, str]] = {
        "extract.s": (tracer.duration("extract"), "s"),
        "extract.quarantined": (counts["quarantined"], "count"),
        "exact.s": (tracer.duration("exact"), "s"),
        "exact.reps_ratio": (counts["reps"] / counts["clean"], "ratio"),
        "minhash.sign_s": (tracer.duration("minhash.sign"), "s"),
        "minhash.bands_s": (tracer.duration("minhash.bands"), "s"),
        "minhash.largest_bucket": (counts["largest_bucket"], "count"),
        "minhash.hot_buckets": (counts["hot_buckets"], "count"),
        "minhash.candidates_s": (tracer.duration("minhash.candidates"), "s"),
        "minhash.candidates": (counts["candidates"], "count"),
        "minhash.pairs_s": (tracer.duration("minhash.pairs"), "s"),
        "minhash.verified": (counts["verified"], "count"),
        "minhash.verify_yield": (
            counts["verified"] / max(1, counts["candidates"]), "ratio"),
        "substring.s": (tracer.duration("substring"), "s"),
        "substring.pairs": (counts["substring_pairs"], "count"),
        "cluster.s": (tracer.duration("cluster"), "s"),
        "cluster.jobs": (jobs_between(eng["job_starts"], cl.start, cl.end), "count"),
        "cluster.components": (counts["components"], "count"),
        "cluster.largest": (counts["largest"], "count"),
        "trace.untraced_s": (untraced["wall_s"], "s"),
        "trace.traced_s": (traced["wall_s"], "s"),
        "trace.overhead_s": (traced["wall_s"] - untraced["wall_s"], "s"),
        "spark.jobs": (len(eng["jobs"]), "count"),
        "spark.driver_s": (eng["driver_s"], "s"),
        "spark.python_s": (eng["python_s"], "s"),
        "spark.arrow_sent_mb": (eng["arrow_sent_mb"], "MB"),
        "spark.arrow_recv_mb": (eng["arrow_recv_mb"], "MB"),
        "jvm.heap_peak_mb": (eng["JVMHeapMemory"], "MB"),
        "spark.exec_mem_peak_mb": (eng["OnHeapExecutionMemory"], "MB"),
        "spark.storage_mem_peak_mb": (eng["OnHeapStorageMemory"], "MB"),
    }
    tags = eng["by_tag"].values()
    for key, field in (("task_s", "run_s"), ("gc_s", "gc_s"),
                       ("shuffle_write_mb", "shuffle_write_mb"),
                       ("spill_mb", "spill_mb")):
        m[f"spark.{key}"] = (sum(t[field] for t in tags), "MB" if "mb" in key else "s")
    for tag in PIPELINE_TAGS:
        t = eng["by_tag"].get(f"europa:{tag}", {})
        m[f"pipeline.{tag}.task_s"] = (t.get("run_s", 0.0), "s")
        m[f"pipeline.{tag}.gc_s"] = (t.get("gc_s", 0.0), "s")
        m[f"pipeline.{tag}.shuffle_mb"] = (t.get("shuffle_write_mb", 0.0), "MB")
        m[f"pipeline.{tag}.spill_mb"] = (t.get("spill_mb", 0.0), "MB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
