"""europa-spark benchmark: one command, seeded workloads, checked outputs.

    python3 perfbench/run.py --workload pipeline-uniform --seed 1 \
        --seconds 26 --trace 0

Run from the repository root. One process drives ``europa_spark`` through
its public functions on ``local[<cores>]``. Each workload is a closed loop
with one client: the next ``pipeline.run`` pass starts when the previous one
has returned, and every pass is checked against the planted truth.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the traced
pass and prints the per-layer metrics. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. Everything the
run writes goes to ``perfbench/.work``. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_PROCESS = time.time()  # set-up is timed from here  # noqa: E402

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

WORKLOADS = ("pipeline-uniform", "pipeline-clique")
ROWS = 5000

# The benchmark's own session settings. build_session defaults the driver
# heap to 24g, more than a 15 GB host has. The 2g heap is committed and
# touched at start-up: a lazily grown heap made peak RSS and pass times
# wander by a fifth to a third from run to run.
SPARK_CONF = {
    "spark.driver.memory": "2g",
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    # JVM scratch inside the work dir; no hsperfdata file in /tmp
    "spark.driver.extraJavaOptions":
        f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
        " -Xms2g -XX:+AlwaysPreTouch",
}
EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
    # TaskEnd events then carry the heap and memory-pool peaks
    "spark.executor.metrics.pollingInterval": "100ms",
}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=26.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "europa_spark", "pipeline.py")):
        print(f"perfbench: no europa_spark package under {ROOT}", file=sys.stderr)
        return 2

    for d in ("tmp", "spark-local", "results", "traces", "eventlog"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # Python workers import europa_spark too; scratch stays inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(WORK, "spark-local")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)

    from procmem import TreeMemory

    rss = TreeMemory()
    rss.start()
    bench = Bench(args)
    try:
        result = bench.run_traced() if args.trace else bench.run_timed(rss)
    finally:
        bench.stop()
        rss.stop()
    if result is None:
        return 1
    bench.record(result, {k: v / 1e6 for k, v in rss.parts.items()})
    print(json.dumps(result))
    return 0


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.cores = len(os.sched_getaffinity(0))
        self.run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
        self.spark = None
        self.conf = dict(SPARK_CONF)
        if args.trace:
            self.conf.update(EVENT_LOG_CONF)
            self.log_dir = os.path.join(WORK, "eventlog", self.run_id)
            os.makedirs(self.log_dir)
            self.conf["spark.eventLog.dir"] = f"file://{self.log_dir}"
        self.ops: list[dict] = []

    # ---- set-up ---------------------------------------------------------
    def setup(self) -> None:
        """Corpus, session, and truth. On a cache miss the corpus is built
        into the cache first, and every run then loads it from the cache;
        ``corpus_build_s`` records the build, which setup_s leaves out."""
        from checks import truth_map
        from workloads import ensure_corpus, load_truth, pipeline_config

        from europa_spark.session import build_session

        t0 = time.time()
        self.corpus_dir, self.cache_hit = ensure_corpus(
            self.args.workload, ROWS, self.args.seed, WORK, ROOT
        )
        self.corpus_build_s = time.time() - t0
        self.cfg = pipeline_config(ROWS)
        self.spark = build_session(
            app_name=f"perfbench-{self.args.workload}",
            master=f"local[{self.cores}]",
            extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.truth = load_truth(self.corpus_dir)
        self.want = truth_map(self.truth.clusters)
        self.docs = self.spark.read.parquet(
            os.path.join(self.corpus_dir, "documents.parquet")
        )
        self.n_docs = self.docs.count()

    def stop(self) -> None:
        """Stop the session and the JVM, and wait for them to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway, SparkContext._gateway = SparkContext._gateway, None
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=120)

    # ---- one operation --------------------------------------------------
    def op(self, kind: str, fn) -> dict:
        """Run one checked operation; an exception or a wrong answer
        counts as a failed operation."""
        t0 = time.time()
        try:
            wall, problems = fn()
        except Exception:  # noqa: BLE001 - a failed pass is a measured outcome
            traceback.print_exc()
            wall, problems = time.time() - t0, ["raised"]
        rec = {"kind": kind, "start": t0, "wall_s": wall, "problems": problems}
        if problems:
            print(f"perfbench: {kind} pass failed: {problems}", file=sys.stderr)
        self.ops.append(rec)
        return rec

    def pipeline_pass(self) -> tuple[float, list[str]]:
        from checks import components_problems, report_problems
        from pyspark.sql import functions as F

        from europa_spark.pipeline import run

        t0 = time.time()
        out = run(self.docs, self.cfg)
        try:
            comps = out["components"].toPandas()
            n_rows, n_dups = out["report"].agg(
                F.count("*"), F.sum(F.col("is_duplicate").cast("long"))
            ).first()
            wall = time.time() - t0
        finally:
            out["release"]()
        got = dict(zip(comps["url"], comps["cluster_id"]))
        return wall, components_problems(got, self.want) + report_problems(
            n_rows, n_dups or 0, self.n_docs - self.truth.n_quarantine, self.want
        )

    def _outcome(self, metrics: dict) -> dict:
        failed = sum(1 for o in self.ops if o["problems"])
        return {
            "correct": failed == 0,
            "attempted": len(self.ops),
            "failed": failed,
            "metrics": metrics,
        }

    # ---- timed run (--trace 0) -------------------------------------------
    def run_timed(self, rss) -> dict | None:
        self.setup()
        setup_s = time.time() - T_PROCESS - self.corpus_build_s
        cold = self.op("cold", self.pipeline_pass)
        # Warm passes run back to back while the next one, expected to take
        # as long as the last, still ends inside the window: a run measures
        # for at most --seconds (or one pass, if a pass is longer), so its
        # length stays bounded on a slow host.
        deadline = time.time() + self.args.seconds
        last = self.op("warm", self.pipeline_pass)
        # Memory grows a little with every pass, and how many passes fit
        # depends on the host's speed, so the peak is taken over a fixed
        # amount of work: set-up, the cold pass and one warm pass.
        peak_rss_mb = rss.peak_mb
        while time.time() + last["wall_s"] <= deadline:
            last = self.op("warm", self.pipeline_pass)
        warm = [o["wall_s"] for o in self.ops if o["kind"] == "warm"
                and not o["problems"]]
        if not warm:
            return None
        self.samples = {"setup_s": [setup_s], "cold_pass_s": [cold["wall_s"]],
                        "warm_pass_s": warm}
        return self._outcome({
            "setup_s": {"value": setup_s, "unit": "s"},
            "cold_pass_s": {"value": cold["wall_s"], "unit": "s"},
            "docs_per_s": {"value": self.n_docs / statistics.median(warm),
                           "unit": "docs/s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        })

    # ---- traced run (--trace 1) ------------------------------------------
    def run_traced(self) -> dict | None:
        import layers
        from spans import Tracer, event_log_file

        self.setup()
        self.op("cold", self.pipeline_pass)
        untraced = self.op("untraced", self.pipeline_pass)
        tracer = Tracer(self.run_id)
        counts: dict = {}
        traced = self.op(
            "traced", lambda: layers.traced_pass(self, tracer, counts)
        )
        t_stop = time.time()
        self.spark.stop()  # flushes the event log
        self.spark = None
        tracer.write(os.path.join(WORK, "traces", f"{self.run_id}.json"))
        if untraced["problems"] or traced["problems"]:
            return None
        t_parse = time.time()
        metrics = layers.layer_metrics(
            self.log_dir, WORK, untraced, traced, tracer, counts
        )
        print(f"perfbench: stop {t_parse - t_stop:.1f} s, event log "
              f"{os.path.getsize(event_log_file(self.log_dir)) / 1e6:.0f} MB "
              f"parsed in {time.time() - t_parse:.1f} s")
        shutil.rmtree(self.log_dir)  # tens of MB, mostly plan events
        self.samples = {"untraced_s": [untraced["wall_s"]],
                        "traced_s": [traced["wall_s"]]}
        return self._outcome(metrics)

    # ---- result record --------------------------------------------------
    def record(self, result: dict, memory_mb: dict) -> None:
        """Write the full record (host, Spark conf, code version, every
        sample) and print a readable summary ahead of the result line."""
        rec = {
            "run_id": self.run_id,
            "args": vars(self.args),
            "host": host_info(self.cores),
            "spark_conf": self.conf,
            "code": code_version(),
            "rows": ROWS,
            "docs": self.n_docs,
            "corpus_cache_hit": self.cache_hit,
            "corpus_build_s": self.corpus_build_s,
            "started": T_PROCESS,
            "samples": {k: describe(v) for k, v in self.samples.items()},
            "raw_samples": self.samples,
            "ops_failed_frac": result["failed"] / result["attempted"],
            "memory_mb": memory_mb,
            "ops": self.ops,
            "result": result,
        }
        path = os.path.join(WORK, "results", f"{self.run_id}.json")
        with open(path, "w") as f:
            json.dump(rec, f, indent=1)
        print(f"perfbench: {self.args.workload} seed={self.args.seed} "
              f"docs={self.n_docs} cores={self.cores} "
              f"ops_failed_frac={rec['ops_failed_frac']:.3f} record={path}")
        for k, v in rec["samples"].items():
            print(f"perfbench:   {k}: {json.dumps(v)}")
        for k, v in result["metrics"].items():
            print(f"perfbench:   {k} = {v['value']:.6g} {v['unit']}")


def describe(samples: list[float]) -> dict:
    """Median, plus the highest of p90/p95/p99 that has at least ten
    samples beyond it, with the sample count."""
    out = {"n": len(samples), "p50": statistics.median(samples)}
    for p in (99, 95, 90):
        if len(samples) * (100 - p) / 100 >= 10:
            out[f"p{p}"] = statistics.quantiles(samples, n=100)[p - 1]
            break
    return out


def host_info(cores: int) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(next(l for l in f if l.startswith("MemTotal")).split()[1])
    return {"cores": cores, "ram_gb": round(mem_kb / 2**20, 1),
            "python": sys.version.split()[0]}


def code_version() -> dict:
    """The git commit when run inside a clone, and always a hash of the
    library sources (a benchmark checkout need not be a git repository)."""
    h = hashlib.sha256()
    src = [os.path.join(ROOT, "__spark_entry__.py")] + sorted(
        os.path.join(ROOT, "europa_spark", p)
        for p in os.listdir(os.path.join(ROOT, "europa_spark"))
        if p.endswith(".py")
    )
    for p in src:
        with open(p, "rb") as f:
            h.update(f.read())
    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, check=False,
        ).stdout.strip() or None
    return {"git_commit": commit, "source_sha256": h.hexdigest()}


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
