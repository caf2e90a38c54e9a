"""Benchmark of the dedup engine: one workload per process on local[nproc].

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Prints every metric as ``metric <name> <value> <unit>`` and, as the last
line of stdout, one JSON object {correct, attempted, failed, metrics}.
``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs a
separate traced pass and reports the per-layer metrics. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

WORKLOADS = ("crawl_mix", "incremental_ingest")
# seconds one measured unit (a dedup pass, or one increment) takes on the
# 4-core reference host: --seconds becomes a fixed unit count, so every
# run of a workload does the same work whatever the host's speed
NOMINAL_UNIT_S = {"crawl_mix": 10.0, "incremental_ingest": 25.0}
SHUFFLE_PARTITIONS = 8
DRIVER_MEMORY = "2g"
RECALL_MIN = 0.99  # BASELINE.json's dup-pair recall bar
SIDE_INGEST_MOD = 8  # traced crawl_mix: 1/8 of the corpus is the increment


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def host_info() -> dict:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
    }


def start_session(run_dir: str, nproc: int, trace: bool):
    from mediaduplicatefinder_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed heap (-Xms = -Xmx): heap resizing follows GC timing, which
        # would make peak RSS vary with host load rather than with the work;
        # no perf-data file, which the JVM would keep in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark(
        "perfbench",
        parallelism=nproc,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )


def peak_rss_mb(spark) -> float:
    """JVM VmHWM (from /proc) plus this driver process's max RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024.0


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def stop_session(spark) -> None:
    """Stop Spark, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


class Run:
    """State of one benchmark process: session, inputs, units and gates."""

    def __init__(self, workload, seconds, spark, inputs, run_dir, tracer=None):
        self.spark, self.inputs = spark, inputs
        self.run_dir, self.tracer = run_dir, tracer
        self.units: list[float] = []
        self.unit_docs: list[int] = []
        self.gates: list[dict] = []
        self.attempted = self.failed = 0
        self.ref_digest = None
        self.out = os.path.join(run_dir, "clusters")
        self.n_units = max(1, round(seconds / NOMINAL_UNIT_S[workload]))

    @staticmethod
    def timed(work):
        """-> (wall seconds, result)"""
        t0 = time.perf_counter()
        res = work()
        return time.perf_counter() - t0, res

    # ---- gating ----
    def gate(self, clusters, pairs, truth, check_digest: bool) -> bool:
        from perfbench import gates

        rec, n_planted = gates.recall(clusters, truth)
        g = {
            "recall": rec,
            "planted_pairs": n_planted,
            "false_pairs": gates.false_pairs(pairs, truth),
            "digest": gates.digest(clusters),
        }
        g["ok"] = g["recall"] >= RECALL_MIN and g["false_pairs"] == 0
        if check_digest:
            if self.ref_digest is None:
                self.ref_digest = g["digest"]
            g["ok"] = g["ok"] and g["digest"] == self.ref_digest
        self.gates.append(g)
        if not g["ok"]:
            print(f"perfbench: gate failed: {g}", file=sys.stderr)
        return g["ok"]

    def count_unit(self, fn) -> None:
        """Run one gated operation; an exception or a failed gate counts
        as failed."""
        self.attempted += 1
        try:
            ok = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        self.failed += not ok

    # ---- batch dedup (crawl_mix) ----
    def batch_pass(self, path: str):
        from mediaduplicatefinder_spark.pipeline import run_dedup

        def work():
            res = run_dedup(self.spark, self.spark.read.parquet(path))
            res.clusters.write.mode("overwrite").parquet(self.out)
            res.metrics.collect()
            return res

        return self.timed(work)

    def gate_batch(self, verified, truth) -> bool:
        import pandas as pd

        clusters = pd.read_parquet(self.out, columns=["url", "cluster_id", "kind"])
        pairs = verified.filter("similar").select("url_a", "url_b").toPandas()
        return self.gate(clusters, pairs, truth, True)

    def gate_release(self, res, truth) -> bool:
        ok = self.gate_batch(res.pairs, truth)
        res.cleanup()
        return ok

    def batch_unit(self, path: str, truth, n_docs: int) -> bool:
        dt, res = self.batch_pass(path)
        self.units.append(dt)
        self.unit_docs.append(n_docs)
        return self.gate_release(res, truth)

    def setup_batch(self, path: str, truth) -> float:
        dt, res = self.batch_pass(path)  # warm-up: JIT, python workers
        self.count_unit(lambda: self.gate_release(res, truth))
        return dt

    def traced_batch_pair(self, path: str, truth, traced_first: bool) -> bool:
        """One untraced pass and the same work layer by layer; callers
        alternate the order so JIT warm-up does not favour one side."""
        from perfbench.spans import layered_pass

        def untraced():
            with self.tracer.span("untraced_pass"):
                _, res = self.batch_pass(path)
            return self.gate_release(res, truth)

        def traced():
            verified, held = layered_pass(self.spark, self.tracer, path, self.out)
            ok = self.gate_batch(verified, truth)
            for df in held:
                df.unpersist()
            return ok

        steps = (traced, untraced) if traced_first else (untraced, traced)
        return all([step() for step in steps])

    # ---- incremental ingest ----
    def ingest(self, pages_df, db: str):
        from mediaduplicatefinder_spark import incremental

        return self.timed(lambda: incremental.ingest_batch(self.spark, pages_df, db))

    def store_state(self, db: str):
        from pyspark.sql import functions as F

        sp = self.spark
        for t in ("labels", "members", "shas"):
            sp.catalog.refreshTable(f"{db}.{t}")
        labels = sp.table(f"{db}.labels").select(
            "url", "cluster_id", F.lit("SIMILAR").alias("kind")
        )
        exact = (
            sp.table(f"{db}.members")
            .join(sp.table(f"{db}.shas").filter(F.col("n_dups") >= 2), "sha256")
            .select("url", "cluster_id", F.lit("EXACT").alias("kind"))
        )
        return labels.unionByName(exact).toPandas()

    def gate_ingest(self, res, db: str, truth) -> bool:
        pairs = res.new_edges.select("url_a", "url_b").toPandas()
        return self.gate(self.store_state(db), pairs, truth, False)


def _urls(paths) -> set:
    import pyarrow.parquet as pq

    return {u for p in paths for u in pq.read_table(p, columns=["url"]).column(0).to_pylist()}


def run_crawl_mix(run: Run) -> float:
    """-> set-up seconds past session start (the warm-up pass)."""
    inp = run.inputs
    path, truth, n_docs = inp.pages[0], inp.truth, inp.n_docs(0)
    setup_s = run.setup_batch(path, truth)
    for i in range(run.n_units):
        if run.tracer is None:
            run.count_unit(lambda: run.batch_unit(path, truth, n_docs))
        else:
            run.count_unit(lambda: run.traced_batch_pair(path, truth, i % 2 == 1))
    if run.tracer is not None:
        side_ingest(run, path, truth, inp.n_bytes(0))
    return setup_s


def side_ingest(run: Run, path: str, truth, n_bytes: int) -> None:
    """Traced crawl_mix only: the corpus as a base store plus one
    increment, so the incremental layer is measured on this input too."""
    from pyspark.sql import functions as F

    from mediaduplicatefinder_spark import incremental

    db = "perfbench_side"
    incremental.init_store(run.spark, db)
    pages = run.spark.read.parquet(path)
    inc = F.pmod(F.xxhash64("url"), F.lit(SIDE_INGEST_MOD)) == 0
    with run.tracer.span("incremental_base"):
        run.ingest(pages.filter(~inc), db)
    with run.tracer.span("incremental") as c:
        _, res = run.ingest(pages.filter(inc), db)
        c["docs"] = res.n_new
    c["store_files"] = store_files(run, db)
    c["input_mb"] = n_bytes / 2**20
    run.count_unit(lambda: run.gate_ingest(res, db, truth))


def store_files(run: Run, db: str) -> dict:
    base = os.path.join(run.run_dir, "warehouse", f"{db}.db")
    out = {}
    for table in sorted(os.listdir(base)):
        files = [
            os.path.join(d, n)
            for d, _, names in os.walk(os.path.join(base, table))
            for n in names
            if not n.startswith((".", "_"))
        ]
        out[table] = {"files": len(files), "mb": sum(map(os.path.getsize, files)) / 2**20}
    return out


def run_incremental(run: Run) -> float:
    """-> set-up seconds past session start (the base-store build)."""
    from mediaduplicatefinder_spark import incremental

    inp, sp = run.inputs, run.spark
    db = "perfbench_store"
    incremental.init_store(sp, db)
    if run.tracer is None:
        base_s, res = run.ingest(sp.read.parquet(inp.pages[0]), db)
    else:
        with run.tracer.span("incremental_base"):
            base_s, res = run.ingest(sp.read.parquet(inp.pages[0]), db)
    seen = _urls(inp.pages[:1])
    run.count_unit(lambda: run.gate_ingest(res, db, inp.truth[inp.truth.url.isin(seen)]))
    input_mb = inp.n_bytes(0) / 2**20

    n = min(run.n_units, len(inp.pages) - 1)
    for i in range(1, n + 1):
        seen |= _urls(inp.pages[i : i + 1])
        truth = inp.truth[inp.truth.url.isin(seen)]
        input_mb += inp.n_bytes(i) / 2**20

        def unit(i=i, truth=truth):
            df = sp.read.parquet(inp.pages[i])
            if run.tracer is None:
                dt, res = run.ingest(df, db)
            else:
                with run.tracer.span("incremental") as c:
                    dt, res = run.ingest(df, db)
                    c["docs"] = res.n_new
                c["store_files"] = store_files(run, db)
                c["input_mb"] = input_mb
            run.units.append(dt)
            run.unit_docs.append(res.n_new)
            return run.gate_ingest(res, db, truth)

        run.count_unit(unit)
    if run.gates:
        print(f"info final_store_digest {run.gates[-1]['digest']}")
    if run.tracer is not None:
        # the batch layers, measured on the base corpus
        base_truth = inp.truth[inp.truth.url.isin(_urls(inp.pages[:1]))]
        run.count_unit(lambda: run.traced_batch_pair(inp.pages[0], base_truth, False))
    return base_s


def end_to_end(run: Run, setup_s: float, rss_mb: float) -> dict:
    units = run.units
    return {
        "docs_per_s": (sum(run.unit_docs) / sum(units), "docs/s"),
        "pass_s": (statistics.median(units), "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "mediaduplicatefinder_spark")):
        print(f"perfbench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d))
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM

    from perfbench import inputs as inputs_mod
    from perfbench.spans import Tracer

    host = host_info()
    inp = inputs_mod.materialize(args.workload, args.seed, os.path.join(WORK, "inputs"))

    t0 = time.perf_counter()
    spark = start_session(run_dir, host["nproc"], bool(args.trace))
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark.sparkContext, t0) if args.trace else None
    run = Run(args.workload, args.seconds, spark, inp, run_dir, tracer)
    try:
        runner = run_crawl_mix if args.workload == "crawl_mix" else run_incremental
        steal0 = host_cpu_ticks()
        setup_s = session_s + runner(run)
        steal1 = host_cpu_ticks()
        rss = peak_rss_mb(spark)
    finally:
        stop_session(spark)

    if tracer is not None:
        from perfbench.spans import event_log_file

        tracer.attach_event_log(event_log_file(os.path.join(run_dir, "events")))
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        span_file = os.path.join(WORK, "traces", f"{args.workload}-s{args.seed}.json")
        tracer.dump(span_file)
        print(f"info spans {span_file}")
        from perfbench.report import per_layer

        metrics = per_layer(tracer, session_s)
    elif run.units:
        metrics = end_to_end(run, setup_s, rss)
    else:
        print("perfbench: no measured unit completed", file=sys.stderr)
        return 1

    for k, v in host.items():
        print(f"info {k} {v}")
    steal_frac = (steal1[0] - steal0[0]) / max(steal1[1] - steal0[1], 1)
    print(f"info host_steal_frac {steal_frac:.4f}")
    print(f"info workload {args.workload} seed {args.seed} units {len(run.units)}")
    if run.units:
        q = statistics.quantiles(run.units, n=4) if len(run.units) > 1 else [run.units[0]] * 3
        print(f"info unit_s q1 {q[0]:.4f} median {q[1]:.4f} q3 {q[2]:.4f}")
    recall = min((g["recall"] for g in run.gates), default=float("nan"))
    false_pairs = sum(g["false_pairs"] for g in run.gates)
    failed_frac = run.failed / max(run.attempted, 1)
    print(f"gate recall {recall:.6f} (min over {len(run.gates)} gated passes)")
    print(f"gate false_pairs {false_pairs}")
    print(f"gate failed_frac {failed_frac:.4f}")
    for name, (value, unit) in metrics.items():
        print(f"metric {name} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
