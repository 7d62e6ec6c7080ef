"""Lakehouse benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload ingest_medallion --seed 7 --seconds 20 --trace 0

Run from the repository root.  It generates the workload's inputs from
the seed under a fresh temporary root inside the checkout
(``.perfbench_tmp/``, deleted on exit), builds the engine's
SparkSession through ``session.get_spark`` with a sandbox profile set
through the engine's own environment knobs, runs the workload's closed
loop (a number of timed operations that scales with ``--seconds``),
checks the outputs, and prints a human-readable report followed by one
JSON line.

``--trace 0`` reports the end-to-end metrics and appends its operation
median to ``.perfbench_tmp/untraced.jsonl``.  ``--trace 1`` runs with the
Spark event log on and a span (with its own Spark job group) around
every public call into each layer, and reports the per-layer metrics;
its tracing overhead is measured against the untraced runs recorded in
that file (one is made first, in a child process, if there is none).
See README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "tlcn_oer_lakehouse_spark"
SETUPS = 3  # session set-ups per run; setup_s is their median

END_TO_END = (
    ("setup_s", "s"),
    ("op_s.p50", "s"),
    ("items_per_s", "1/s"),
)
# per-layer counts besides the span table: (name, unit)
LAYER_COUNTS = (
    ("sinks.changed_frac", "ratio"),
    ("sinks.files_per_snapshot", "count"),
    ("sinks.bytes_per_row", "B"),
    ("sinks.write_bytes_per_input_byte", "ratio"),
    ("sources.quarantined_frac", "ratio"),
    ("streaming.rows_per_trigger", "count"),
    ("operators.dedup.pairs_found", "count"),
    ("operators.dedup.recall", "ratio"),
    ("queries.input_rows_per_result", "count"),
    ("session.cold_start_s", "s"),
    ("trace.span_coverage", "ratio"),
    ("trace.overhead_s", "s"),
    ("trace.overhead_frac", "ratio"),
)
_ECHO_CONF = (
    "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
    "spark.local.dir", "spark.sql.warehouse.dir", "spark.eventLog.enabled",
    "spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold",
)


def sandbox_profile(tmp: str, trace: bool) -> dict[str, str]:
    """Size the session for this host through the engine's env knobs
    (``session.get_spark`` would otherwise default to 32 cores and a
    24 GB heap) and keep every scratch path under ``tmp``.  Returns the
    extra Spark conf."""
    cpus = len(os.sched_getaffinity(0))
    phys_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    mem_gb = int(max(1, min(4, phys_gb // 4)))
    for d in ("local", "pytmp", "jvmtmp", "eventlog"):
        os.makedirs(os.path.join(tmp, d))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "local")
    os.environ["TMPDIR"] = os.path.join(tmp, "pytmp")
    conf = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        # PerfDisableSharedMem: the JVM keeps its perf counters off the
        # system temp dir (no hsperfdata file)
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp}/jvmtmp -XX:+PerfDisableSharedMem",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


class Bench:
    """Run state shared with the workloads: seed, budget, temp root,
    the live SparkSession and the tracer."""

    clock = staticmethod(time.perf_counter)

    def __init__(self, args, tmp: str, conf: dict[str, str], tracer) -> None:
        self.seed = args.seed % 2**32  # numpy seed sequences take no negatives
        self.seconds = args.seconds
        self.tmp = tmp
        self.conf = conf
        self.tracer = tracer
        self.spark = None
        self.setup_s: list[float] = []

    def build_session(self) -> float:
        """get_spark → first job done; returns the elapsed seconds."""
        from tlcn_oer_lakehouse_spark.session import get_spark

        tr = self.tracer
        tr.phase = "setup"
        tr.spark = None  # no context to tag until get_spark returns
        t0 = self.clock()
        with tr.span("session.get_spark") as sp:
            self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
            if tr.enabled:
                tr.spark = self.spark
                tr.claim(sp)
            self.spark.range(1).count()
        if tr.enabled:
            tr.release()
        return self.clock() - t0

    def setup(self) -> None:
        """SETUPS set-ups: the first launches the JVM, the rest stop the
        session and build it again in the running JVM."""
        for i in range(SETUPS):
            if i:
                self.spark.stop()
            self.setup_s.append(self.build_session())

    def shutdown(self) -> float:
        """Stop the session and the JVM, wait for it, and return the
        peak RSS in MB of the JVM plus this interpreter."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        kb = (resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss
              + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss)
        return kb / 1024.0


def echo_config(spark) -> None:
    conf = dict(spark.sparkContext.getConf().getAll())
    print("profile: " + " ".join(
        f"{k}={os.environ[k]}" for k in
        ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM", "SPARK_LOCAL_DIRS")
    ))
    print("spark conf: " + " ".join(f"{k}={conf[k]}" for k in _ECHO_CONF if k in conf))


def _untraced_log() -> str:
    return os.path.join(ROOT, ".perfbench_tmp", "untraced.jsonl")


def record_untraced(args, op_p50: float) -> None:
    os.makedirs(os.path.dirname(_untraced_log()), exist_ok=True)
    with open(_untraced_log(), "a") as f:
        f.write(json.dumps({"workload": args.workload, "seconds": args.seconds,
                            "seed": args.seed, "op_s.p50": op_p50}) + "\n")


def untraced_baseline(args) -> float | None:
    """Median operation latency of the untraced runs of this workload and
    budget recorded in this checkout; with none recorded, run one (same
    seed) in a child process first."""
    def recorded() -> list[float]:
        if not os.path.exists(_untraced_log()):
            return []
        with open(_untraced_log()) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        return [r["op_s.p50"] for r in rows
                if r["workload"] == args.workload and r["seconds"] == args.seconds]

    if not recorded():
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                       stderr=subprocess.DEVNULL, timeout=170, check=False)
    values = recorded()
    return statistics.median(values) if values else None


def install_spans(tracer) -> None:
    """Wrap the public entry points of each layer for this process."""
    from tlcn_oer_lakehouse_spark.pipelines import medallion
    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable
    from tlcn_oer_lakehouse_spark.sources import bronze_json

    tracer.wrap(bronze_json, "read_bronze_json", "sources.read_bronze_json")
    tracer.wrap(bronze_json, "split_corrupt", "sources.split_corrupt")
    tracer.wrap(medallion, "run_silver", "pipelines.run_silver")
    tracer.wrap(ParquetMergeTable, "merge_upsert", "sinks.merge_upsert")
    tracer.wrap(ParquetMergeTable, "merge_delete", "sinks.merge_delete")


def main() -> int:
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if importlib.util.find_spec(PACKAGE) is None or importlib.util.find_spec("pyspark") is None:
        print(f"perfbench: {PACKAGE} or pyspark not importable from {ROOT}", file=sys.stderr)
        return 2

    untraced = untraced_baseline(args) if args.trace else None
    import spans as tracing

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(tmp)
    tracer = tracing.Tracer() if args.trace else tracing.NullTracer()
    bench = Bench(args, tmp, sandbox_profile(tmp, bool(args.trace)), tracer)
    print(f"perfbench workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    try:
        if args.trace:
            install_spans(tracer)
        bench.setup()
        echo_config(bench.spark)
        out = workloads.WORKLOADS[args.workload](bench)
        peak_mb = bench.shutdown()
        if args.trace:
            tracer.unwrap_all()
            tracer.attribute(os.path.join(tmp, "eventlog"))
    finally:
        bench.shutdown()  # idempotent: a no-op after the normal shutdown
        shutil.rmtree(tmp, ignore_errors=True)

    ops = out.op_s
    e2e = {
        "setup_s": statistics.median(bench.setup_s),
        "op_s.p50": workloads.quantile(ops, 0.5),
        "items_per_s": out.items / sum(ops) if ops else 0.0,
    }
    print(f"setups: cold {bench.setup_s[0]:.3f} s, then "
          + ", ".join(f"{s:.3f}" for s in bench.setup_s[1:]) + " s")
    for name, ok, detail in out.checks:
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}")
    print(f"operations timed: {len(ops)} ("
          + ", ".join(f"{x:.3f}" for x in ops) + " s); "
          f"attempted {out.attempted}, failed {out.failed}, "
          f"error_rate {out.failed / max(1, out.attempted):.4f} ratio")
    units = dict(END_TO_END)
    for k, v in e2e.items():
        print(f"  {k:<34} {v:14.4f} {units[k]}")
    # reported, not gated: whether the JVM grows its heap once more makes
    # the peak bimodal across runs (e.g. 1.8 vs 2.5 GB on dedup_stream)
    print(f"  {'peak_rss_mb':<34} {peak_mb:14.4f} MB")
    for k, (v, unit) in out.report.items():
        print(f"  {args.workload}.{k:<{33 - len(args.workload)}} {v:14.4f} {unit}")

    if args.trace:
        n_ops = len(ops)
        metrics = {
            k: {"value": v, "unit": u}
            for k, (v, u) in tracer.layer_metrics(("setup", "timed"), n_ops, SETUPS).items()
        }
        counts = dict(out.counts)
        n_results = counts.pop("queries.result_rows", 0)
        if n_results:
            counts["queries.input_rows_per_result"] = (
                tracer.input_records("queries.collect", "timed") / n_results
            )
        counts["session.cold_start_s"] = bench.setup_s[0]
        counts["trace.span_coverage"] = tracer.coverage("timed")
        if untraced is not None:
            counts["trace.overhead_s"] = e2e["op_s.p50"] - untraced
            counts["trace.overhead_frac"] = (e2e["op_s.p50"] - untraced) / untraced
        for k, unit in LAYER_COUNTS:
            metrics[k] = {"value": float(counts.get(k, 0.0)), "unit": unit}
        print(f"{'span':<28}" + "".join(f"{f:>14}" for f, _ in tracing.SPAN_FIELDS))
        for name in tracing.SPANS:
            print(f"{name:<28}" + "".join(
                f"{metrics[f'{name}.{f}']['value']:14.4g}" for f, _ in tracing.SPAN_FIELDS
            ))
        for k, unit in LAYER_COUNTS:
            print(f"  {k:<34} {metrics[k]['value']:14.4f} {unit}")
        if untraced is not None:
            print(f"tracing overhead: op_s.p50 traced {e2e['op_s.p50']:.4f} s vs "
                  f"untraced median {untraced:.4f} s")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
        if ops and out.failed == 0:
            record_untraced(args, e2e["op_s.p50"])

    correct = out.failed == 0 and bool(ops)
    print(json.dumps({"correct": correct, "attempted": max(1, out.attempted),
                      "failed": out.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
