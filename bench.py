"""Benchmark runner — the driver's per-round performance probe.

Runs the headline queries (tag "bench" in the registry) at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:
``{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}``.

Each query is forced to full execution via a count-style action that
consumes every row (``write.format("noop")``) so the measured time is the
whole plan, not a limit-k shortcut.

Fault isolation: every query (and every stage probe) runs inside its own
try/except — a failing builder costs one ``{"err": ...}`` row in the
output, never the whole JSON line.  Round 3 lost its entire perf signal
because one broken loader aborted the loop before anything printed.

Median timing (VERDICT r04 #3): a one-shot timing whipsaws ±40% with
host load (r04 measured 10.0 s for a query whose own stage probe read
4.3 s in the same process).  Each query now runs once un-timed (JVM
codegen + parquet-footer warmup) then ``RUNS`` timed repetitions;
``queries`` reports the per-query MEDIAN, ``queries_min`` the best
case (closest to a quiet host), and ``value`` the sum of medians.
Any persisted intermediates left by a builder are dropped between
repetitions (and between queries) so every timed rep pays its own
cached stages — a persisting builder must not read warm while a
non-persisting one reads cold.

``calibration_sec`` (round 8+): a fixed single-stage scan-agg timed
with the same protocol, so cross-round headline ratios can be deflated
for host load in-band (see ``_calibration``).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tlcn_oer_lakehouse_spark.queries import REGISTRY
from tlcn_oer_lakehouse_spark.session import get_spark


RUNS = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="bench")

    bench_specs = {n: s for n, s in sorted(REGISTRY.items()) if "bench" in s.tags}

    timings: dict[str, object] = {}
    minimums: dict[str, float] = {}
    errors = 0
    for name, spec in bench_specs.items():
        try:
            # one un-timed warmup: JVM codegen, parquet footers, broadcast
            spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
            reps: list[float] = []
            for _ in range(RUNS):
                # drop any persisted intermediates the previous rep left
                # (ADVICE r7: a builder that persists would otherwise pay
                # its cached stage only on the warmup, biasing every
                # timed rep low vs non-persisting builders)
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                spec.builder(spark, sf_dir).write.format("noop").mode("overwrite").save()
                reps.append(time.perf_counter() - t0)
            reps.sort()
            timings[name] = round(reps[len(reps) // 2], 4)
            minimums[name] = round(reps[0], 4)
        except Exception as exc:  # noqa: BLE001 — one row, not the round
            errors += 1
            timings[name] = {"err": f"{type(exc).__name__}: {exc}"[:500]}
        finally:
            # builders that persist intermediates (dedup, graph, auc)
            # must not accumulate cache across queries/repetitions
            spark.catalog.clearCache()

    try:
        stages = _stage_timings(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        stages = {"err": f"{type(exc).__name__}: {exc}"[:500]}

    # host-noise calibration (VERDICT r7 #4): a fixed single-stage
    # scan-agg timed with the same median protocol.  The plan is
    # untouched round-over-round, so the ratio of two rounds'
    # calibration_sec deflates their headline totals in-band — the r7
    # driver bench read ~1.36× high purely from host load and needed an
    # out-of-band re-run to adjudicate.
    try:
        calibration = _calibration(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        calibration = {"err": f"{type(exc).__name__}: {exc}"[:500]}

    # second calibration tier (VERDICT r9 #3): the single-stage scan-agg
    # is I/O-bound and moved the OPPOSITE direction from the r8→r9
    # headline drift (0.80× vs 1.14×) — the sf0.1 bench is scheduler/
    # orchestration-bound, so host drift needs a MULTI-STAGE probe to
    # deflate it.  calibration_multi_sec times a fixed ~10-stage plan
    # (3-join TPC-H shape + group + window) with the same protocol;
    # comparing rounds, divide headline totals by the ratio of
    # calibration_multi_sec for scheduler drift and calibration_sec for
    # I/O drift — if both ratios agree, the residual is code.
    try:
        calibration_multi = _calibration_multi(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001
        calibration_multi = {"err": f"{type(exc).__name__}: {exc}"[:500]}

    total = round(sum(t for t in timings.values() if isinstance(t, float)), 4)
    # Self-adjudicating comparisons (VERDICT r10 #4): two rounds running,
    # the 32-thread driver host manufactured 1.14-1.37× apparent
    # regressions on untouched code that needed an out-of-band 4-core
    # artifact to refute.  queries_norm divides each per-query median by
    # this run's multi-stage calibration — a fixed ~10-stage plan timed
    # under the same protocol in the same process — so BENCH_rN vs
    # BENCH_rN-1 per-query ratios cancel scheduler/host drift by
    # construction.  (value_norm is the normalized headline total.)
    queries_norm: dict[str, float] = {}
    value_norm = None
    if isinstance(calibration_multi, float) and calibration_multi > 0:
        queries_norm = {
            n: round(t / calibration_multi, 4)
            for n, t in timings.items()
            if isinstance(t, float)
        }
        value_norm = round(total / calibration_multi, 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "runs": RUNS,
        "queries": timings,
        "queries_min": minimums,
        "queries_norm": queries_norm,
        "value_norm": value_norm,
        "stages": stages,
        "calibration_sec": calibration,
        "calibration_multi_sec": calibration_multi,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if errors:
        result["errors"] = errors
    print(json.dumps(result))
    spark.stop()


def _calibration(spark, sf_dir: str) -> float:
    """Median time of a canonical single-stage scan-agg over lineitem —
    a fixed workload whose only round-over-round variable is the host.
    Divide two rounds' headline totals by the ratio of their
    calibration_sec values to compare them on a common footing."""
    from pyspark.sql import functions as F

    def plan():
        return (
            spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            .agg(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"),
                F.count(F.lit(1)).alias("n"),
            )
        )

    plan().write.format("noop").mode("overwrite").save()  # warmup
    reps = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        plan().write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    reps.sort()
    return round(reps[len(reps) // 2], 4)


def _calibration_multi(spark, sf_dir: str) -> float:
    """Median time of a FIXED multi-stage plan: lineitem⋈orders⋈customer
    (two fact-side shuffle joins), a grouped decimal aggregate, and one
    25-row ranking window — ~10 stages under AQE, the shape of the
    bench's own TPC-H headliners.  Untouched round-over-round, so its
    ratio between two rounds isolates SCHEDULER/orchestration drift the
    way the single-stage ``_calibration`` isolates I/O drift; the r8→r9
    adjudication needed out-of-band reruns precisely because the
    single-stage row couldn't see multi-stage host load."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def plan():
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
            "l_orderkey", "l_extendedprice"
        )
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
            "o_orderkey", "o_custkey"
        )
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
            "c_custkey", "c_nationkey"
        )
        agg = (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .join(cust, orders["o_custkey"] == cust["c_custkey"])
            .groupBy("c_nationkey")
            .agg(
                F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("rev"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        # nation-count rows only — the window is O(25), the stages are the point
        return agg.withColumn(
            "rk", F.row_number().over(Window.orderBy(F.col("rev").desc()))
        )

    plan().write.format("noop").mode("overwrite").save()  # warmup
    reps = []
    for _ in range(RUNS):
        t0 = time.perf_counter()
        plan().write.format("noop").mode("overwrite").save()
        reps.append(time.perf_counter() - t0)
    reps.sort()
    return round(reps[len(reps) // 2], 4)


def _stage_timings(spark, sf_dir: str) -> dict[str, float]:
    """Per-stage breakdown of the two slowest pipelines (VERDICT r01
    'Next round' #8) so a regression inside the dedup path is visible
    against a non-noise-dominated number: each stage is forced to full
    execution independently (noop sink), so stage times overlap — they
    localize cost, they don't sum to the query time."""
    from tlcn_oer_lakehouse_spark.operators.dedup import (
        _nonempty,
        jaccard_verify_arrays,
        minhash_doc_arrays,
        minhash_lsh_candidate_pairs,
        minhash_signatures,
    )
    from tlcn_oer_lakehouse_spark.queries.textops import augmented_corpus
    from tlcn_oer_lakehouse_spark.queries.traindata import contamination_check

    def run(name: str, df) -> float:
        t0 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        return round(time.perf_counter() - t0, 4)

    out: dict[str, object] = {}
    try:
        # r11: the probes follow dedup_minhash_lsh's array-form rebuild
        # (operators/dedup.py:minhash_near_duplicates) — same four stage
        # keys, now timing the per-doc array build (shingles), the
        # explode-from-cache signatures, the banded candidates, and the
        # array-intersect verify.  OPTIMIZATION_r11.md records the
        # old-shape numbers beside these.
        corpus = augmented_corpus(spark, sf_dir)
        base = minhash_doc_arrays(corpus, "doc_id", "text", 3).persist()
        out["minhash.shingles"] = run("shingles", base)
        arr = _nonempty(base)
        sigs = minhash_signatures(arr, 16).persist()
        out["minhash.signatures"] = run("signatures", sigs)
        cands = minhash_lsh_candidate_pairs(sigs, 16, 4).persist()
        out["minhash.candidates"] = run("candidates", cands)
        out["minhash.verify"] = run("verify", jaccard_verify_arrays(cands, arr))
        for df in (cands, sigs, base):
            df.unpersist()
    except Exception as exc:  # noqa: BLE001
        out["minhash.err"] = f"{type(exc).__name__}: {exc}"[:500]
    try:
        spark.catalog.clearCache()  # cold start: train agg pays inside the timer
        out["contamination.full"] = run(
            "contamination", contamination_check(spark, sf_dir)
        )
    except Exception as exc:  # noqa: BLE001
        out["contamination.err"] = f"{type(exc).__name__}: {exc}"[:500]
    try:
        from tlcn_oer_lakehouse_spark.queries.traindata import (
            contamination_check_scalable,
        )

        # the Bloom-gated twin beside the ungated number, so the gate's
        # cost profile stays visible in every round's BENCH record.
        # Plan construction is lazy (static-bound Bloom sizing, ADVICE
        # r7) and the cache is cleared first, so BOTH variants pay their
        # train-side aggregation inside the timed write — the r7 numbers
        # let the gated side reuse a train set cached at build time,
        # understating its cost.  With honest accounting the r9
        # register-blocked gate measures within ~3-10% of ungated at
        # sf0.1-sf1.0 (train aggregation dominates a self-contained
        # run); the gate's structural win is the deployment shape where
        # the train Bloom is persisted and only the test stream scans.
        spark.catalog.clearCache()
        out["contamination.bloom_gated"] = run(
            "contamination_bloom", contamination_check_scalable(spark, sf_dir)
        )
        spark.catalog.clearCache()  # the gated builder persists its train set
    except Exception as exc:  # noqa: BLE001
        out["contamination.bloom_err"] = f"{type(exc).__name__}: {exc}"[:500]
    return out


if __name__ == "__main__":
    main()
