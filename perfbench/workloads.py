"""The three workloads.  Each is a closed loop with one client: the next
operation starts when the previous one has returned.  An operation is

- ingest_medallion: one landing batch of bronze JSONL through
  ``run_silver_from_landing`` plus ``run_gold`` with its fact collected;
- dedup_stream: one landed parquet file through an availableNow
  ``near_dup_ingest`` query (one trigger: ``max_files_per_trigger=1``);
- rag_serve: one request, ``preprocess_query`` → ``fused_scores`` →
  top-10 ``collect()``.

One warm-up operation (two for rag_serve) runs first and is not timed;
then a fixed number of timed operations sized to ``--seconds`` (see
``Loop.timed``).  Correctness checks run after the loop and count as
operations.
"""

from __future__ import annotations

import math
import os
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.dataset as pads
import pyarrow.parquet as pq

import gen

INGEST_BATCH_RECORDS = 2_000
INGEST_INITIAL_RECORDS = 2_000
DEDUP_DOCS_PER_FILE = 500
RAG_DOCS = 5_000
RAG_VECTORS = 2_000
RAG_POOL = 200
RAG_WARMUP = 2
# timed operations per second of --seconds: at 10 s, 2 batches, 2 files and
# 8 requests — what fits in a ~45 s run on a 4-core host after the JVM
# start and the warm-up (README.md: sizes)
INGEST_OPS_PER_S = 0.2
DEDUP_OPS_PER_S = 0.2
RAG_OPS_PER_S = 0.8


@dataclass
class Outcome:
    """What one workload run measured and checked."""

    op_s: list[float] = field(default_factory=list)  # timed operation latencies
    items: int = 0  # records / documents / requests in timed operations
    attempted: int = 0
    failed: int = 0
    checks: list[tuple[str, bool, str]] = field(default_factory=list)
    # workload-specific end-to-end figures under the names users know
    report: dict[str, tuple[float, str]] = field(default_factory=dict)
    # per-layer counts (traced run)
    counts: dict[str, float] = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1
        self.checks.append((name, bool(ok), detail))

    def op_done(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method); 0 when
    nothing was timed (the run is then reported as failed)."""
    return float(np.quantile(np.asarray(values, dtype=float), q)) if values else 0.0


def _tree_files(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def _rows(table_path: str) -> int:
    """Row count of a merge-table head snapshot, read with pyarrow —
    independent of the engine's own read path (``_``-prefixed change
    logs and manifests are skipped by pyarrow's default ignore list)."""
    return pads.dataset(
        os.path.realpath(table_path), format="parquet", partitioning="hive"
    ).count_rows()


class Loop:
    """Closed-loop driver shared by the workloads: times each operation
    and tags its spans with the phase."""

    def __init__(self, bench, out: Outcome) -> None:
        self.bench = bench
        self.out = out

    def run(self, phase: str, fn) -> tuple[bool, float]:
        tr = self.bench.tracer
        tr.phase = phase
        t0 = self.bench.clock()
        ok = True
        try:
            with tr.span("perfbench.op"):
                ok = fn() is not False
        except Exception:  # noqa: BLE001 — an op failure is counted, not fatal
            traceback.print_exc()
            ok = False
        dt = self.bench.clock() - t0
        self.out.op_done(ok)
        return ok, dt

    def timed(self, step, ops_per_s: float) -> None:
        """Run ``step()`` (returns (ok, latency, items)) a fixed number of
        times, ``ops_per_s * --seconds`` and at least 2, rather than until
        a deadline: a run's median then never depends on whether one more
        operation fitted.  Stops early on a failure or once the timed
        operations have taken three times ``--seconds``."""
        n = max(2, round(ops_per_s * self.bench.seconds))
        while len(self.out.op_s) < n and sum(self.out.op_s) < 3 * self.bench.seconds:
            ok, dt, items = step()
            if not ok:
                return
            self.out.op_s.append(dt)
            self.out.items += items


# ---------------------------------------------------------------------------


def ingest_medallion(bench) -> Outcome:
    from tlcn_oer_lakehouse_spark.pipelines.medallion import (
        SilverWarehouse,
        run_gold,
        run_silver_from_landing,
    )

    spark, tr = bench.spark, bench.tracer
    out = Outcome()
    loop = Loop(bench, out)
    wh = os.path.join(bench.tmp, "warehouse")
    landing = os.path.join(bench.tmp, "landing")
    schema = spark.createDataFrame([], gen.BRONZE_SCHEMA).schema
    stream = gen.BronzeStream(bench.seed, INGEST_BATCH_RECORDS, INGEST_INITIAL_RECORDS)
    state = {"last": None, "fact": None}
    totals = {"landed_bytes": 0, "written_bytes": 0, "good": 0, "upserted": 0,
              "lines": 0, "quarantined": 0}

    def land() -> tuple[str, gen.BronzeBatch]:
        batch = stream.next_batch()
        d = os.path.join(landing, f"batch_{stream.n_batches:05d}")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.jsonl"), "w") as f:
            f.write("\n".join(batch.lines) + "\n")
        return d, batch

    def one_batch(d: str, batch: gen.BronzeBatch):
        stats = run_silver_from_landing(spark, d, wh, schema=schema)
        with tr.span("pipelines.run_gold"):
            state["fact"] = run_gold(spark, wh)["fact_source_coverage"].collect()
        want = {
            "resources_upserted": batch.resources_upserted,
            "documents_upserted": batch.documents_upserted,
            "documents_deleted": batch.documents_deleted,
            "rows_quarantined": batch.rows_quarantined,
        }
        if stats != want:
            print(f"ingest batch stats {stats} != expected {want}")
            return False
        state["stats"] = stats
        return True

    d, batch = land()
    ok, _ = loop.run("warmup", lambda: one_batch(d, batch))
    if ok:
        def step():
            d, batch = land()
            before = _tree_files(wh)
            ok, dt = loop.run("timed", lambda: one_batch(d, batch))
            after = _tree_files(wh)
            if ok:
                size = os.path.getsize(os.path.join(d, "part-00000.jsonl"))
                totals["landed_bytes"] += size
                totals["written_bytes"] += sum(
                    v for p, v in after.items() if p not in before
                )
                n_good = len(batch.lines) - batch.rows_quarantined
                totals["good"] += n_good
                totals["upserted"] += state["stats"]["resources_upserted"]
                totals["lines"] += len(batch.lines)
                totals["quarantined"] += batch.rows_quarantined
                state["last"] = d
            return ok, dt, len(batch.lines)

        loop.timed(step, INGEST_OPS_PER_S)

    # -- checks ---------------------------------------------------------------
    tr.phase = "check"
    if state["last"] is not None:
        try:
            stats = run_silver_from_landing(spark, state["last"], wh, schema=schema)
        except Exception:  # noqa: BLE001 — a failed check is counted, not fatal
            traceback.print_exc()
            stats = {"error": 1}
        out.check("replay_last_batch_upserts_nothing",
                  all(v == 0 for v in stats.values()), str(stats))
        silver = SilverWarehouse(spark, wh)
        n_res = _rows(silver.resources.path)
        n_doc = _rows(silver.documents.path)
        n_q = _rows(os.path.join(wh, "bronze_quarantine"))
        out.check("silver_resources_rows", n_res == stream.expected_resources,
                  f"{n_res} vs {stream.expected_resources}")
        out.check("silver_documents_rows", n_doc == stream.expected_documents,
                  f"{n_doc} vs {stream.expected_documents}")
        out.check("quarantine_rows", n_q == stream.quarantined,
                  f"{n_q} vs {stream.quarantined}")
        fact = state["fact"] or []
        g_res = sum(r["total_resources"] for r in fact)
        g_doc = sum(r["total_documents"] for r in fact)
        out.check("gold_fact_totals",
                  (g_res, g_doc) == (stream.expected_resources, stream.expected_documents),
                  f"{(g_res, g_doc)}")
        detail = silver.resources.detail()
        out.counts["sinks.files_per_snapshot"] = detail["n_data_files"]
        out.counts["sinks.bytes_per_row"] = detail["total_bytes"] / max(1, detail["n_rows"])
    else:
        out.check("ingest_completed", False, "no timed batch completed")

    wa = totals["written_bytes"] / max(1, totals["landed_bytes"])
    out.counts["sinks.changed_frac"] = totals["upserted"] / max(1, totals["good"])
    out.counts["sinks.write_bytes_per_input_byte"] = wa
    out.counts["sources.quarantined_frac"] = totals["quarantined"] / max(1, totals["lines"])
    out.report["batch_s.p50"] = (quantile(out.op_s, 0.5), "s")
    out.report["records_per_s"] = (out.items / max(1e-9, sum(out.op_s)), "rec/s")
    out.report["write_bytes_per_input_byte"] = (wa, "ratio")
    return out


# ---------------------------------------------------------------------------


def dedup_stream(bench) -> Outcome:
    from tlcn_oer_lakehouse_spark.sinks.merge import ParquetMergeTable
    from tlcn_oer_lakehouse_spark.streaming.ingest import (
        landing_stream,
        near_dup_ingest,
    )

    spark, tr = bench.spark, bench.tracer
    out = Outcome()
    loop = Loop(bench, out)
    root = os.path.join(bench.tmp, "warehouse")
    landing = os.path.join(bench.tmp, "landing")
    os.makedirs(landing)
    corpus_path = os.path.join(root, "corpus")
    pairs_dir = os.path.join(root, "pairs")
    ckpt = os.path.join(bench.tmp, "checkpoints", "near_dup")
    schema = spark.createDataFrame([], "doc_id long, text string").schema
    corpus = ParquetMergeTable(spark, corpus_path, key="doc_id", fingerprint_col="text")
    docs = gen.DocStream(bench.seed, DEDUP_DOCS_PER_FILE)
    trig_s: list[float] = []
    rows_per_trigger: list[int] = []
    totals = {"landed_bytes": 0, "written_bytes": 0, "new_rows": 0, "landed": 0}

    def land() -> str:
        f = docs.next_file()
        p = os.path.join(landing, f"docs_{len(docs.texts):08d}.parquet")
        pq.write_table(
            pa.table({"doc_id": pa.array(f.doc_ids, pa.int64()), "text": f.texts}), p
        )
        return p

    def one_file(timed: bool):
        q = near_dup_ingest(
            landing_stream(spark, landing, schema, max_files_per_trigger=1),
            corpus, pairs_dir, ckpt, threshold=0.5,
        )
        q.awaitTermination()
        tr.add_streaming(q)
        if q.exception() is not None:
            print(f"near_dup_ingest failed: {q.exception()}")
            return False
        prog = [p for p in q.recentProgress if p.get("numInputRows")]
        if len(prog) != 1:
            print(f"expected one trigger per landed file, got {len(prog)}")
            return False
        if timed:
            trig_s.append(prog[0]["durationMs"]["triggerExecution"] / 1000.0)
            rows_per_trigger.append(prog[0]["numInputRows"])
        return True

    land()
    ok, _ = loop.run("warmup", lambda: one_file(False))
    if ok:
        def step():
            p = land()
            before = _tree_files(root)
            rows_before = corpus.detail()["n_rows"]
            ok, dt = loop.run("timed", lambda: one_file(True))
            if ok:
                after = _tree_files(root)
                totals["landed_bytes"] += os.path.getsize(p)
                totals["written_bytes"] += sum(
                    v for q, v in after.items() if q not in before
                )
                totals["new_rows"] += corpus.detail()["n_rows"] - rows_before
                totals["landed"] += DEDUP_DOCS_PER_FILE
            return ok, dt, DEDUP_DOCS_PER_FILE

        loop.timed(step, DEDUP_OPS_PER_S)

    # -- checks ---------------------------------------------------------------
    tr.phase = "check"
    n_landed = len(docs.texts)
    found: set[tuple[int, int]] = set()
    if os.path.isdir(pairs_dir):
        t = pads.dataset(pairs_dir, format="parquet").to_table(columns=["doc_a", "doc_b"])
        found = set(zip(t.column("doc_a").to_pylist(), t.column("doc_b").to_pylist()))
    n_corpus = _rows(corpus_path) if corpus.exists() else 0
    out.check("corpus_rows_equal_docs_landed", n_corpus == n_landed,
              f"{n_corpus} vs {n_landed}")
    planted = [p for p in docs.planted if p.doc_b < n_landed]
    exact = [p for p in planted if p.exact]
    missed = [p for p in exact if (p.doc_a, p.doc_b) not in found]
    out.check("every_planted_exact_pair_found", bool(exact) and not missed,
              f"{len(exact) - len(missed)}/{len(exact)}")
    target = [p for p in planted if p.jaccard >= 0.5]
    recall = sum((p.doc_a, p.doc_b) in found for p in target) / max(1, len(target))
    if corpus.exists():
        detail = corpus.detail()
        out.counts["sinks.files_per_snapshot"] = detail["n_data_files"]
        out.counts["sinks.bytes_per_row"] = detail["total_bytes"] / max(1, detail["n_rows"])
    wa = totals["written_bytes"] / max(1, totals["landed_bytes"])
    out.counts["sinks.changed_frac"] = totals["new_rows"] / max(1, totals["landed"])
    out.counts["sinks.write_bytes_per_input_byte"] = wa
    out.counts["streaming.rows_per_trigger"] = (
        sum(rows_per_trigger) / len(rows_per_trigger) if rows_per_trigger else 0.0
    )
    out.counts["operators.dedup.pairs_found"] = len(found)
    out.counts["operators.dedup.recall"] = recall
    out.report["trigger_s.p50"] = (quantile(trig_s, 0.5), "s")
    out.report["docs_per_s"] = (out.items / max(1e-9, sum(out.op_s)), "doc/s")
    out.report["dup_recall"] = (recall, "ratio")
    out.report["planted_pairs"] = (len(target), "count")
    return out


# ---------------------------------------------------------------------------


class FusedOracle:
    """Independent numpy recomputation of ``fused_scores``: Okapi BM25
    (k1=1.2, b=0.75, idf = ln(1 + (N-df+0.5)/(df+0.5))) over every
    document, cosine+1 against vector 0 over every vector, inner join on
    the id, each branch max-normalised, fused 0.5/0.5."""

    K1, B = 1.2, 0.75

    def __init__(self, corpus: gen.RagCorpus) -> None:
        toks = [t.split(" ") for t in corpus.texts]
        self.tf = [Counter(t) for t in toks]
        self.dl = np.array([len(t) for t in toks], dtype=float)
        self.n_vec = len(corpus.vec_ids)
        e = corpus.embeddings.astype(np.float64)
        q = e[0]
        self.vec = e @ q / (np.linalg.norm(e, axis=1) * np.linalg.norm(q)) + 1.0

    @staticmethod
    def terms(raw: str) -> list[str]:
        return [t for t in raw.lower().split() if t not in gen.STOPWORDS]

    def scores(self, raw: str) -> np.ndarray:
        n = len(self.tf)
        avgdl = self.dl.sum() / n
        bm25 = np.zeros(n)
        for term in self.terms(raw):
            tf = np.array([c.get(term, 0) for c in self.tf], dtype=float)
            df = float((tf > 0).sum())
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            bm25 += idf * tf * (self.K1 + 1.0) / (
                tf + self.K1 * (1.0 - self.B + self.B * self.dl / avgdl)
            )
        lex = bm25[: self.n_vec]
        return 0.5 * lex / lex.max() + 0.5 * self.vec / self.vec.max()

    def agrees(self, raw: str, got_ids: list[int], eps: float = 1e-9) -> bool:
        """Top-10 ids equal, allowing only swaps between scores tied to
        within ``eps`` (float summation order differs between engines)."""
        s = self.scores(raw)
        order = sorted(range(len(s)), key=lambda i: (-s[i], i))
        if got_ids == order[:10]:
            return True
        if len(got_ids) != 10 or len(set(got_ids)) != 10:
            return False
        cut = s[order[9]]
        inside = all(s[i] >= cut - eps for i in got_ids)
        outside = all(s[i] <= cut + eps for i in range(len(s)) if i not in got_ids)
        return inside and outside


def rag_serve(bench) -> Outcome:
    from pyspark.sql import functions as F

    from tlcn_oer_lakehouse_spark.queries.retrieval import fused_scores
    from tlcn_oer_lakehouse_spark.queries.serve import preprocess_query

    spark, tr = bench.spark, bench.tracer
    out = Outcome()
    loop = Loop(bench, out)
    sf = os.path.join(bench.tmp, "rag")
    os.makedirs(sf)
    corpus = gen.rag_corpus(bench.seed, RAG_DOCS, RAG_VECTORS)
    pq.write_table(
        pa.table({"doc_id": pa.array(corpus.doc_ids), "text": corpus.texts}),
        os.path.join(sf, "documents.parquet"), row_group_size=1024,
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(corpus.vec_ids),
            "embedding": pa.array(list(corpus.embeddings), pa.list_(pa.float32())),
        }),
        os.path.join(sf, "embeddings.parquet"), row_group_size=1024,
    )
    pool = gen.query_pool(bench.seed, corpus, RAG_POOL)
    stream = gen.request_stream(bench.seed, RAG_POOL, 10_000)
    served: list[tuple[str, list[int]]] = []
    result_rows = [0]

    def request(raw: str, keep: bool):
        terms = preprocess_query(raw)
        with tr.span("queries.fused_scores"):
            fused = fused_scores(spark, sf, terms)
        with tr.span("queries.collect"):
            rows = (
                fused.orderBy(F.col("fused_raw").desc(), F.col("doc_id").asc())
                .limit(10)
                .collect()
            )
        if keep:
            served.append((raw, [r["doc_id"] for r in rows]))
            result_rows[0] += len(rows)
        return len(rows) == 10

    it = iter(stream)
    for _ in range(RAG_WARMUP):
        raw = pool[next(it)]
        loop.run("warmup", lambda: request(raw, False))
    seen: set[str] = set()
    repeats = [0]

    def step():
        raw = pool[next(it)]
        repeats[0] += raw in seen
        seen.add(raw)
        ok, dt = loop.run("timed", lambda: request(raw, True))
        return ok, dt, 1

    loop.timed(step, RAG_OPS_PER_S)

    # -- checks ---------------------------------------------------------------
    tr.phase = "check"
    oracle = FusedOracle(corpus)
    bad = [raw for raw, ids in served if not oracle.agrees(raw, ids)]
    out.check("top10_matches_numpy_recomputation", bool(served) and not bad,
              f"{len(served) - len(bad)}/{len(served)} agree")
    n = max(1, len(out.op_s))
    out.counts["queries.result_rows"] = result_rows[0]
    out.report["request_s.p50"] = (quantile(out.op_s, 0.5), "s")
    out.report["request_s.p90"] = (quantile(out.op_s, 0.9), "s")
    out.report["repeat_frac"] = (repeats[0] / n, "ratio")
    return out


WORKLOADS = {
    "ingest_medallion": ingest_medallion,
    "dedup_stream": dedup_stream,
    "rag_serve": rag_serve,
}
