"""The standing retrieval index behind ``queries/retrieval.py:fused_scores``.

The index is built once per corpus version (documents + embeddings files)
and SparkContext; a request only scans its cached frames.  These tests
pin that it serves exactly what the per-request composition served —
``bm25_score_frame`` joined with the cosine branch, max-normalized and
fused 0.5/0.5 — bit for bit, and that it follows the corpus, the session
and the cache rather than serving stale state."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import textwrap
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.vectors import cosine
from tlcn_oer_lakehouse_spark.queries import retrieval
from tlcn_oer_lakehouse_spark.queries.base import load
from tlcn_oer_lakehouse_spark.queries.retrieval import bm25_score_frame, fused_scores
from tlcn_oer_lakehouse_spark.queries.serve import preprocess_query

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _vec(spark, sf):
    emb = load(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    return emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        (cosine(F.col("embedding"), F.col("q_emb")) + F.lit(1.0)).alias("vec_raw"),
    )


def _reference(spark, sf, terms) -> dict[int, str]:
    """The per-request composition the index replaces, as float.hex."""
    docs = load(spark, sf, "documents").select("doc_id", "text")
    joined = bm25_score_frame(docs, ("doc_id",), "text", terms).join(_vec(spark, sf), "doc_id")
    maxes = joined.agg(F.max("bm25_raw").alias("max_lex"), F.max("vec_raw").alias("max_vec"))
    fused = joined.crossJoin(F.broadcast(maxes)).select(
        "doc_id",
        (
            F.lit(0.5) * (F.col("bm25_raw") / F.col("max_lex"))
            + F.lit(0.5) * (F.col("vec_raw") / F.col("max_vec"))
        ).alias("fused_raw"),
    )
    return {r["doc_id"]: r["fused_raw"].hex() for r in fused.collect()}


def _served(spark, sf, terms) -> dict[int, str]:
    return {r["doc_id"]: r["fused_raw"].hex() for r in fused_scores(spark, sf, terms).collect()}


@pytest.mark.parametrize(
    "terms",
    [
        ("spark",),
        ("spark", "spark"),
        ("merge", "vector"),
        ("spark", "merge", "vector"),
        ("vector", "table", "vector", "spark"),
        ("data", "lake", "fast", "table"),
    ],
)
def test_fused_raw_bit_identical_to_composition(spark, sf_correct, terms):
    want = _reference(spark, sf_correct, terms)
    assert len(want) > 100
    assert _served(spark, sf_correct, terms) == want


@pytest.mark.parametrize(
    "terms", [("zzznotaword",), preprocess_query("the and")], ids=["unknown", "stopwords"]
)
def test_request_matching_no_document_serves_vector_branch(spark, sf_correct, terms):
    """max_lex = 0: the lexical branch contributes 0 instead of dividing
    by zero (which raises under ANSI)."""
    vec = {r["doc_id"]: r["vec_raw"] for r in _vec(spark, sf_correct).collect()}
    max_vec = max(vec.values())
    got = {r["doc_id"]: r["fused_raw"] for r in fused_scores(spark, sf_correct, terms).collect()}
    assert got == {d: 0.5 * (v / max_vec) for d, v in vec.items()}


def _write_corpus(sf, texts, seed=0):
    os.makedirs(sf, exist_ok=True)
    emb = np.random.default_rng(seed).normal(size=(len(texts), 64)).astype(np.float32)
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        os.path.join(sf, "documents.parquet"),
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(range(len(texts)), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        }),
        os.path.join(sf, "embeddings.parquet"),
    )


def test_duckdb_replica_serves_vector_branch_without_a_match(spark, tmp_path):
    """The DuckDB replica takes the same max_lex = 0 branch: over a corpus
    none of QUERY_TERMS occurs in, it agrees with the Spark index."""
    import duckdb

    sf = str(tmp_path / "sf")
    _write_corpus(sf, [f"alpha beta doc{i} gamma" for i in range(12)])
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
    oracle = dict(con.execute(
        f"WITH {retrieval._fused_sql_core()} SELECT doc_id, fused_raw FROM fused"
    ).fetchall())
    got = {r["doc_id"]: r["fused_raw"] for r in fused_scores(spark, sf).collect()}
    assert set(got) == set(oracle) and len(got) == 12
    assert all(abs(got[d] - oracle[d]) < 1e-12 for d in got)


def test_rewritten_corpus_rebuilds_the_index(spark, tmp_path):
    sf = str(tmp_path / "sf")
    terms = ("spark", "merge")
    cached_rdds = spark.sparkContext._jsc.getPersistentRDDs
    _write_corpus(sf, [f"spark merge doc{i} " + "x " * (i % 5) for i in range(30)])
    first = _served(spark, sf, terms)
    assert first == _reference(spark, sf, terms)
    old, n_cached = retrieval._INDEX, cached_rdds().size()
    _write_corpus(sf, [f"merge doc{i} " + "spark " * (i % 3) + "y" for i in range(30)])
    second = _served(spark, sf, terms)
    assert second == _reference(spark, sf, terms)
    assert second != first
    assert retrieval._INDEX is not old
    # one live index: the rebuild released the old index's cached frames
    assert cached_rdds().size() == n_cached


def test_request_after_clear_cache_is_correct(spark, sf_correct):
    terms = ("spark", "vector")
    want = _reference(spark, sf_correct, terms)
    assert _served(spark, sf_correct, terms) == want
    idx = retrieval._INDEX
    spark.catalog.clearCache()
    assert _served(spark, sf_correct, terms) == want
    assert retrieval._INDEX is not idx  # the dropped cache was rebuilt
    assert not retrieval._INDEX.cleared()


def test_concurrent_clients_get_their_serial_results(spark, sf_correct):
    term_sets = [("spark",), ("merge", "vector"), ("table", "spark", "lake")]
    serial = {t: _served(spark, sf_correct, t) for t in term_sets}
    got: dict[tuple, list] = {t: [] for t in term_sets}
    errors: list[BaseException] = []

    def client(t):
        try:
            for _ in range(3):
                got[t].append(_served(spark, sf_correct, t))
        except BaseException as exc:  # noqa: BLE001 — surfaced below
            errors.append(exc)

    threads = [threading.Thread(target=client, args=(t,)) for t in term_sets]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errors, errors
    for t in term_sets:
        assert got[t] == [serial[t]] * 3


_RESTART = textwrap.dedent(
    """
    import sys
    from tlcn_oer_lakehouse_spark.queries.retrieval import fused_scores
    from tlcn_oer_lakehouse_spark.session import get_spark

    def serve(spark):
        rows = fused_scores(spark, sys.argv[1], ("spark", "merge")).collect()
        return sorted((r["doc_id"], r["fused_raw"].hex()) for r in rows)

    spark = get_spark(app_name="restart-a")
    before = serve(spark)
    spark.stop()
    spark = get_spark(app_name="restart-b")
    after = serve(spark)
    spark.stop()
    assert before == after and len(before) > 100, (len(before), len(after))
    print("restart-ok")
    """
)


def test_request_after_session_restart(sf_correct, tmp_path):
    """A restarted session gets a fresh index: no stale handle to the
    stopped context.  Runs in its own process so the suite's session
    stays up."""
    script = tmp_path / "restart.py"
    script.write_text(_RESTART)
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        SPARK_LOCAL_DIRS=str(tmp_path / "local"),
    )
    proc = subprocess.run(
        [sys.executable, str(script), sf_correct], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0 and "restart-ok" in proc.stdout, proc.stderr[-3000:]
    shutil.rmtree(tmp_path / "local", ignore_errors=True)
