"""Batched lexical ranking: BM25 for MANY queries in one job — the
serving shape at scale.  Single-query BM25 over any (ids, text) frame is
``queries/retrieval.py:bm25_score_frame``, the one scoring core behind
the registered query (reference: chatbot_api.py:202-217);
tests/test_retrieval_quality.py pins this batch form equal to it per
query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tlcn_oer_lakehouse_spark.functions.text import tokens


def bm25_rank_batch(
    docs: DataFrame,
    queries: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    terms_col: str = "terms",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int | None = 10,
) -> DataFrame:
    """Batched BM25: score EVERY query against the corpus in ONE job —
    the serving shape at scale (per-query jobs are a driver loop; this
    is a posting-list join).

    Plan: corpus → exploded (doc, term, tf) postings [one shuffle] →
    df/idf per term (computed only for terms any query uses, via a
    semi-join against the broadcast query-term set) → broadcast-join
    postings ⋈ query terms → per-(query, doc) score aggregation [second
    shuffle, keyed (query_id, doc)] → per-query top-k window
    (partitioned by query_id — parallel, never global).  Only documents
    matching ≥1 query term are scored, which is exactly BM25's support;
    scores match ``bm25_score_frame`` to double rounding (term-sum order
    differs)."""
    from pyspark.sql import Window

    toks = tokens(F.col(text_col))
    base = docs.select(F.col(id_col).alias("doc"), toks.alias("tk"))
    dl = base.select("doc", F.size("tk").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    postings = (
        base.select("doc", F.explode("tk").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    q_terms = queries.select(
        F.col(query_id_col).alias("qid"),
        F.explode(F.array_distinct(F.col(terms_col))).alias("term"),
    )
    used = postings.join(F.broadcast(q_terms.select("term").distinct()), "term")
    idf = (
        used.groupBy("term")
        .agg(F.countDistinct("doc").alias("df"))
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ).alias("idf"),
        )
    )
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    scored = (
        used.join(F.broadcast(q_terms), "term")
        .join(dl, "doc")
        .join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "qid",
            "doc",
            (
                F.col("idf")
                * F.col("tf").cast("double")
                * (k1 + 1.0)
                / (
                    F.col("tf").cast("double")
                    + k1 * (1.0 - b + b * F.col("dl") / avgdl)
                )
            ).alias("part"),
        )
        .groupBy("qid", "doc")
        .agg(F.round(F.sum("part"), 9).alias("bm25"))
    )
    out = scored.select(
        F.col("qid").alias(query_id_col),
        F.col("doc").alias(id_col),
        "bm25",
    )
    if top_k is None:
        return out
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
    )
