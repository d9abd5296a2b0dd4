"""BM25 ranked retrieval over the documents relation.

The standard lexical-relevance scorer a training-data pipeline uses to
find query-relevant documents (topic filtering, eval-set mining,
contamination checks). Fully relational:

  * term frequencies: explode + groupBy restricted to the QUERY's
    terms before aggregation — the filter prunes the token stream to
    |query| terms, so shuffle volume is rows-matching-query, not the
    corpus token count;
  * document frequencies and corpus stats (N, Σ|d|): one aggregate
    per query evaluation, all scalars/tiny relations;
  * final ranking: exact distributed top-k via ranking.global_topk —
    no single-partition sort.

BM25 (Robertson/Sparck Jones, the Okapi formulation):
  score(d, q) = Σ_{t∈q} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|d|/avgdl))
  idf(t) = ln( (N − df + 0.5)/(df + 0.5) + 1 )

Determinism contract: the per-term contribution is a fixed SQL
expression (templates below, shared with the DuckDB oracle so both
engines evaluate the identical tree), quantized to 6 decimals and
summed as DECIMAL — the document score is therefore independent of
partitioning and addition order, and reproducible across engines.
avgdl is carried as the exact integer pair (N, Σ|d|) rather than a
pre-divided double so the only non-rational step is ln().
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sparker_spark.ranking import global_topk
from sparker_spark.rounding import rnd

_SPLIT = "[^0-9a-z_]+"

# shared Spark-SQL/DuckDB scoring templates ({n}: total docs with >=1
# token, {sumdl}: total token count — both integer-valued SQL exprs).
# Every fractional literal uses e-notation: bare `0.5` parses as
# DECIMAL in both engines with engine-specific promotion rules, while
# `0.5e0` is a DOUBLE literal in both — keeping the whole tree in
# IEEE double arithmetic with identical evaluation order.
IDF_SQL = "ln((((CAST({n} AS DOUBLE)) - df) + 0.5e0) / (df + 0.5e0) + 1.0e0)"
W_SQL = (
    "(idf * (tf * ({k1} + 1.0e0))) / "
    "(tf + {k1} * ((1.0e0 - {b}) + {b} * dlen * (CAST({n} AS DOUBLE)) / "
    "(CAST({sumdl} AS DOUBLE))))"
)


class TextSearch:
    @staticmethod
    def bm25(
        documents: DataFrame,
        query: str,
        k: int = 10,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-k (doc_id, score, rank) for a free-text query. Ties
        break by doc_id ascending (deterministic)."""
        terms = sorted(
            {t for t in query.lower().split() if t}
        )
        if not terms:
            return documents.sparkSession.createDataFrame(
                [], "doc_id long, score double, rank long"
            )
        toks = documents.select(
            "doc_id",
            F.explode(F.split(F.lower("text"), _SPLIT)).alias("tok"),
        ).where(F.length("tok") > 0)

        # corpus stats: N docs, per-doc length, total length (exact ints)
        dl = toks.groupBy("doc_id").agg(F.count("*").alias("dlen"))
        stats = dl.agg(
            F.count("*").alias("n"), F.sum("dlen").alias("sumdl")
        ).first()
        n_docs, sumdl = stats["n"] or 0, stats["sumdl"] or 0
        if not n_docs:
            return documents.sparkSession.createDataFrame(
                [], "doc_id long, score double, rank long"
            )

        qtoks = toks.where(F.col("tok").isin(terms))
        tf = qtoks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
        df_ = tf.groupBy("tok").agg(F.count("*").alias("df"))
        idf = df_.withColumn(
            "idf", F.expr(IDF_SQL.format(n=n_docs))
        )
        contrib = (
            tf.join(idf.select("tok", "idf"), "tok")
            .join(dl, "doc_id")
            .withColumn(
                "w",
                F.expr(
                    W_SQL.format(
                        k1=f"{k1!r}e0", b=f"{b!r}e0", n=n_docs, sumdl=sumdl
                    )
                ),
            )
        )
        # quantize per-term, sum as DECIMAL: score independent of
        # addition order (see module docstring)
        scored = contrib.groupBy("doc_id").agg(
            F.sum(rnd(F.col("w"), 6).cast("decimal(18,6)"))
            .cast("double")
            .alias("score")
        )
        top = global_topk(scored, [("score", True), ("doc_id", False)], int(k))
        # rank assignment: the relation is <= k rows by construction,
        # so the unpartitioned window is bounded — not a scale hazard
        from pyspark.sql import Window

        w = Window.orderBy(F.col("score").desc(), F.col("doc_id"))
        return top.select(
            "doc_id", "score", F.row_number().over(w).cast("long").alias("rank")
        )
