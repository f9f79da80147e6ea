"""Lexical retrieval over the document corpus: BM25 (Robertson/Spärck Jones
probabilistic ranking, the public Okapi BM25 formula) as a distributed
scoring pipeline — the keyword-search counterpart to the embedding-ANN
family in ``similarity.py``. The reference pipeline has no search analogue;
a 100 TB corpus engine needs one for corpus QA ("which documents mention
X") and for building retrieval eval sets.

Scale shape, by stage:

* the query-term set is a BOUNDED literal — it is pushed as an ``IN``
  filter on the exploded token *before* any shuffle, so corpus tokens that
  match no query never leave their scan partition;
* tf and df are hash-aggregates with map-side partial combine on keys no
  wider than (doc, term) / (term);
* corpus length stats are one broadcast row; df and the query map are
  broadcast joins — the corpus side shuffles exactly once (the tf agg);
* per-query top-k is a window ``row_number`` ≤ k, which AQE executes as a
  WindowGroupLimit (partial top-k per partition before the final sort).

Cross-engine determinism: each (query, doc, term) contribution is floored
to integer MICRO-units before the per-document sum, so the aggregate is an
order-independent BIGINT sum — float addition order can never flip the
driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions import text
from anomaly_detection_spark.functions.pairs import topk_per_query


def bm25_topk(
    docs: DataFrame,
    queries: list[tuple[int, list[str]]],
    k: int = 5,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` documents per query under BM25.

    ``queries`` is a bounded literal list of ``(query_id, terms)``; scores
    are returned as ``score_micro`` (BIGINT, 1e-6 units) with rank ties
    broken by ascending doc id. Uses the standard Okapi idf
    ``ln(1 + (N - df + 0.5) / (df + 0.5))`` (always positive) and tf
    normalization ``tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))``.
    """
    all_terms = sorted({t for _, ts in queries for t in ts})
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        text.tokens(F.col(text_col)).alias("toks"),
    ).select("doc_id", "toks", F.size("toks").alias("dl"))

    # One broadcast row of corpus stats; exact integer sum_dl.
    stats = base.agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("dl").cast("long")).alias("sum_dl"),
    )

    tf = (
        base.select(
            "doc_id", "dl",
            F.explode(F.filter(F.col("toks"), lambda t: t.isin(all_terms)))
            .alias("term"),
        )
        .groupBy("doc_id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    # tf feeds BOTH the df aggregate and the scoring join; column pruning
    # makes the two subtrees non-identical so exchange reuse never fires
    # and the corpus explode+agg would run twice. Materialize once — tf is
    # bounded by |docs| × |query terms|, tiny next to the corpus.
    tf = tf.localCheckpoint(eager=False)
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))

    spark = docs.sparkSession
    qmap = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts],
        "query_id int, term string",
    )

    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(qmap), "term")
        .crossJoin(F.broadcast(stats))
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tf_norm = (F.col("tf") * F.lit(k1 + 1.0)) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl)
    )
    contrib = F.floor(idf * tf_norm * F.lit(1000000.0) + F.lit(0.5)).cast("long")

    per_doc = (
        scored.select("query_id", "doc_id", contrib.alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias("score_micro"))
    )
    return topk_per_query(
        per_doc, k, neighbor="doc_id", score="score_micro",
    ).select("query_id", "rank", "doc_id", "score_micro")
