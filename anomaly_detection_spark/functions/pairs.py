"""The two physical shapes every blocked pairwise operator shares.

Near-dup, ANN, LOF/DBSCAN, co-activity, linkage and betweenness all bound
their pair join by joining only within a block, and most end by ranking
scored pairs per query. Both shapes live here once:

* ``cap_blocks`` — the oversize-block prefilter: a map-side-combinable
  count per block key, then a BROADCAST anti-join against the (tiny) set
  of keys above the cap, applied BEFORE any per-block join materializes.
  One skewed block at 100 TB would otherwise make Σ|block|² unbounded;
  capping after collection would still OOM on the row it exists to kill.
* ``topk_per_query`` — one ``row_number`` window per query over a scored
  ``(query, neighbor, score)`` frame, score descending then neighbor
  ascending, so ties resolve deterministically in every engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def cap_blocks(df: DataFrame, key: str | list[str],
               max_size: int | None) -> DataFrame:
    """Drop every row whose block (``key``: one column or several) holds
    more than ``max_size`` rows; ``None`` opts out. NULL keys are never
    matched by the anti-join, so their rows pass — every caller then
    equi-joins on the same key, which drops them. Pair a cap with the
    operator's stats frame (``dedup.lsh_bucket_stats``,
    ``similarity.ivf_cell_stats``) to log what was dropped."""
    if max_size is None:
        return df
    keys = [key] if isinstance(key, str) else list(key)
    oversize = (
        df.groupBy(*keys).agg(F.count(F.lit(1)).alias("_sz"))
        .filter(F.col("_sz") > max_size)
        .select(*keys)
    )
    return df.join(F.broadcast(oversize), keys, "left_anti")


def topk_per_query(scored: DataFrame, k: int,
                   query: str | list[str] = "query_id",
                   neighbor: str = "neighbor_id",
                   score: str = "cos") -> DataFrame:
    """Keep each query's ``k`` best-scored neighbors, numbered 1..k in a
    ``rank`` column. The window partitions by ``query`` only (never a
    global sort), so it shuffles on the query key like the pair join."""
    w = Window.partitionBy(query).orderBy(F.desc(score), F.asc(neighbor))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
