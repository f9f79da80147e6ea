"""Entity resolution / record linkage: blocked candidate generation +
character-bigram Jaccard scoring + best-match selection — the classic
Fellegi–Sunter-style pipeline (public formulation) recast as DataFrame ops.
The reference matches users only by exact id equality
(``data_normalizer.py`` joins); a web-scale curation engine also needs
FUZZY identity (the same entity spelled differently across sources).

Scale shape: candidate pairs come from an equi-join on a BLOCKING key, so
the pair count is Σ|block_dirty|·|block_clean|, never n² — the same bounded
discipline as the LSH/LOF pair joins. Oversize clean-side blocks (hot keys)
are dropped via a broadcast filter with the cap stated up front; similarity
is in-row array math (distinct char bigrams, exact integer ppm); the final
best-match is a per-dirty-row window top-1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from anomaly_detection_spark.functions.pairs import cap_blocks, topk_per_query


def char_bigrams(col: F.Column) -> F.Column:
    """Distinct lowercase character 2-grams of a string — the similarity
    alphabet for fuzzy name matching (robust to token order and small
    edits, unlike token equality).

    The lowered string is bound through a single-element ``transform``
    lambda so CollapseProject cannot inline ``lower(col)`` into every
    per-position reference (the shingle-inlining trap: without the
    binding, the lowering would re-run once per character)."""
    return F.element_at(
        F.transform(
            F.array(F.lower(col)),
            lambda s: F.array_distinct(
                F.when(
                    F.length(s) >= 2,
                    F.transform(F.sequence(F.lit(1), F.length(s) - 1),
                                lambda i: s.substr(i, F.lit(2))),
                ).otherwise(F.array().cast("array<string>"))
            ),
        ),
        1,
    )


def jaccard_ppm(a: F.Column, b: F.Column) -> F.Column:
    """Exact integer parts-per-million Jaccard of two distinct-element
    arrays (|∩| / |∪| with half-up flooring — cross-engine stable)."""
    inter = F.size(F.array_intersect(a, b))
    uni = F.size(a) + F.size(b) - inter
    return F.floor(
        F.lit(1000000.0) * inter / F.greatest(uni, F.lit(1)) + F.lit(0.5)
    ).cast("long")


def best_links(
    dirty: DataFrame,
    clean: DataFrame,
    block_cols: list[str],
    min_ppm: int = 500_000,
    max_block: int = 1000,
) -> DataFrame:
    """Best clean match per dirty record.

    Inputs carry ``(rec_id, name, <block_cols...>)``; blocking is the
    equi-join on ``block_cols``; candidates below ``min_ppm`` bigram-Jaccard
    are discarded; ties break toward the smallest clean ``rec_id``. Clean
    blocks larger than ``max_block`` are dropped (their members are
    un-linkable at bounded cost — reported upstream as a coverage metric,
    same trade as the LSH ``max_bucket``)."""
    blk = [F.col(c) for c in block_cols]
    c_ok = cap_blocks(clean, block_cols, max_block)

    d = dirty.select(
        F.col("rec_id").alias("dirty_id"),
        char_bigrams(F.col("name")).alias("d_bg"),
        *blk,
    )
    c = c_ok.select(
        F.col("rec_id").alias("clean_id"),
        char_bigrams(F.col("name")).alias("c_bg"),
        *blk,
    )
    pairs = d.join(c, block_cols).select(
        "dirty_id", "clean_id",
        jaccard_ppm(F.col("d_bg"), F.col("c_bg")).alias("jacc_ppm"),
    ).filter(F.col("jacc_ppm") >= min_ppm)
    return topk_per_query(
        pairs, 1, query="dirty_id", neighbor="clean_id", score="jacc_ppm",
    ).select("dirty_id", "clean_id", "jacc_ppm")


def golden_records(records: DataFrame, cluster_col: str,
                   freq_cols: list[str], latest_cols: list[str],
                   order_col: str) -> DataFrame:
    """Survivorship: collapse each linked cluster to one golden row — the
    master-data-management step after ``best_links``. Two published rules:

    * ``freq_cols`` — most frequent non-NULL value wins (ties: smallest
      value), plus a ``<col>_conflicts`` count of competing distinct
      non-NULL values beyond the winner;
    * ``latest_cols`` — the non-NULL value with the highest ``order_col``
      wins (``order_col`` must be a unique integer per record — e.g.
      epoch micros ⊕ record id — so there are no ties to break).

    Scale shape: every attribute rides ONE stacked long format
    ``(cluster, attr, value, order)`` built with a single in-row explode
    — never one shuffle per attribute. Frequency attrs take a map-side-
    combined count then a per-(cluster, attr) top-1 window; latest attrs
    a top-1 window directly. The close is one pivot-style aggregate back
    to a row per cluster. Three shuffles total regardless of how many
    attributes are consolidated, all keyed by (cluster, attr) — no skew
    (clusters are entity-sized, not corpus-sized).

    All values pass through as strings (cast before calling for typed
    attrs). Returns one row per cluster: ``(cluster, n_records,
    <freq col>, <freq col>_conflicts …, <latest col> …)``.
    """
    cl = F.col(cluster_col)

    def stacked(cols):
        arr = F.array(*[
            F.struct(F.lit(c).alias("attr"),
                     F.col(c).cast("string").alias("value"))
            for c in cols
        ])
        return F.explode_outer(arr).alias("_s")

    freq = records.select(cl, stacked(freq_cols)) \
        .select(cluster_col, "_s.attr", "_s.value") \
        .filter(F.col("value").isNotNull())
    counts = freq.groupBy(cluster_col, "attr", "value") \
        .agg(F.count(F.lit(1)).alias("_c"))
    wf = Window.partitionBy(cluster_col, "attr") \
        .orderBy(F.desc("_c"), F.asc("value"))
    freq_win = counts.select(
        cluster_col, "attr", "value",
        F.row_number().over(wf).alias("_rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy(cluster_col, "attr")).alias("_nv"),
    ).filter(F.col("_rn") == 1).select(
        cluster_col, "attr", "value",
        (F.col("_nv") - 1).cast("long").alias("_conflicts"))

    latest = records.select(cl, F.col(order_col).alias("_o"),
                            stacked(latest_cols)) \
        .select(cluster_col, "_o", "_s.attr", "_s.value")
    wl = Window.partitionBy(cluster_col, "attr").orderBy(
        F.desc(F.col("value").isNotNull().cast("int")), F.desc("_o"))
    latest_win = latest.select(
        cluster_col, "attr", "value",
        F.row_number().over(wl).alias("_rn"),
    ).filter(F.col("_rn") == 1).select(
        cluster_col, "attr", "value",
        F.lit(None).cast("long").alias("_conflicts"))

    longf = freq_win.unionByName(latest_win)
    n_rec = records.groupBy(cluster_col).agg(
        F.count(F.lit(1)).alias("n_records"))
    picks = [
        F.max(F.when(F.col("attr") == c, F.col("value"))).alias(c)
        for c in freq_cols + latest_cols
    ] + [
        F.max(F.when(F.col("attr") == c, F.col("_conflicts")))
        .alias(f"{c}_conflicts")
        for c in freq_cols
    ]
    joined = n_rec.join(longf.groupBy(cluster_col).agg(*picks), cluster_col,
                        "left")
    return joined.select(
        cluster_col, "n_records", *(freq_cols + latest_cols),
        *[F.coalesce(F.col(f"{c}_conflicts"), F.lit(0))
          .alias(f"{c}_conflicts") for c in freq_cols],
    )
