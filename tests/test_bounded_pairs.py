"""Bounded pair expansion: the shared ``pairs.cap_blocks`` prefilter and
every operator cap built on it (LSH buckets, co-activity keys, semantic-
prune clusters, linkage blocks) must drop exactly the degenerate groups
(with observability) and change nothing else — the 100 TB quadratic-
blowup guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.functions import dedup, graph
from anomaly_detection_spark.functions.linkage import best_links
from anomaly_detection_spark.functions.pairs import cap_blocks
from anomaly_detection_spark.functions.similarity import semantic_prune


def _docs(spark):
    # 4 identical boilerplate docs (one degenerate LSH bucket) + 2 near-dups
    # + distinct filler docs long enough to shingle (>= 3 tokens)
    rows = [(f"b{i}", "lorem ipsum dolor sit amet boilerplate") for i in range(4)]
    # a small (size-2, under-cap) duplicate bucket that must survive capping
    rows += [
        ("n1", "alpha beta gamma delta epsilon"),
        ("n2", "alpha beta gamma delta epsilon"),
    ]
    rows += [(f"f{i}", f"unique{i} filler{i} words{i} here{i}") for i in range(6)]
    return spark.createDataFrame(rows, "doc_id string, text string")


def test_lsh_cap_drops_only_degenerate_bucket(spark):
    docs = _docs(spark)
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(docs, k=4, bands=2, max_bucket=None).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(docs, k=4, bands=2, max_bucket=3).collect()
    }
    boiler = {p for p in uncapped if p[0].startswith("b") and p[1].startswith("b")}
    assert len(boiler) == 6  # C(4,2) pairs in the degenerate bucket
    assert capped == uncapped - boiler  # only the oversize bucket is dropped
    assert ("n1", "n2") in capped  # the under-cap duplicate bucket survives

    # default cap (1000) is exact on non-degenerate data
    default = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_candidate_pairs(docs, k=4, bands=2).collect()
    }
    assert default == uncapped


def test_lsh_bucket_stats_reports_drops(spark):
    stats = dedup.lsh_bucket_stats(_docs(spark), k=4, bands=2, max_bucket=3).first()
    assert stats["max_bucket_size"] == 4
    assert stats["n_buckets_dropped"] >= 1
    # the 4-doc bucket holds C(4,2)=6 pairs per band it collides in
    assert stats["pairs_dropped"] >= 6


def test_ngram_fallback_cap_bounds_degenerate_length_block(spark):
    """With candidates=None the blocking key is the token-count bucket; a
    planted degenerate bucket (many docs of one common length) must be
    dropped by the default cap while small blocks stay exact — and the
    registry/candidates path is untouched by the cap."""
    # 8 docs of identical token count (one degenerate length block, all
    # mutually similar) + 2 near-dup docs in their own small block
    rows = [(f"d{i}", "alpha beta gamma delta epsilon zeta") for i in range(8)]
    rows += [
        ("x1", "one two three four five six seven eight nine ten eleven"),
        ("x2", "one two three four five six seven eight nine ten twelve"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_block=10_000).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                           max_block=4).collect()
    }
    degen = {p for p in uncapped if p[0].startswith("d")}
    assert len(degen) == 28  # C(8,2) all-pairs inside the hot block
    assert capped == uncapped - degen  # ONLY the oversize block is dropped
    assert ("x1", "x2") in capped      # the small block survives exactly
    # the candidates path ignores the cap entirely (LSH already bounded it)
    cand = spark.createDataFrame([("d0", "d1")], "id_a string, id_b string")
    via_cand = dedup.ngram_jaccard_pairs(docs, threshold=0.5,
                                         candidates=cand, max_block=1).collect()
    assert [(r["id_a"], r["id_b"]) for r in via_cand] == [("d0", "d1")]


def test_co_activity_cap_drops_only_degenerate_key(spark):
    rows = [(f"u{i}", "k_hot") for i in range(5)]  # 5 entities on one key
    rows += [("u0", "k_a"), ("u1", "k_a"), ("u2", "k_b"), ("u3", "k_b")]
    df = spark.createDataFrame(rows, "user string, key string")
    uncapped = {
        (r["entity_a"], r["entity_b"], r["shared"])
        for r in graph.co_activity_pairs(df, "user", ["key"],
                                         max_entities_per_key=10_000).collect()
    }
    capped = {
        (r["entity_a"], r["entity_b"], r["shared"])
        for r in graph.co_activity_pairs(df, "user", ["key"],
                                         max_entities_per_key=4).collect()
    }
    assert ("u0", "u1", 1) in capped and ("u2", "u3", 1) in capped
    assert len(capped) == 2  # only the small-key pairs survive
    assert len(uncapped) == 10 + 2 - 2  # C(5,2) hot pairs, two overlap-merged


def test_registry_pair_query_unchanged_by_cap(spark):
    """The registry's user_pair_interactions (default cap) must equal the
    uncapped formulation on driver data — the cap is a guard, not a change."""
    from anomaly_detection_spark.queries import q_user_pair_interactions

    sf = "/root/testdata/sf0.001"
    got = [tuple(r) for r in q_user_pair_interactions(spark, sf).collect()]
    e = spark.read.parquet(f"{sf}/events.parquet")
    ud = e.select("user_id", "event_type", F.col("ts").cast("date").alias("d")).distinct()
    a = ud.select(F.col("user_id").alias("user_a"), "event_type", "d")
    b = ud.select(F.col("user_id").alias("user_b"), "event_type", "d")
    want = [
        tuple(r)
        for r in a.join(b, ["event_type", "d"])
        .filter(F.col("user_a") < F.col("user_b"))
        .groupBy("user_a", "user_b").agg(F.count("*").alias("shared"))
        .orderBy(F.desc("shared"), F.asc("user_a"), F.asc("user_b"))
        .limit(20).collect()
    ]
    assert got == want


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


# blocks on k: "a" holds exactly 3 rows, "b" 4, NULL 4; on (k, g): ("a", 0)
# and ("b", 0) hold 2, ("a", 1) 1, ("b", 1) 2, (NULL, 0) 4
_CAP_ROWS = [
    (1, "a", 0), (2, "a", 0), (3, "a", 1),
    (4, "b", 0), (5, "b", 0), (6, "b", 1), (7, "b", 1),
    (8, None, 0), (9, None, 0), (10, None, 0), (11, None, 0),
]


@pytest.mark.parametrize("key, max_size, kept", [
    # a block of exactly max_size rows is kept, max_size+1 is dropped;
    # NULL keys never match the anti-join, so their rows pass
    ("k", 3, {1, 2, 3, 8, 9, 10, 11}),
    ("k", 4, set(range(1, 12))),
    # multi-column key (the co_activity_pairs shape); a NULL component
    # also never matches
    (["k", "g"], 1, {3, 8, 9, 10, 11}),
    (["k", "g"], 2, set(range(1, 12))),
    # None opts out
    ("k", None, set(range(1, 12))),
])
def test_cap_blocks(spark, key, max_size, kept):
    df = spark.createDataFrame(_CAP_ROWS, "id int, k string, g int")
    out = cap_blocks(df, key, max_size)
    assert {r["id"] for r in out.collect()} == kept
    if max_size is None:
        assert out is df
        return
    plan = _plan(out)
    assert "LeftAnti" in plan and "Broadcast" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_prune_cap_with_null_bucket(spark):
    """Bucket 0 holds 3 identical vectors, bucket 1 two, the NULL bucket
    two: a cap of 2 drops bucket 0 only, and NULL-bucket vectors are never
    paired (the per-bucket equi-join cannot match NULL)."""
    rows = [(i, [1.0, 0.0], 0) for i in (1, 2, 3)]
    rows += [(i, [0.0, 1.0], 1) for i in (4, 5)]
    rows += [(i, [1.0, 1.0], None) for i in (6, 7)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {(r["vec_id"], r["bucket"], r["canonical_id"])
           for r in semantic_prune(emb, threshold=0.9, max_bucket=2).collect()}
    assert got == {(5, 1, 4)}
    full = {(r["vec_id"], r["canonical_id"])
            for r in semantic_prune(emb, threshold=0.9, max_bucket=3).collect()}
    assert full == {(2, 1), (3, 1), (5, 4)}


def test_best_links_cap_with_null_block(spark):
    """Clean block "x" holds 2 records, "y" 3, the NULL block 1: a cap of
    2 leaves "y" un-linkable, and a NULL-block dirty record never links."""
    clean = spark.createDataFrame(
        [(1, "anna smith", "x"), (2, "bob jones", "x"),
         (3, "carl white", "y"), (4, "dora black", "y"), (5, "eve green", "y"),
         (6, "fred brown", None)],
        "rec_id long, name string, blk string")
    dirty = spark.createDataFrame(
        [(11, "ANNA SMITH", "x"), (13, "carl whit", "y"), (16, "fred brown", None)],
        "rec_id long, name string, blk string")
    capped = {tuple(r) for r in best_links(dirty, clean, ["blk"], max_block=2).collect()}
    assert capped == {(11, 1, 1000000)}
    full = {r["dirty_id"]: r["clean_id"]
            for r in best_links(dirty, clean, ["blk"], max_block=3).collect()}
    assert full == {11: 1, 13: 3}
