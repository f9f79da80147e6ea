"""Deduplication operators for web-scale corpora.

Exact (hash groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
SimHash, and n-gram Jaccard — each expressed with JVM-side Column functions
so dedup of 10^12 docs is shuffle-bound, not Python-bound.

Design notes for 100 TB:
* exact dedup is one hash-agg on md5(text) — map-side partial agg collapses
  most of the shuffle;
* MinHash signatures are computed per-row without any shuffle; the only
  shuffle is the band-bucket groupBy, whose fan-in is bounded by bucket
  sizes (cap runaway buckets with ``max_bucket``);
* candidate pairs never materialize the O(n²) cross product — pairs are
  generated within buckets only, from ONE scan of the corpus.

Physical-plan discipline (this matters more than the math): Catalyst does
NOT common-subexpression-eliminate inside higher-order-function lambdas, so
an expression like ``element_at(tokens(text), i)`` inside ``transform``
re-tokenizes the document for every element. Every function here therefore
*binds* intermediate arrays (token list, shingle list, hash list) as named
columns in a separate ``select`` step before any lambda references them —
measured 33× faster on the minhash signature at sf0.1 with bit-identical
output. Multi-use non-cheap aliases survive CollapseProject, so the binding
is stable across optimizer passes.

Hashing uses md5 hex strings (lexicographic min of uniformly-distributed hex
is a valid min-hash) because md5 is bit-identical across Spark, DuckDB and
every SQL engine — which makes every operator here oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.pairs import cap_blocks
from anomaly_detection_spark.functions.text import tokens


# ------------------------------------------------------------------ exact

def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """(text_hash, dup_count, canonical_id) for every text appearing >1 time.
    canonical = min id (the row a dedup pass would keep)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(F.count("*").alias("dup_count"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("dup_count") > 1)
    )


# ---------------------------------------------------------------- minhash

def shingles(col: Column | str, n: int = 3) -> Column:
    """n-word shingles as strings ('w1 w2 w3'); empty array if < n tokens."""
    return _shingles_of(tokens(col), n)


def _shingles_of(toks_attr: Column, n: int) -> Column:
    """Shingle expression over a token array.

    Built as a zip_with fold over n SLICED copies of the array — the
    token expression is referenced O(n) times per DOCUMENT, never inside
    a per-element lambda. This matters because CollapseProject inlines a
    bound ``_toks`` projection into downstream Generate/Project nodes:
    the previous ``transform(sequence, i -> element_at(toks, i+j))``
    form re-ran the whole tokenization regex 3× per shingle ELEMENT
    after inlining (measured 20.5 s for a 5 000-doc explode at sf0.1 —
    ~780k regex splits); the slice/zip_with form does ≤ n+2 per doc and
    the same explode runs in well under a second. Output is
    byte-identical to the old form.

    The whole body is additionally wrapped in a single-element-array
    ``transform`` lambda: the lambda VARIABLE is the binding Catalyst
    cannot inline through, so the token expression is evaluated exactly
    ONCE per document no matter how the surrounding projections
    collapse (measured: 15 inlined tokenizations → 1)."""
    def body(t: Column) -> Column:
        k = F.size(t) - (n - 1)
        sh = F.slice(t, 1, k)
        for j in range(1, n):
            sh = F.zip_with(sh, F.slice(t, j + 1, k),
                            lambda a, b: F.concat(a, F.lit(" "), b))
        return F.when(k >= 1, sh).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(toks_attr), body), 1)


def with_shingles(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                  n: int = 3, out: str = "_sh", distinct: bool = False,
                  keep_token_count: bool = False) -> DataFrame:
    """(id, ``out``: array<string>[, _n_toks]) with tokens bound as a column
    first so the shingle lambda reads an attribute, not a re-tokenization."""
    step1 = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_toks"))
    sh = _shingles_of(F.col("_toks"), n)
    cols = [F.col(id_col), (F.array_distinct(sh) if distinct else sh).alias(out)]
    if keep_token_count:
        cols.append(F.size("_toks").alias("_n_toks"))
    return step1.select(*cols)


def minhash_signature(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                      k: int = 8, n: int = 3) -> DataFrame:
    """(id, mh0..mh{k-1}) signature frame.

    One narrow two-step projection (bind shingles, then k mins) — no shuffle,
    no Python; per-row cost is |shingles| md5 calls per hash function."""
    bound = with_shingles(df, text_col, id_col, n=n)

    def seeded(i):
        # closure, NOT a default-arg lambda: a 2-arg lambda would make
        # F.transform pass the element index as the second argument
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    return bound.select(
        F.col(id_col),
        *[
            F.array_min(F.transform(F.col("_sh"), seeded(i))).alias(f"mh{i}")
            for i in range(k)
        ],
    )


def _band_buckets(df: DataFrame, text_col: str, id_col: str,
                  k: int, bands: int, n: int) -> DataFrame:
    """(id, bucket) — every band bucket of every doc, from ONE signature pass."""
    rows_per_band = k // bands
    sig = minhash_signature(df, text_col, id_col, k=k, n=n)
    band_bkts = []
    for b in range(bands):
        cols = [f"mh{b * rows_per_band + j}" for j in range(rows_per_band)]
        band_bkts.append(
            F.when(
                F.col(cols[0]).isNotNull(),
                F.md5(F.concat_ws("|", F.lit(str(b)), *cols)),
            )
        )
    # explode_outer + null-drop, NOT explode(filter(...)): plain explode
    # gets an inferred `size(arr) > 0` pre-filter that predicate pushdown
    # inlines into the scan filter with the whole minhash pipeline expanded
    # — interpreted (lambda blocks codegen), no CSE, so every signature is
    # computed twice per row (measured ~2× on lsh_candidate_pairs).
    return sig.select(
        F.col(id_col),
        F.explode_outer(F.array(*band_bkts)).alias("bucket"),
    ).filter(F.col("bucket").isNotNull())


def lsh_bucket_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                     k: int = 8, bands: int = 2, n: int = 3,
                     max_bucket: int = 1000) -> DataFrame:
    """One-row observability frame for an LSH run: bucket count/size extremes
    and — critically — how many buckets the ``max_bucket`` cap would DROP and
    how many candidate pairs they held. Run (and log) this alongside
    ``lsh_candidate_pairs`` at scale: a silent cap reads as full coverage."""
    sizes = _band_buckets(df, text_col, id_col, k, bands, n) \
        .groupBy("bucket").agg(F.count("*").alias("sz")).filter(F.col("sz") > 1)
    over = F.col("sz") > max_bucket
    return sizes.agg(
        F.count("*").alias("n_buckets"),
        F.max("sz").alias("max_bucket_size"),
        F.sum(over.cast("long")).alias("n_buckets_dropped"),
        F.sum(F.when(over, F.col("sz") * (F.col("sz") - 1) / 2)
              .otherwise(F.lit(0)).cast("long")).alias("pairs_dropped"),
    )


def lsh_candidate_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        k: int = 8, bands: int = 2, n: int = 3,
                        max_bucket: int | None = 1000) -> DataFrame:
    """MinHash-LSH: band the k-hash signature into ``bands`` buckets; docs
    sharing any band bucket become candidate pairs (id_a < id_b, distinct).

    ONE scan of the corpus: all band buckets are emitted as an array and
    exploded (no per-band union re-scan), then a single groupBy(bucket)
    shuffle collects ids and pairs are expanded within the row — complexity
    Σ|bucket|², never n². ``max_bucket`` (DEFAULT 1000 — a single degenerate
    bucket of empty/boilerplate text is quadratic at 100 TB, so unbounded is
    opt-in via None) drops oversized buckets; pair it with
    ``lsh_bucket_stats`` to log what was dropped.

    The cap is applied as a size PREFILTER (map-side-combinable count, then a
    broadcast anti-join against the tiny oversize-bucket set) so a degenerate
    bucket never materializes its full id list in one ``collect_list`` row —
    capping after collection would still OOM on the row it exists to kill."""
    bkts = cap_blocks(_band_buckets(df, text_col, id_col, k, bands, n),
                      "bucket", max_bucket)
    grouped = (
        bkts.groupBy("bucket")
        .agg(F.collect_list(id_col).alias("_ids"))
        .filter(F.size("_ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("_ids"),
            lambda a: F.transform(
                F.filter(F.col("_ids"), lambda b: a < b),
                lambda b: F.struct(a.alias("id_a"), b.alias("id_b")),
            ),
        )
    )
    return (
        # explode_outer: explode's inferred non-empty filter would inline —
        # and so evaluate — the O(|ids|²) pair expression a second time.
        grouped.select(F.explode_outer(pairs).alias("_p"))
        .filter(F.col("_p").isNotNull())
        .select(F.col("_p.id_a").alias("id_a"), F.col("_p.id_b").alias("id_b"))
        .distinct()
    )


def band_buckets(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                 k: int = 8, bands: int = 2, n: int = 3) -> DataFrame:
    """Public band-bucket export: (id, bucket) for every band of every doc,
    from ONE narrow signature pass (no shuffle). Persist this next to each
    validated snapshot — it is the state that makes near-dup detection
    *incremental*: the next commit probes this table instead of
    re-minhashing the corpus (see ``incremental_lsh_candidates``)."""
    return _band_buckets(df, text_col, id_col, k, bands, n)


def incremental_lsh_candidates(corpus_buckets: DataFrame, appended: DataFrame,
                               text_col: str = "text", id_col: str = "doc_id",
                               k: int = 8, bands: int = 2, n: int = 3,
                               max_bucket: int | None = 1000) -> DataFrame:
    """Near-dup candidates between ONE appended commit and the existing
    corpus WITHOUT re-hashing the corpus — the incremental twin of
    ``lsh_candidate_pairs``, shaped like ``incremental_exact_dups``:
    validate only the new files on each appends-only snapshot commit.

    ``corpus_buckets`` is the persisted (id, bucket) band table of the
    PREVIOUS snapshot (written by ``band_buckets`` when that snapshot was
    validated; same k/bands/n). Only the commit's text is minhashed
    (commit-sized, narrow, no shuffle); its bucket set is then broadcast
    and the corpus band table — small fixed-width rows, never the 100 TB
    text — is probed map-side. The big side never shuffles.

    Hot buckets (empty/boilerplate text) are dropped on both sides by
    ``max_bucket``, like ``lsh_candidate_pairs``' prefilter:

    * commit side — counted directly (commit-sized agg);
    * corpus side — pushed-down scan filter on an optional ``bucket_sz``
      column when ``corpus_buckets`` carries one (maintain it at write
      time — the recommended layout, ONE corpus-table scan per commit);
      otherwise sizes are counted restricted to the commit's bucket set
      (a second map-side-filtered pass over the band table — still never
      the text).

    Returns (new_id, corpus_id, bucket ∩ count as n_shared_buckets),
    distinct pairs. Same-id pairs are possible only if the commit rewrites
    an existing doc_id — by the appends-only contract ids are fresh.
    Verify candidates with ``ngram_jaccard_pairs`` as usual."""
    new_bkts = cap_blocks(
        _band_buckets(appended, text_col, id_col, k, bands, n)
        .select(F.col(id_col).alias("new_id"), "bucket"),
        "bucket", max_bucket)
    probe = corpus_buckets
    if max_bucket is not None and "bucket_sz" in corpus_buckets.columns:
        probe = probe.filter(F.col("bucket_sz") <= max_bucket)
    probe = probe.select(F.col(id_col).alias("corpus_id"), "bucket")
    if max_bucket is not None and "bucket_sz" not in corpus_buckets.columns:
        # the final join keeps only commit buckets, so restrict to them
        # first and count just those corpus blocks
        probe = cap_blocks(
            probe.join(F.broadcast(new_bkts.select("bucket").distinct()),
                       "bucket"),
            "bucket", max_bucket)
    return (
        probe.join(F.broadcast(new_bkts), "bucket")
        .groupBy("new_id", "corpus_id")
        .agg(F.count(F.lit(1)).alias("n_shared_buckets"))
    )


# ---------------------------------------------------------------- simhash

def _simhash_bits(hashes: Column) -> Column:
    bits = []
    for i in range(1, 17):
        ones = F.size(F.filter(
            hashes,
            lambda h: F.instr(F.lit("89abcdef"), F.substring(h, i, 1)) > 0,
        ))
        bits.append(F.when(ones * 2 >= F.size(hashes), F.lit("1")).otherwise(F.lit("0")))
    return F.when(F.size(hashes) > 0, F.concat(*bits)).otherwise(F.lit(None))


def simhash_fingerprints(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 1,
                         out: str = "simhash") -> DataFrame:
    """(id, simhash) — the scale path: md5-per-token bound once, then all 16
    majority bits read the bound attribute."""
    if n > 1:
        src = with_shingles(df, text_col, id_col, n=n).withColumnRenamed("_sh", "_u")
    else:
        src = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_u"))
    h = src.select(
        F.col(id_col), F.transform(F.col("_u"), lambda s: F.md5(s)).alias("_hs")
    )
    return h.select(F.col(id_col), _simhash_bits(F.col("_hs")).alias(out))


# ----------------------------------------------------------- n-gram jaccard

def ngram_jaccard_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                        n: int = 3, threshold: float = 0.5,
                        candidates: DataFrame | None = None,
                        max_block: int = 1000) -> DataFrame:
    """Jaccard similarity of n-gram shingle sets for candidate pairs.

    ``candidates`` (id_a, id_b) bounds the join — feed LSH output here
    (the registry path does). When None, a conservative blocking key (same
    token-count bucket) is used, and blocks larger than ``max_block`` docs
    are DROPPED via a count + broadcast anti-join before the self-join —
    the same discipline as ``lsh_candidate_pairs`` / ``co_activity_pairs``.
    Without the cap, one common document-length bucket at corpus scale is
    an all-pairs join (Σ|block|² quadratic trap); with it, worst-case pair
    expansion is bounded at max_block²·n_blocks. Pass a larger cap (or
    candidates) when exactness over degenerate length buckets matters."""
    base = with_shingles(df, text_col, id_col, n=n, distinct=True,
                         keep_token_count=True)
    sets = base.select(
        F.col(id_col).alias("_id"),
        F.col("_sh"),
        (F.col("_n_toks") / 10).cast("long").alias("_blk"),
    )
    if candidates is None:
        kept = cap_blocks(sets, "_blk", max_block)
        a = kept.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a"), "_blk")
        b = kept.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b"), "_blk")
        pairs = a.join(b, "_blk").filter(F.col("id_a") < F.col("id_b"))
    else:
        pairs = (
            candidates
            .join(sets.select(F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")), "id_a")
            .join(sets.select(F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")), "id_b")
        )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return pairs.select(
        "id_a", "id_b", F.round(jac, 6).alias("jaccard")
    ).filter(F.col("jaccard") >= threshold)


def ngram_containment_pairs(df: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id", n: int = 3,
                            threshold: float = 0.8, max_df: int = 1000,
                            min_shared: int = 2) -> DataFrame:
    """Asymmetric near-dup: containment |A∩B| / min(|A|,|B|) of n-gram
    shingle sets — catches a SHORT document quoted inside a long one,
    which resemblance Jaccard scores near |A|/|B| ≈ 0 and MinHash-LSH
    (a Jaccard sketch) rarely even candidates. The dedup lens for
    quote inclusion, boilerplate embedding, and excerpt pages.

    Candidate generation is a frequency-capped shingle inverted index:
    shingles appearing in more than ``max_df`` docs are dropped first
    (stop-shingles carry no identity — same count + broadcast anti-join
    discipline as ``lsh_candidate_pairs``), pairs must share at least
    ``min_shared`` surviving shingles (map-side-combined count), and the
    exact containment closes over ``array_intersect`` on candidates
    ONLY. Join fan-out is bounded by Σ df² with df ≤ max_df — never
    all-pairs, and unlike the length-bucket fallback of
    ``ngram_jaccard_pairs`` it deliberately pairs docs of very
    DIFFERENT sizes (containment's whole point).

    Returns (id_a, id_b, n_a, n_b, containment) for pairs at or above
    ``threshold``. Reference analogue: the reference's exact-text dup
    screens; containment generalizes them to partial inclusion."""
    base = with_shingles(df, text_col, id_col, n=n, distinct=True)
    ex = base.select(F.col(id_col).alias("_id"), F.explode("_sh").alias("_g"))
    kept = cap_blocks(ex, "_g", int(max_df))
    cand = (
        kept.select(F.col("_id").alias("id_a"), "_g")
        .join(kept.select(F.col("_id").alias("id_b"), "_g"), "_g")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("_shared"))
        .filter(F.col("_shared") >= int(min_shared))
        .select("id_a", "id_b")
    )
    sets = base.select(F.col(id_col).alias("_id"), "_sh")
    pairs = (
        cand
        .join(sets.select(F.col("_id").alias("id_a"),
                          F.col("_sh").alias("sh_a")), "id_a")
        .join(sets.select(F.col("_id").alias("id_b"),
                          F.col("_sh").alias("sh_b")), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    n_a, n_b = F.size("sh_a"), F.size("sh_b")
    cont = F.when(F.least(n_a, n_b) > 0,
                  inter / F.least(n_a, n_b)).otherwise(F.lit(0.0))
    return (
        pairs.select("id_a", "id_b", n_a.alias("n_a"), n_b.alias("n_b"),
                     F.round(cont, 6).alias("containment"))
        .filter(F.col("containment") >= float(threshold))
    )


# ------------------------------------------------- incremental (snapshot append)

def incremental_exact_dups(corpus: DataFrame, appended: DataFrame,
                           text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Which newly-appended documents exactly duplicate the EXISTING corpus —
    the dedup check an appends-only snapshot validation runs on each commit
    (validate only the new files, never re-shuffle the 100 TB base; the
    snapshot analogue of ``snapshots.read_incremental``'s appends-only scan,
    reference snapshot model ``risk_history_tracker.py:35-101``).

    Scale shape is asymmetric by construction: the appended slice is bounded
    by one commit (millions of rows at most), the corpus is not. So the NEW
    side's fingerprint set is broadcast and the corpus is scanned ONCE with
    a map-side hash probe — zero shuffle of the big table, no corpus-wide
    fingerprint materialization. The per-fingerprint match count is
    map-side-combined (distinct fingerprints ≤ appended rows), then joined
    back to the appended slice (tiny ⋈ tiny).

    Returns (new_id, text_hash, n_corpus_matches, corpus_canonical_id) for
    every appended doc whose text already exists; dedup policy = drop these
    before commit, or route to the violations sink as rule
    ``incremental_dup``."""
    fp_new = appended.select(
        F.col(id_col).alias("new_id"),
        F.md5(F.col(text_col)).alias("text_hash"),
    )
    new_set = fp_new.select("text_hash").distinct()
    matches = (
        corpus.select(F.md5(F.col(text_col)).alias("text_hash"),
                      F.col(id_col))
        .join(F.broadcast(new_set), "text_hash")
        .groupBy("text_hash")
        .agg(F.count(F.lit(1)).alias("n_corpus_matches"),
             F.min(id_col).alias("corpus_canonical_id"))
    )
    return fp_new.join(matches, "text_hash").select(
        "new_id", "text_hash", "n_corpus_matches", "corpus_canonical_id"
    )


# ------------------------------------------------- corpus-level similarity

def grouped_minhash(df: DataFrame, group_col: str = "source",
                    text_col: str = "text", k: int = 8, n: int = 3,
                    ) -> DataFrame:
    """Per-group UNION MinHash signature: the min-hash of a union of
    shingle sets is the element-wise MIN of the per-document min-hashes,
    so a whole domain's sketch is one map-side-combinable ``min``
    aggregate over the per-doc signatures — (group, mh0..mh{k-1}), one
    corpus scan, k·|groups| output cells. Documents shorter than the
    shingle width contribute NULL per-doc mins, which ``min`` skips —
    exactly the empty-set union identity."""
    bound = df.select(F.col(group_col), tokens(F.col(text_col)).alias("_toks"))
    bound = bound.select(F.col(group_col), _shingles_of(F.col("_toks"), n).alias("_sh"))

    def seeded(i):
        # closure, NOT a default-arg lambda (transform would pass the index)
        return lambda s: F.md5(F.concat(F.lit(f"{i}:"), s))

    per_doc = bound.select(
        F.col(group_col),
        *[F.array_min(F.transform(F.col("_sh"), seeded(i))).alias(f"mh{i}")
          for i in range(k)],
    )
    return per_doc.groupBy(group_col).agg(
        *[F.min(f"mh{i}").alias(f"mh{i}") for i in range(k)])


def group_similarity(df: DataFrame, group_col: str = "source",
                     text_col: str = "text", k: int = 8, n: int = 3,
                     ) -> DataFrame:
    """Corpus-level similarity between GROUPS (domains/sources/shards):
    estimated Jaccard of the groups' full shingle sets = fraction of the
    k union-sketch positions that agree. Output
    (group_a, group_b, agree, jaccard_ppm) for every unordered pair.

    Scale shape: ONE corpus scan builds the k·|groups| sketch table
    (map-side combined min agg); the pairwise compare is
    |groups|² over a driver-tiny frame — the corpus itself is never
    joined or shuffled. This is the "which sources duplicate each
    other's content" rollup a mixture designer runs before setting
    domain weights; doc-level near-dup ops (``lsh_candidate_pairs``)
    answer the per-document form of the same question."""
    sig = grouped_minhash(df, group_col, text_col, k=k, n=n)
    a = sig.select(F.col(group_col).alias("group_a"),
                   *[F.col(f"mh{i}").alias(f"a{i}") for i in range(k)])
    b = sig.select(F.col(group_col).alias("group_b"),
                   *[F.col(f"mh{i}").alias(f"b{i}") for i in range(k)])
    agree = None
    for i in range(k):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        agree = term if agree is None else agree + term
    return (
        a.join(F.broadcast(b), F.col("group_a") < F.col("group_b"))
        .select(
            "group_a", "group_b",
            agree.cast("long").alias("agree"),
            F.floor(agree * F.lit(1_000_000) / F.lit(k))
            .cast("long").alias("jaccard_ppm"),
        )
    )
