"""Closed-form ML-style outlier scoring — the engine's replacement for the
reference's sklearn ensemble (IsolationForest/LOF/DBSCAN +
``/root/reference/anomaly_detection/analyzers/ml_analyzer.py:70-97``,
``ml_models/ensemble_model.py:28-77``).

Design stance: at 10^12 rows an iterative sklearn fit per run is the wrong
tool — the ensemble's *job* (rank entities by how far their feature vector
sits from the population) is served by robust statistics that are pure
DataFrame aggregations:

* **robust z-scores** — (x − median) / (1.4826·MAD) per feature; medians and
  MADs are two tiny global aggregation passes (exact ``percentile``), then a
  broadcast join back. Robust to the outliers being scored (unlike μ/σ).
* **Mahalanobis-lite score** — √(Σ z_i²) over the feature set (diagonal
  covariance; the PCA+distance shape of the reference without the iterative
  fit).
* **IQR excess score** — Σ max(0, distance outside [Q1−1.5·IQR, Q3+1.5·IQR])
  / IQR per feature (the classic boxplot outlier rule, ≈ IsolationForest's
  role of flagging boundary-breakers).
* **weighted ensemble** — w_z·score_z + w_iqr·score_iqr
  (≈ ensemble_model.py:64-77 weighted score combination).

Everything is deterministic closed-form math on exact integer feature sums,
so every score is DuckDB-oracle-checkable bit-for-bit — which a fitted
sklearn model never is.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from anomaly_detection_spark.functions.pairs import cap_blocks

MAD_CONSISTENCY = 1.4826  # scales MAD to σ under normality (standard constant)


def entity_activity_features(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-entity behavioral feature vector as EXACT integers (counts and
    cents) — ≈ the reference's per-user feature matrix
    (feature_engineering.py:178-232) without per-row Python. One groupBy."""
    off = (F.hour(ts_col) < 8) | (F.hour(ts_col) >= 18)
    return events.groupBy(user_col).agg(
        F.count("*").alias("n_events"),
        F.sum(off.cast("long")).alias("n_offhours"),
        F.sum((F.col(type_col) == "error").cast("long")).alias("n_errors"),
        F.sum(F.round(F.col(value_col) * 100).cast("long")).alias("value_cents"),
        F.countDistinct(type_col).alias("n_types"),
    )


def outlier_scores(
    features: DataFrame,
    cols: list[str],
    id_col: str = "user_id",
    w_z: float = 0.6,
    w_iqr: float = 0.4,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust-z + IQR ensemble outlier score per entity.

    Physical shape (scale-safe at any entity count):
      1. one global agg computing [Q1, median, Q3] per feature
         (``percentile(c, array(...))`` — exact, cross-engine reproducible);
      2. one global agg for MAD per feature (needs the medians: broadcast
         crossJoin of the 1-row stats frame, then ``percentile(abs(x-med))``);
      3. one broadcast join back + pure column math for the scores.
    No window over all rows, no iterative fit, no Python.
    """
    q_aggs = [
        F.expr(f"percentile({c}, array(0.25, 0.5, 0.75))").alias(f"_q_{c}")
        for c in cols
    ]
    quarts = features.agg(*q_aggs)
    with_q = features.crossJoin(F.broadcast(quarts))
    mad_aggs = [
        F.expr(f"percentile(abs({c} - _q_{c}[1]), 0.5)").alias(f"_mad_{c}")
        for c in cols
    ] + [F.first(f"_q_{c}").alias(f"_q_{c}") for c in cols]
    stats = with_q.agg(*mad_aggs)

    scored = features.crossJoin(F.broadcast(stats))
    z_sq_terms = []
    iqr_terms = []
    for c in cols:
        med = F.col(f"_q_{c}")[1]
        q1, q3 = F.col(f"_q_{c}")[0], F.col(f"_q_{c}")[2]
        mad = F.greatest(F.col(f"_mad_{c}"), F.lit(1.0))
        z = (F.col(c) - med) / (F.lit(MAD_CONSISTENCY) * mad)
        z_sq_terms.append(z * z)
        iqr = F.greatest(q3 - q1, F.lit(1.0))
        lo, hi = q1 - 1.5 * iqr, q3 + 1.5 * iqr
        iqr_terms.append(
            F.greatest(F.lit(0.0), F.col(c) - hi, lo - F.col(c)) / iqr
        )
    sum_z2 = z_sq_terms[0]
    for t in z_sq_terms[1:]:
        sum_z2 = sum_z2 + t
    score_z = F.sqrt(sum_z2)
    score_iqr = iqr_terms[0]
    for t in iqr_terms[1:]:
        score_iqr = score_iqr + t
    ensemble = F.lit(w_z) * score_z + F.lit(w_iqr) * score_iqr
    return scored.select(
        F.col(id_col),
        F.round(score_z, 6).alias("score_z"),
        F.round(score_iqr, 6).alias("score_iqr"),
        F.round(ensemble, 6).alias("ensemble_score"),
        (ensemble > threshold).alias("is_outlier"),
    )


def dbscan_labels(
    points: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "qv",
    bucket_col: str = "bucket",
    eps_sq: int = 1_562_500,
    min_pts: int = 4,
    max_bucket: int = 2_000,
) -> DataFrame:
    """DBSCAN-style density clustering within neighborhood buckets — the
    *clustering* half of the density-based family whose *outlier* half is
    ``local_outlier_scores`` (reference: ``/root/reference/anomaly_detection/
    ml_models/dbscan_model.py:36-125`` sklearn DBSCAN fit).

    Semantics are textbook Ester-et-al DBSCAN restricted to each bucket:
    a point is **core** when its ε-ball holds ≥ ``min_pts`` points
    (including itself, the sklearn ``min_samples`` convention), **border**
    when non-core but within ε of some core point, **noise** otherwise.
    Clusters are the connected components of the core—core ε-graph; a
    border point joins the cluster of its minimum-labeled core neighbor
    (sklearn assigns first-visited — order-dependent; min-label is the
    deterministic total-order analogue). Cluster ids are the minimum
    member point id, so labels are stable across partitionings and runs.

    Inputs are integer-quantized vectors (``array<long>``, caller
    quantizes — milli-units for embeddings) so every squared distance is
    an exact int64 and the ε test ``d² ≤ eps_sq`` is bit-reproducible in
    any engine; there is no float anywhere in the pipeline.

    Scale shape: the ε-pair join is the capped per-bucket discipline of
    ``local_outlier_scores`` — Σ|bucket|² work with oversize buckets
    excluded from the pair join via broadcast anti-join, never
    corpus-quadratic. Points of an excluded oversize bucket still appear
    in the output, as ``noise`` with ``n_eps = 0`` (no pairs were
    generated for them); callers wanting them distinguishable should
    lower ``max_bucket`` only alongside a coarser bucketing. The ε-edge
    frame is localCheckpointed because three consumers branch off it
    (neighbor counts, core-core edges, border assignment); it is bounded
    by the ε-ball fanout, not the corpus. Boundary points near a bucket
    seam lose cross-bucket neighbors — the standard blocked-kNN trade,
    same as LOF's (documented there).

    Returns (id, n_eps, role, cluster): ``n_eps`` = ε-neighbors excluding
    self, ``role`` ∈ {core, border, noise}, ``cluster`` = min core id of
    the cluster (NULL for noise; an isolated core point is its own
    cluster)."""
    from anomaly_detection_spark.functions import graph

    pts = points.select(
        F.col(id_col).alias("_id"), F.col(bucket_col).alias("_bkt"),
        F.col(vec_col).alias("_v"),
    ).localCheckpoint(eager=False)
    kept = cap_blocks(pts, "_bkt", max_bucket)
    a = kept.select(F.col("_id").alias("_pa"), "_bkt", F.col("_v").alias("_va"))
    b = kept.select(F.col("_id").alias("_pb"), "_bkt", F.col("_v").alias("_vb"))
    d2 = F.aggregate(
        F.zip_with("_va", "_vb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v,
    )
    eps_pairs = (
        a.join(b, "_bkt")
        .filter(F.col("_pa") != F.col("_pb"))
        .withColumn("_d2", d2)
        .filter(F.col("_d2") <= F.lit(int(eps_sq)))
        .select("_pa", "_pb")
        .localCheckpoint(eager=False)
    )
    ncnt = eps_pairs.groupBy("_pa").agg(F.count("*").alias("n_eps"))
    flagged = (
        pts.select("_id")
        .join(ncnt.withColumnRenamed("_pa", "_id"), "_id", "left")
        .select("_id", F.coalesce("n_eps", F.lit(0)).cast("long").alias("n_eps"))
        .withColumn("_core", F.col("n_eps") + 1 >= F.lit(int(min_pts)))
    )
    cores = flagged.filter("_core").select("_id")
    core_edges = (
        eps_pairs
        .join(cores.withColumnRenamed("_id", "_pa"), "_pa")
        .join(cores.withColumnRenamed("_id", "_pb"), "_pb")
        .filter(F.col("_pa") < F.col("_pb"))
        .select(F.col("_pa").alias("src"), F.col("_pb").alias("dst"))
    )
    comp = graph.connected_components(core_edges)
    # isolated core points (no core neighbor in ε) are their own cluster
    core_lbl = (
        cores.join(comp.withColumnRenamed("node", "_id"), "_id", "left")
        .select("_id", F.coalesce("component", "_id").alias("_cluster"))
    )
    border_lbl = (
        eps_pairs
        .join(cores.withColumnRenamed("_id", "_pa"), "_pa", "left_anti")
        .join(core_lbl.withColumnRenamed("_id", "_pb"), "_pb")
        .groupBy("_pa").agg(F.min("_cluster").alias("_cluster"))
        .withColumnRenamed("_pa", "_id")
    )
    return (
        flagged
        .join(core_lbl.withColumnRenamed("_cluster", "_ccl"), "_id", "left")
        .join(border_lbl.withColumnRenamed("_cluster", "_bcl"), "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_eps",
            F.when(F.col("_core"), F.lit("core"))
            .when(F.col("_bcl").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise")).alias("role"),
            F.coalesce("_ccl", "_bcl").alias("cluster"),
        )
    )


def local_outlier_scores(
    features: DataFrame,
    cols: list[str],
    id_col: str = "user_id",
    bucket_col: str = "bucket",
    k: int = 3,
    max_bucket: int = 2_000,
    threshold: float = 1.5,
    checkpoint: bool = True,
    nprobe: int = 1,
) -> DataFrame:
    """Exact LOF (local outlier factor) within neighborhood buckets — the
    density-based member the global robust-z/IQR ensemble cannot express
    (reference: ``/root/reference/anomaly_detection/ml_models/
    lof_model.py:31-128``). A point that is *normal globally* but sits apart
    from its own dense neighborhood scores > 1; global z/IQR scores are
    blind to it.

    Semantics are textbook Breunig-et-al LOF, restricted to each bucket:
    kNN by euclidean distance (ties broken by neighbor id — deterministic),
    ``k_dist`` = distance to the k-th neighbor, reachability distance
    ``max(k_dist(o), d(p, o))``, ``lrd = 1 / avg(reach)``, ``lof =
    avg(lrd(neighbor)) / lrd(self)``. Points with no same-bucket neighbor
    (singletons, dropped buckets) return the neutral score 1.0 with
    ``n_neighbors = 0`` rather than vanishing.

    Scale shape: the all-pairs step is Σ|bucket|² — never corpus-quadratic
    because buckets larger than ``max_bucket`` are DROPPED via a map-side-
    combinable count + broadcast anti-join before the self-join (the
    ``lsh_candidate_pairs`` / ``co_activity_pairs`` discipline). The caller
    supplies the bucket column (an IVF/LSH bucket, a feature-grid cell) —
    LOF is a *local* notion, so restricting neighbor search to a bucket is
    the approximation that makes it distributable; boundary points lose
    cross-bucket neighbors, the standard blocked-kNN trade. Everything
    downstream of the bounded pair join is hash-agg over ≤ k rows per point.

    Determinism: distances are ``sqrt`` of exact integer sums (IEEE
    correctly-rounded in every engine), tie-breaks are total, and the final
    score is rounded to 6 dp — DuckDB-oracle-checkable, unlike a fitted
    sklearn LOF.

    ``nprobe > 1`` shrinks the boundary-point blind spot (reference LOF
    searches globally, ``lof_model.py:31-128``): each point's CANDIDATE
    neighbors come from its home bucket PLUS its ``nprobe − 1`` nearest
    other buckets by centroid distance — the IVF multi-probe idea
    (``similarity.ivf_multiprobe_topk``) applied to the kNN side of LOF.
    The codebook is per-bucket exact integer feature sums + counts (tiny,
    broadcast); probe ranking compares Σ(xᵢ·n − sᵢ)² in double with a
    fixed term order, so it is engine-reproducible (ranking needs
    consistency, not exactness — the LOF distances themselves stay exact).
    Candidates keep their single home bucket, so the pair join stays a
    per-bucket equi-join at ``nprobe``× the single-probe work. A point
    whose true neighbors sit just across a grid seam — or whose bucket is
    a singleton — gains real neighbors instead of a neutral 1.0.

    The two ``localCheckpoint``s are load-bearing: ``kdist``/``reach``/
    ``lof`` all branch off ``knn``, and without truncation each branch
    re-executes the whole upstream feature build (a corpus-sized
    aggregation) — measured 6.4 s → 2.9 s on the sf0.1 bench. Both
    materialized frames are entity-sized (n and ≤ k·n rows), never
    corpus-sized. ``checkpoint=False`` keeps full lineage — plan shape is
    identical; the plan-pin tests use it because explain cannot see past
    a checkpoint."""
    _ckpt = (lambda df: df.localCheckpoint(eager=False)) if checkpoint \
        else (lambda df: df)
    pts = features.select(
        F.col(id_col).alias("_id"), F.col(bucket_col).alias("_bkt"), *cols
    )
    pts = _ckpt(pts)
    kept = cap_blocks(pts, "_bkt", max_bucket)
    probed = kept
    if nprobe > 1:
        cent = kept.groupBy(F.col("_bkt").alias("_cb")).agg(
            F.count("*").alias("_cn"),
            *[F.sum(c).alias(f"_s_{c}") for c in cols],
        )
        cd2 = None
        for c in cols:
            t = (
                F.col(c).cast("double") * F.col("_cn")
                - F.col(f"_s_{c}").cast("double")
            )
            cd2 = t * t if cd2 is None else cd2 + t * t
        wpr = Window.partitionBy("_id").orderBy(F.asc("_cd2"), F.asc("_cb"))
        others = (
            kept.crossJoin(F.broadcast(cent))
            .filter(F.col("_cb") != F.col("_bkt"))
            .withColumn("_cd2", cd2)
            .withColumn("_pr", F.row_number().over(wpr))
            .filter(F.col("_pr") <= nprobe - 1)
            .select("_id", F.col("_cb").alias("_bkt"), *cols)
        )
        probed = kept.select("_id", "_bkt", *cols).unionByName(others)
    a = probed.select(
        F.col("_id").alias("_pa"), "_bkt",
        *[F.col(c).alias(f"_a_{c}") for c in cols],
    )
    b = kept.select(
        F.col("_id").alias("_pb"), "_bkt",
        *[F.col(c).alias(f"_b_{c}") for c in cols],
    )
    d2 = None
    for c in cols:
        t = (F.col(f"_a_{c}") - F.col(f"_b_{c}")) * (
            F.col(f"_a_{c}") - F.col(f"_b_{c}")
        )
        d2 = t if d2 is None else d2 + t
    pairs = (
        a.join(b, "_bkt")
        .filter(F.col("_pa") != F.col("_pb"))
        .select("_pa", "_pb", F.sqrt(d2.cast("double")).alias("_d"))
    )
    wk = Window.partitionBy("_pa").orderBy("_d", "_pb")
    knn = pairs.withColumn("_rn", F.row_number().over(wk)).filter(
        F.col("_rn") <= k
    ).select("_pa", "_pb", "_d")
    knn = _ckpt(knn)
    kdist = knn.groupBy("_pa").agg(
        F.max("_d").alias("_kdist"), F.count("*").alias("_nn")
    )
    reach = knn.join(
        kdist.select(F.col("_pa").alias("_pb"), F.col("_kdist").alias("_kd_o")),
        "_pb",
    ).select("_pa", "_pb", F.greatest("_kd_o", F.col("_d")).alias("_reach"))
    # duplicate-point guard: an all-zero neighborhood would make lrd infinite
    lrd = reach.groupBy("_pa").agg(
        (F.lit(1.0) / F.greatest(F.avg("_reach"), F.lit(1e-6))).alias("_lrd")
    )
    lof = (
        knn.select("_pa", "_pb")
        .join(lrd.select(F.col("_pa").alias("_pb"), F.col("_lrd").alias("_lrd_o")), "_pb")
        .groupBy("_pa")
        .agg(F.avg("_lrd_o").alias("_avg_lrd_o"))
        .join(lrd, "_pa")
        .select(
            "_pa",
            (F.col("_avg_lrd_o") / F.col("_lrd")).alias("_lof"),
        )
    )
    scored = lof.join(kdist.select("_pa", "_kdist", "_nn"), "_pa")
    return (
        # join back against the checkpointed points (same id set as the
        # input), so the corpus-sized feature build is not re-executed
        pts.select(F.col("_id").alias(id_col))
        .join(scored.withColumnRenamed("_pa", id_col), id_col, "left")
        .select(
            F.col(id_col),
            F.round(F.coalesce(F.col("_lof"), F.lit(1.0)), 6).alias("lof_score"),
            F.round(F.coalesce(F.col("_kdist"), F.lit(0.0)), 6).alias("k_dist"),
            F.coalesce(F.col("_nn"), F.lit(0)).cast("long").alias("n_neighbors"),
            (F.coalesce(F.col("_lof"), F.lit(1.0)) > threshold).alias(
                "is_local_outlier"
            ),
        )
    )


def robust_outlier_stats(df: DataFrame, group_col: str,
                         cents_col: str,
                         z_milli_threshold: int = 3500) -> DataFrame:
    """MAD-based robust outlier profile per group (the Iglewicz–Hoaglin
    modified z-score |0.6745·(x−med)/MAD| > 3.5 screen), exact-integer
    end to end so every engine agrees bit-for-bit:

    * the median is the LOWER median (smallest value whose cumulative
      count reaches ⌈n/2⌉) — rank-exact, no interpolation;
    * MAD is the lower median of |x − med|;
    * a row is an outlier iff ``1349·|x − med| > 2·threshold·MAD`` — the
      modified-z compare cleared of division (0.6745 = 1349/2000,
      threshold in milli-z), so no float ever appears;
    * MAD = 0 (a majority-constant group) flags nothing, by definition.

    Scale shape: ONE corpus scan builds a (group, value)-histogram
    (map-side combined); the median, the deviation histogram, the MAD
    and the outlier count are all computed on that bounded frame —
    distinct cents values, not rows — so 10^12 events with a 10^5-value
    domain cost one shuffle of 10^5 rows per group. Windows are
    partitioned per group over distinct values only. Reference analogue:
    the z-score screens in ``ml_models/`` use mean/std, which one fat
    tail drags; the MAD form is the robust twin.

    Returns (group, n, median_cents, mad_cents, n_outliers,
    outlier_ppm)."""
    g, v = F.col(group_col), F.col(cents_col)
    hist = df.groupBy(g.alias("_g"), v.alias("_v")).agg(
        F.count(F.lit(1)).alias("_c"))

    def lower_median(h: DataFrame, val: str) -> DataFrame:
        wcum = (Window.partitionBy("_g").orderBy(val)
                .rowsBetween(Window.unboundedPreceding, 0))
        wall = Window.partitionBy("_g")
        withc = h.select(
            "_g", F.col(val),
            F.sum("_c").over(wcum).alias("_cum"),
            F.sum("_c").over(wall).alias("_n"))
        return (
            withc.filter(F.col("_cum") * 2 >= F.col("_n"))
            .groupBy("_g")
            .agg(F.min(val).alias("_med"), F.max("_n").alias("_n"))
        )

    med = lower_median(hist, "_v")
    dev = (
        hist.join(F.broadcast(med.select("_g", "_med")), "_g")
        .groupBy("_g", F.abs(F.col("_v") - F.col("_med")).alias("_d"))
        .agg(F.sum("_c").alias("_c"))
    )
    mad = lower_median(dev, "_d").select("_g", F.col("_med").alias("_mad"))
    thr2 = 2 * int(z_milli_threshold)
    joined = (
        hist.join(F.broadcast(med), "_g").join(F.broadcast(mad), "_g")
    )
    out = joined.groupBy("_g").agg(
        F.max("_n").alias("_n"),
        F.max("_med").alias("_medv"),
        F.max("_mad").alias("_madv"),
        F.sum(
            F.when(
                (F.col("_mad") > 0)
                & (F.lit(1349) * F.abs(F.col("_v") - F.col("_med"))
                   > F.lit(thr2) * F.col("_mad")),
                F.col("_c"),
            ).otherwise(F.lit(0))
        ).alias("_nout"),
    )
    return out.select(
        F.col("_g").alias(group_col),
        F.col("_n").cast("long").alias("n"),
        F.col("_medv").cast("long").alias("median_cents"),
        F.col("_madv").cast("long").alias("mad_cents"),
        F.col("_nout").cast("long").alias("n_outliers"),
        F.floor(F.col("_nout") * F.lit(1_000_000) / F.col("_n"))
        .cast("long").alias("outlier_ppm"),
    )
