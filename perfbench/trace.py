"""The traced run: each layer's public function timed alone, from outside.

Every layer is forced through a noop write (or its own parquet write) under
``setJobGroup("layer:<name>#<run>")``, ``runs`` times; each layer metric is
the median over the runs. The first run of a layer also warms its code, so
with three runs the median is the slower of two warm runs. A registry query
gets a single run, collected and then checked against its DuckDB oracle.
Executor-side figures come from the application status store
(``sc._jsc.sc().statusStore()``), which is kept with the UI off.

Per layer: ``wall_s``, ``cpu_s`` (executor CPU), ``core_util`` (executor run
time / (wall x cores)), ``shuffle_mb`` (shuffle bytes written), ``gc_s`` and
``task_skew`` (the largest max/median task run time over the layer's stages
that ran at least two tasks; 1.0 when none did).

Counts: ``plan.*`` (FileScan, Exchange and ArrowEvalPython nodes in the
final plans of the suite's verdict and span-kind jobs),
``sinks.bytes_written``, ``main.fresh_s`` and ``main.resume_s`` (an
in-process ``run_validation.main`` fresh run, then its ``--resume`` after a
crash between the sink writes and the manifest commit, both checked),
``cache.persisted_after`` (RDDs that fresh call leaves persisted), each
dataset rule's violation rows, ``trace.pass_s`` (a suite pass in the traced session; minus
the untraced ``iter_s`` it is the tracing overhead) and
``trace.layer_wall_sum_s`` (the suite layers' walls summed, to set against
``trace.pass_s``: the layers overlap inside a pass).
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time

import duckdb
import pyarrow.parquet as pq
from py4j.protocol import Py4JJavaError

import corpus
from workloads import CATALOG, WORK, CheckFailed, check_report, \
    check_result, check_sinks, clear_cache, crash_after_sinks, force, \
    fresh_args, main_call, persisted_rdds, suite_pass, suite_rules

# the slowest registry queries: ANN over a seeded embeddings table
QUERIES = ["embedding_ivf_kmeans", "ann_recall_report", "embedding_int8_ivf"]
N_EMBEDDINGS = 250
LAYERS = ["scan", "rules.row", "rules.row.stats", "rules.row.pii",
          "rules.row.span_udf", "rules.unique", "rules.referential",
          "profiler.span_kind", "engine.verdicts", "sinks", "manifest",
          "drift", "snapshots"] + [f"queries.{q}" for q in QUERIES]
# the layers one suite pass is made of; their walls overlap inside the pass
SUITE_LAYERS = ["rules.row", "rules.unique", "rules.referential",
                "profiler.span_kind", "engine.verdicts"]
LAYER_METRICS = [("wall_s", "s"), ("cpu_s", "s"), ("core_util", "ratio"),
                 ("shuffle_mb", "MiB"), ("gc_s", "s"), ("task_skew", "ratio")]
COUNTS = [("plan.filescans", "count"), ("plan.exchanges", "count"),
          ("plan.arrow_evals", "count"), ("sinks.bytes_written", "bytes"),
          ("cache.persisted_after", "count"),
          ("rules.row.violation_rows", "count"),
          ("rules.unique.violation_rows", "count"),
          ("rules.referential.violation_rows", "count"),
          ("trace.pass_s", "s"), ("trace.layer_wall_sum_s", "s"),
          ("main.fresh_s", "s"), ("main.resume_s", "s")]


def metric_units() -> dict[str, str]:
    """Every per-layer metric name with its unit."""
    units = {f"{layer}.{m}": u for layer in LAYERS for m, u in LAYER_METRICS}
    units.update(COUNTS)
    return units


def _stage_totals(sc, group: str) -> dict[str, float]:
    """Sums over the stages the job group ran, read from the status store."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    stage_ids = {s for job in tracker.getJobIdsForGroup(group)
                 for s in tracker.getJobInfo(job).stageIds}
    run_ms = cpu_ns = gc_ms = shuffle_b = 0
    skew = 1.0
    for sid in stage_ids:
        try:
            attempts = store.stageData(sid, False, None, False, quantiles)
        except Py4JJavaError:  # planned but never submitted
            continue
        for i in range(attempts.size()):
            st = attempts.apply(i)
            if st.status().toString() == "SKIPPED":
                continue
            run_ms += st.executorRunTime()
            cpu_ns += st.executorCpuTime()
            gc_ms += st.jvmGcTime()
            shuffle_b += st.shuffleWriteBytes()
            if st.numTasks() < 2:
                continue
            summary = store.taskSummary(sid, st.attemptId(), quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                if rt.apply(0) > 0:
                    skew = max(skew, rt.apply(1) / rt.apply(0))
    return {"run_s": run_ms / 1e3, "cpu_s": cpu_ns / 1e9, "gc_s": gc_ms / 1e3,
            "shuffle_mb": shuffle_b / 2**20, "task_skew": skew}


class Tracer:
    def __init__(self, spark, cores: int, runs: int) -> None:
        self.spark, self.sc = spark, spark.sparkContext
        self.cores, self.runs = cores, runs
        self.samples: dict[str, list[float]] = {}

    def measure(self, name: str, make, keep_cache: bool = False,
                runs: int | None = None) -> float:
        """``make(first)`` builds the layer's inputs (untraced) and returns
        the callable to time; the first run also warms the layer's code.
        With ``keep_cache`` frames cached by ``make`` survive between runs.
        Returns the median wall."""
        walls = []
        for i in range(runs or self.runs):
            if not keep_cache:
                clear_cache(self.spark)
            self.sc.setJobGroup("trace:setup", "untimed set-up")
            fn = make(i == 0)
            group = f"layer:{name}#{i}"
            self.sc.setJobGroup(group, name)
            t0 = time.monotonic()
            fn()
            wall = time.monotonic() - t0
            self.sc.setJobGroup("trace:setup", "untimed set-up")
            tot = _stage_totals(self.sc, group)
            tot["wall_s"] = wall
            tot["core_util"] = tot.pop("run_s") / (wall * self.cores)
            for k, v in tot.items():
                self.samples.setdefault(f"{name}.{k}", []).append(v)
            walls.append(wall)
        print(f"[trace] {name}: walls {[round(w, 3) for w in walls]}",
              file=sys.stderr, flush=True)
        return statistics.median(walls)

    def metrics(self) -> dict[str, float]:
        return {k: statistics.median(v) for k, v in self.samples.items()}


def _plan_counts(frames) -> dict[str, int]:
    """FileScan, Exchange and ArrowEvalPython nodes in the final (adaptive)
    plans of ``frames``, each executed once."""
    counts = {"plan.filescans": 0, "plan.exchanges": 0, "plan.arrow_evals": 0}
    for df in frames:
        qe = df._jdf.queryExecution()
        qe.toRdd().count()
        text = qe.executedPlan().toString()
        final = text.split("== Final Plan ==")[-1].split("== Initial Plan ==")[0]
        for line in final.splitlines():
            node = line.lstrip(" :+-|").split(" ")
            node = node[1] if node[0].startswith("*(") and len(node) > 1 \
                else node[0]
            counts["plan.filescans"] += node == "FileScan"
            counts["plan.exchanges"] += node.endswith("Exchange")
            counts["plan.arrow_evals"] += node == "ArrowEvalPython"
    return counts


def _canon(pdf) -> list[str]:
    """Order-insensitive rows, columns sorted, floats to 9 places (the
    comparison ``tools/check_oracle.py`` makes)."""
    cols = sorted(pdf.columns)
    rows = []
    for rec in pdf[cols].itertuples(index=False):
        vals = []
        for v in rec:
            v = v.item() if hasattr(v, "item") else v
            if isinstance(v, bool):
                v = int(v)
            elif isinstance(v, float):
                v = "NaN" if math.isnan(v) else repr(round(v, 9))
            vals.append(str(v))
        rows.append("|".join(vals))
    return sorted(rows)


def query_layers(tracer, spark, seed: int, cores: int) -> None:
    """Time the registry queries over a seeded ``embeddings`` table, one
    collected run each, then check its rows against the query's DuckDB
    oracle SQL (untimed)."""
    from anomaly_detection_spark.queries import QUERIES as REGISTRY

    emb = os.path.join(WORK, "corpus", f"embeddings-{seed}-{N_EMBEDDINGS}")
    if not os.path.exists(os.path.join(emb, "embeddings.parquet")):
        os.makedirs(emb, exist_ok=True)
        pq.write_table(corpus.embeddings(seed, N_EMBEDDINGS),
                       os.path.join(emb, "embeddings.parquet"))
    con = duckdb.connect()
    try:
        con.execute(f"SET threads = {cores}")
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{emb}/embeddings.parquet'")
        for name in QUERIES:
            fn, sql = REGISTRY[name]
            rows = []
            # more runs of these driver-bound queries would not fit the
            # traced run in three minutes
            tracer.measure(
                f"queries.{name}",
                lambda first: lambda: rows.append(fn(spark, emb).toPandas()),
                runs=1)
            if _canon(rows[0]) != _canon(con.sql(sql).fetchdf()):
                raise CheckFailed(f"{name}: rows differ from its oracle")
    finally:
        con.close()


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files
               if f.endswith(".parquet"))


def run(spark, wl, cores: int, seed: int, runs: int) -> dict[str, float]:
    """Trace over ``wl``'s corpus: every layer, a traced suite pass, the
    counts, and a fresh and a crash-resumed ``main`` call."""
    import run_validation
    from anomaly_detection_spark import drift
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.manifest import RuleProgressManifest
    from anomaly_detection_spark.profiler import span_kind_counts
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleContext, RuleSet
    from anomaly_detection_spark.snapshots import SnapshotLog, read_table

    tdir = os.path.join(WORK, f"trace-{os.getpid()}")
    shutil.rmtree(tdir, ignore_errors=True)
    os.makedirs(tdir)
    tracer = Tracer(spark, cores, runs)
    out: dict[str, float] = {}
    sc = spark.sparkContext

    docs = read_table(spark, wl.root, fmt="snaplog", snapshot_id="s1")
    docs2 = read_table(spark, wl.root, fmt="snaplog", incremental_from="s1",
                       snapshot_id="s2")
    catalog = spark.read.parquet(CATALOG)
    ctx = RuleContext(media_catalog=catalog)
    rules = suite_rules()

    def run_suite():
        return ValidationRun(spark, docs, rules,
                             media_catalog=catalog).run(resume=False)

    shared = {}

    def cached_result():
        """One suite result with its violations cached, shared by the
        layers that start from cached violations."""
        if "result" not in shared:
            shared["result"] = run_suite()
            force(shared["result"].violations)
        return shared["result"]

    def frame(build):
        return lambda warm: (lambda: force(build()))

    def row_rules(rs):
        return lambda: ValidationRun(
            spark, docs, RuleSet(row_rules=rs), media_catalog=catalog
        ).fused_row_violations(docs)

    def verdicts(warm):
        result = cached_result()
        return lambda: force(result.verdicts)

    def sinks(warm):
        result = cached_result()
        path = os.path.join(tdir, "sinks")
        shutil.rmtree(path, ignore_errors=True)

        def write():
            for name, df in (("violations", result.violations),
                             ("verdicts", result.verdicts),
                             ("metrics", result.metrics)):
                df.write.mode("overwrite").parquet(f"{path}/{name}")
                run_validation.append_missing_pairs(spark, df,
                                                    f"{path}/{name}")
        return write

    def manifest(warm):
        result = cached_result()
        path = os.path.join(tdir, "manifest")
        shutil.rmtree(path, ignore_errors=True)
        planned = result.verdicts.select("partition", "rule_id")

        def commit():
            m = RuleProgressManifest(spark, path)
            m.commit(result.metrics)
            force(m.pending(planned, "s1"))
        return commit

    def drift_layer(warm):
        path = os.path.join(tdir, "hist")
        shutil.rmtree(path, ignore_errors=True)

        def psi():
            drift.span_kind_histogram(docs).write.parquet(path)
            force(builtin.psi_drift_from_hist(
                spark.read.parquet(path)).build(docs2, ctx))
        return psi

    layers = {
        "scan": frame(lambda: read_table(spark, wl.root, fmt="snaplog",
                                         snapshot_id="s1")),
        "rules.row": frame(row_rules(rules.row_rules)),
        "rules.row.stats": frame(row_rules(
            builtin.default_document_rules())),
        "rules.row.pii": frame(row_rules([builtin.no_pii()])),
        "rules.row.span_udf": frame(row_rules(
            [builtin.span_sequence_valid_row()])),
        "rules.unique": frame(lambda: builtin.unique("doc_id").build(
            docs, ctx)),
        "rules.referential": frame(lambda: builtin.referential().build(
            docs, ctx)),
        "profiler.span_kind": frame(lambda: span_kind_counts(
            docs, salt_buckets=16)),
        "engine.verdicts": verdicts,
        "sinks": sinks,
        "manifest": manifest,
        "drift": drift_layer,
        "snapshots": frame(lambda: SnapshotLog(spark, wl.root)
                           .read_incremental("s1", "s2")),
    }
    cached = {"engine.verdicts", "sinks", "manifest"}
    walls = {name: tracer.measure(name, make, keep_cache=name in cached)
             for name, make in layers.items()}
    query_layers(tracer, spark, seed, cores)
    out.update(tracer.metrics())
    out["trace.layer_wall_sum_s"] = sum(walls[n] for n in SUITE_LAYERS)

    clear_cache(spark)
    sc.setJobGroup("trace:pass", "suite pass")
    t0 = time.monotonic()
    result, rows = suite_pass(spark, docs, rules, catalog)
    out["trace.pass_s"] = time.monotonic() - t0
    check_result(result, rows, wl.want1)
    clear_cache(spark)

    sc.setJobGroup("trace:counts", "untimed counts")
    out["sinks.bytes_written"] = _dir_bytes(os.path.join(tdir, "sinks"))
    out["rules.row.violation_rows"] = row_rules(rules.row_rules)().count()
    out["rules.unique.violation_rows"] = builtin.unique("doc_id").build(
        docs, ctx).count()
    out["rules.referential.violation_rows"] = builtin.referential().build(
        docs, ctx).count()
    result = run_suite()
    out.update(_plan_counts([result.verdicts,
                             span_kind_counts(docs, salt_buckets=16)]))
    # the resume contract: a fresh main call, a crash between its sink
    # writes and its manifest commit, then a --resume that must leave the
    # sinks as they were and commit every pair once
    sinks_dir, manifest_dir = (os.path.join(tdir, n)
                               for n in ("main_out", "main_manifest"))
    report = os.path.join(tdir, "report.json")
    argv = fresh_args(wl.root, sinks_dir, manifest_dir, report)
    out["main.fresh_s"] = main_call(spark, argv)
    out["cache.persisted_after"] = persisted_rdds(spark)
    check_sinks(sinks_dir, manifest_dir, wl.want1)
    check_report(report, wl.want1)
    parts = sorted({p for p, _ in wl.want1.grid})
    crash_after_sinks(manifest_dir, set(parts[: len(parts) // 2]))
    out["main.resume_s"] = main_call(spark, argv + ["--resume"])
    check_sinks(sinks_dir, manifest_dir, wl.want1)
    clear_cache(spark)
    shutil.rmtree(tdir, ignore_errors=True)
    return out
