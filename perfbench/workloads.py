"""The benchmark's workloads: seeded inputs, one iteration, output checks.

Each workload is prepared without Spark (corpus and expected outputs), then
bound to a session. ``warmup(n)`` warms the session with ``n`` iterations
(``WARM_ITERATIONS`` in a measured run); ``timed()`` runs one iteration,
then compares its outputs with the expected ones (untimed) and returns the
iteration's wall.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import corpus
import oracle

WORK = os.path.join("perfbench", ".work")
CATALOG = os.path.join(WORK, "corpus", "media_catalog")


class CheckFailed(Exception):
    """An iteration's outputs differ from the expected ones."""


def force(df) -> None:
    """Execute ``df`` fully on the executors and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def persisted_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def clear_cache(spark) -> None:
    """Drop every cached frame, and every RDD persisted outside the frame
    cache (local checkpoints), so no iteration reads another's cache."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    if persisted_rdds(spark):
        raise CheckFailed(f"{persisted_rdds(spark)} RDDs still persisted "
                          "after clearCache")


def _expect(what: str, got, want) -> None:
    if got != want:
        if isinstance(got, Counter) and isinstance(want, Counter):
            detail = (f"missing {list((want - got).items())[:3]}, "
                      f"extra {list((got - want).items())[:3]}")
        else:
            detail = f"got {str(got)[:200]}, want {str(want)[:200]}"
        raise CheckFailed(f"{what}: {detail}")


def _grid(rows) -> dict:
    """(partition, rule_id) -> (violations, rows, pass); a pair seen twice
    is an error (a double append)."""
    grid = {}
    for r in rows:
        key = (r["partition"], r["rule_id"])
        if key in grid:
            raise CheckFailed(f"verdict pair {key} appears twice")
        grid[key] = (r["violation_count"], r["rows_scanned"], r["pass"])
    return grid


def _keys(rows) -> Counter:
    return Counter((r["partition"], r["rule_id"], r["doc_id"]) for r in rows)


def snaplog_corpus(name: str, seed: int, n_docs: int, mix: dict,
                   drift_s1: bool) -> str:
    """Snapshot-log table with ``s1`` (``n_docs`` documents) and an appended
    ``s2`` (``n_docs // 2`` more, last partition drifted), cached on disk by
    workload, seed and size."""
    root = os.path.join(WORK, "corpus", f"{name}-{seed}-{n_docs}")
    if not os.path.exists(os.path.join(root, "log", "00000002.json")):
        shutil.rmtree(root, ignore_errors=True)
        corpus.write_snaplog(root, [
            ("s1", corpus.documents(seed, n_docs, 0, mix, drift_s1)),
            ("s2", corpus.documents(seed, n_docs // 2, n_docs, mix, True)),
        ], n_files=16)
    if not os.path.exists(os.path.join(CATALOG, "part-000.parquet")):
        corpus.write_files(corpus.media_catalog(), CATALOG, 1)
    return root


def snapshot_dirs(root: str) -> dict[str, str]:
    out = {}
    for fn in sorted(os.listdir(os.path.join(root, "log"))):
        with open(os.path.join(root, "log", fn)) as fh:
            entry = json.load(fh)
        out[entry["snapshot_id"]] = entry["data_dir"]
    return out


def suite_rules():
    from anomaly_detection_spark.rules import builtin
    from anomaly_detection_spark.rules.core import RuleSet

    return RuleSet(
        row_rules=builtin.default_document_rules()
        + [builtin.no_pii(), builtin.span_sequence_valid_row()],
        dataset_rules=[builtin.unique("doc_id"), builtin.referential()],
    )


def suite_pass(spark, docs, rules, catalog):
    """``bench.py``'s pass; returns the ``ValidationResult`` (violations
    still cached) and the verdict rows. The verdict grid (a few hundred
    rows) is collected where ``bench.py`` writes it to noop, so that the
    check needs no second run of the verdict job."""
    from anomaly_detection_spark.engine import ValidationRun
    from anomaly_detection_spark.profiler import span_kind_counts

    result = ValidationRun(spark, docs, rules,
                           media_catalog=catalog).run(resume=False)
    with ThreadPoolExecutor(2) as ex:
        verdicts = ex.submit(result.verdicts.collect)
        kinds = ex.submit(force, span_kind_counts(docs, salt_buckets=16))
        rows = verdicts.result()
        kinds.result()
    force(result.violations)
    return result, rows


def check_result(result, verdict_rows, want: oracle.Expected) -> None:
    _expect("verdicts", _grid(verdict_rows), want.grid)
    _expect("violation keys", _keys(result.violations.select(
        "partition", "rule_id", "doc_id").collect()), want.keys)


class Suite:
    """The in-process rule-suite pass of ``bench.py``: ``ValidationRun.run``,
    then the verdicts alongside the salted span-kind agg, then the
    violations, over snapshot ``s1`` of a clean corpus."""

    NAME, MIX, DRIFT_S1 = "suite", corpus.CLEAN_MIX, True

    def __init__(self, seed: int, n_docs: int, threads: int) -> None:
        self.root = snaplog_corpus(self.NAME, seed, n_docs, self.MIX,
                                   drift_s1=self.DRIFT_S1)
        self.want1 = oracle.expected(snapshot_dirs(self.root)["s1"],
                                     CATALOG, threads)
        self.docs_per_iteration = self.want1.n_docs

    def bind(self, spark) -> None:
        from anomaly_detection_spark.snapshots import read_table

        self.spark = spark
        self.docs = read_table(spark, self.root, fmt="snaplog",
                               snapshot_id="s1")
        self.catalog = spark.read.parquet(CATALOG)
        self.rules = suite_rules()

    def timed(self) -> float:
        clear_cache(self.spark)
        t0 = time.monotonic()
        result, rows = suite_pass(self.spark, self.docs, self.rules,
                                  self.catalog)
        wall = time.monotonic() - t0
        check_result(result, rows, self.want1)
        clear_cache(self.spark)
        return wall

    # passes keep getting faster for the first several (codegen, then JIT
    # of the driver's planning code): the first is ~5x a warm one, the
    # second ~1.5x, the third ~1.3x, then a few % a pass for ten more
    WARM_ITERATIONS = 5

    def warmup(self, n: int) -> float:
        """``n`` passes, then the span-kind counts are checked (timed passes
        force them but return no rows)."""
        from anomaly_detection_spark.profiler import span_kind_counts

        wall = sum(self.timed() for _ in range(n))
        kinds = {(r["partition"], r["kind"]): r["span_count"] for r in
                 span_kind_counts(self.docs, salt_buckets=16).collect()}
        _expect("span kind counts", kinds, self.want1.kinds)
        return wall


class SuiteDirty(Suite):
    """The same pass over a dirty corpus, where about 20% of documents
    carry a defect: the path that builds violation rows and detail strings,
    so a change that speeds up clean documents by charging violators shows
    here."""

    NAME, MIX, DRIFT_S1 = "dirty", corpus.DIRTY_MIX, False


def fresh_args(root: str, out: str, manifest: str, report: str) -> list[str]:
    """``run_validation`` arguments of a fresh run of snapshot ``s1``."""
    return ["--input", root, "--format", "snaplog",
            "--iceberg-snapshot-id", "s1", "--snapshot-id", "s1",
            "--catalog", CATALOG, "--manifest", manifest, "--output", out,
            "--emit-histograms", "--report-json", report]


def main_call(spark, argv: list[str]) -> float:
    """Wall of one in-process ``run_validation.main`` call."""
    import run_validation

    clear_cache(spark)
    t0 = time.monotonic()
    rc = run_validation.main(argv)
    wall = time.monotonic() - t0
    if rc != 0:
        raise CheckFailed(f"main returned {rc}")
    return wall


def manifest_pairs(manifest: str) -> Counter:
    """(partition, rule_id) pairs committed for ``s1``."""
    return Counter((r["partition"], r["rule_id"])
                   for r in pq.read_table(manifest).to_pylist()
                   if r["snapshot_id"] == "s1")


def check_sinks(out: str, manifest: str, want: oracle.Expected) -> None:
    """Verdict and violation sinks as expected (no pair twice), and every
    pair committed to the manifest exactly once."""
    _expect(f"{out} verdicts",
            _grid(pq.read_table(f"{out}/verdicts").to_pylist()), want.grid)
    _expect(f"{out} violation keys",
            _keys(pq.read_table(f"{out}/violations").to_pylist()), want.keys)
    _expect("manifest pairs", manifest_pairs(manifest),
            Counter(want.grid.keys()))


def check_report(report: str, want: oracle.Expected) -> None:
    with open(report) as fh:
        _expect("report failing_pairs", json.load(fh)["failing_pairs"],
                want.failing_pairs)


def crash_after_sinks(manifest: str, kept: set[str]) -> None:
    """Leave the manifest as a crash between the sink writes and the commit
    of a run would: drop the ``s1`` rows of every partition not in
    ``kept``."""
    table = pq.read_table(manifest)
    keep = pc.or_(pc.not_equal(table["snapshot_id"], "s1"),
                  pc.is_in(table["partition"], pa.array(sorted(kept))))
    shutil.rmtree(manifest)
    os.makedirs(os.path.join(manifest, "commit-crashed"))
    pq.write_table(
        table.filter(keep),
        os.path.join(manifest, "commit-crashed", "part-0.parquet"),
        coerce_timestamps="us", allow_truncated_timestamps=True)


WORKLOADS = {"suite": Suite, "suite_dirty": SuiteDirty}
