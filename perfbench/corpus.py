"""Seeded benchmark inputs, written with NumPy and pyarrow (no JVM).

Generating without Spark keeps the measured set-up honest: the JVM's first
work is the warm-up iteration, whether or not the corpus was cached.

* ``documents`` - the interleaved documents table (``doc_id``, ``spans``,
  ``partition``) in the shape of ``anomaly_detection_spark.datagen``: 1-5
  spans per document, 'text' skewed to ~50% of spans, ~1/7 of documents
  stored in reversed span order, an optional drifted last partition, and
  planted defects drawn per document from a seeded class mix.
* ``media_catalog`` - the referential dimension.
* ``embeddings`` - the registry's ``embeddings`` table, for the ANN
  queries the traced run times.
* ``write_snaplog`` - commits document tables as snapshots through the
  package's own ``SnapshotLog.append``, so the log format stays the
  package's.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KINDS = np.array(["text", "image", "audio", "table"], dtype=object)
N_MEDIA = 2000
N_PARTITIONS = 16
WORDS = np.array([f"w{i}" for i in range(50)], dtype=object)

# defect classes; each planted document carries exactly one
DEFECTS = ["null_doc_id", "dup_doc_id", "dangling_ref", "null_text",
           "neg_offset", "dup_offset", "empty_spans", "null_offset",
           "mojibake", "pii", "bad_kind", "missing_media_ref"]
# the package generator's default mix: 9 classes at 1 in 1000 documents each
CLEAN_MIX = {d: 0.001 for d in DEFECTS[:9]}
# about 20% of documents carry a defect, every class represented
DIRTY_MIX = {d: 0.2 / len(DEFECTS) for d in DEFECTS}


def _str(a: np.ndarray) -> np.ndarray:
    """Integers as an object array of str, which supports ``+``."""
    return a.astype(str).astype(object)


SPAN_TYPE = pa.struct([("kind", pa.string()), ("text", pa.string()),
                       ("media_ref", pa.string()), ("offset", pa.int32())])


def documents(seed: int, n_docs: int, first_id: int, mix: dict[str, float],
              drift_last_partition: bool) -> pa.Table:
    """Documents ``first_id .. first_id + n_docs - 1``; the same arguments
    always give the same table."""
    rng = np.random.default_rng([seed, first_id, n_docs])
    ids = np.arange(first_id, first_id + n_docs, dtype=np.int64)
    part = ids % N_PARTITIONS

    names = list(mix)
    cls = np.searchsorted(np.cumsum([mix[d] for d in names]),
                          rng.random(n_docs), side="right")
    defect = {d: cls == i for i, d in enumerate(names)}
    none = np.zeros(n_docs, dtype=bool)
    has = lambda d: defect.get(d, none)  # noqa: E731

    n_spans = rng.integers(1, 6, n_docs)
    n_spans[has("empty_spans")] = 0
    starts = np.concatenate([[0], np.cumsum(n_spans)])
    total = int(starts[-1])
    doc_of = np.repeat(np.arange(n_docs), n_spans)
    idx = np.arange(total) - starts[:-1][doc_of]  # span index in its doc
    first = idx == 0

    draw = rng.integers(0, 100, total)
    drifted = (part[doc_of] == N_PARTITIONS - 1) & drift_last_partition
    normal = np.searchsorted([50, 75, 90], draw, side="right")
    shifted = np.searchsorted([20, 70, 90], draw, side="right")
    kind = KINDS[np.where(drifted, shifted, normal)]
    kind[first & has("bad_kind")[doc_of]] = "video"
    is_text = kind == "text"

    w = rng.integers(0, len(WORDS), (3, total))
    text = WORDS[w[0]] + " " + WORDS[w[1]] + " " + WORDS[w[2]]
    moji = has("mojibake")[doc_of]
    text[moji] = text[moji] + "\x07"
    pii = first & has("pii")[doc_of]
    text[pii] = text[pii] + " mail u" + _str(ids[doc_of[pii]]) \
        + "@example.com"
    text[~is_text | (first & has("null_text")[doc_of])] = None

    media = np.array([f"m{i}" for i in range(N_MEDIA)], dtype=object)
    media_ref = media[rng.integers(0, N_MEDIA, total)]
    dangling = first & has("dangling_ref")[doc_of]
    media_ref[dangling] = "missing_" + _str(ids[doc_of[dangling]])
    media_ref[is_text | (first & has("missing_media_ref")[doc_of])] = None

    offset = idx.astype(np.int32)
    offset[first & has("neg_offset")[doc_of]] = -1
    offset[(idx == 1) & has("dup_offset")[doc_of]] = 0
    null_offset = first & has("null_offset")[doc_of]

    # stored order: reversed for ~1/7 of documents (sorting by offset must
    # recover it)
    rev = (ids % 7 == 3)[doc_of]
    pos = np.where(rev, starts[:-1][doc_of] + n_spans[doc_of] - 1 - idx,
                   np.arange(total))
    order = np.argsort(pos, kind="stable")
    spans = pa.StructArray.from_arrays(
        [pa.array(kind[order], pa.string()),
         pa.array(text[order], pa.string()),
         pa.array(media_ref[order], pa.string()),
         pa.array(offset[order], pa.int32(), mask=null_offset[order])],
        fields=list(SPAN_TYPE))
    spans = pa.ListArray.from_arrays(pa.array(starts, pa.int32()), spans)

    doc_id = "d" + _str(ids)
    dup = has("dup_doc_id")
    doc_id[dup] = "d" + _str(ids[dup] - 1)
    doc_id[has("null_doc_id")] = None
    partition = "p" + _str(part)
    return pa.table({"doc_id": pa.array(doc_id, pa.string()), "spans": spans,
                     "partition": pa.array(partition, pa.string())})


def media_catalog() -> pa.Table:
    ids = np.arange(N_MEDIA)
    kinds = np.array(["image", "audio", "video", "table"], dtype=object)
    return pa.table({
        "media_ref": pa.array([f"m{i}" for i in ids], pa.string()),
        "media_kind": pa.array(kinds[ids % 4], pa.string()),
        "size_bytes": pa.array((ids * 7919) % 1_000_000, pa.int64()),
    })


def embeddings(seed: int, n: int) -> pa.Table:
    """The registry's ``embeddings`` table: unit-norm 64-dim float vectors
    with a 10-way label."""
    rng = np.random.default_rng([seed, n])
    e = rng.standard_normal((n, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(e), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def write_files(table: pa.Table, path: str, n_files: int) -> None:
    """``n_files`` parquet files, so a scan splits into that many tasks."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:03d}.parquet"))


class _ArrowFrame:
    """The slice of the DataFrame interface ``SnapshotLog.append`` uses
    (``df.write.mode(m).parquet(path)``), backed by a pyarrow table."""

    def __init__(self, table: pa.Table, n_files: int) -> None:
        self.table, self.n_files = table, n_files

    @property
    def write(self):
        return self

    def mode(self, _mode: str):
        return self

    def parquet(self, path: str) -> None:
        write_files(self.table, path, self.n_files)


def write_snaplog(root: str, snapshots: list[tuple[str, pa.Table]],
                  n_files: int) -> None:
    """Commit each table as the next snapshot of the log at ``root``."""
    from anomaly_detection_spark.snapshots import SnapshotLog

    log = SnapshotLog(None, root)
    for sid, table in snapshots:
        log.append(_ArrowFrame(table, n_files), snapshot_id=sid)
