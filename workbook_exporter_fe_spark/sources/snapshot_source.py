"""`snapshot_log` — a PySpark (4.x) Python Data Source over SnapshotTable.

sources/snapshots.py gives the engine Iceberg-style table mechanics
(manifest log, time travel, stats pruning, incremental append scan) as a
library API. This module surfaces the same log through Spark's native
data-source seam, so the table plugs into plain ``spark.read`` /
``spark.readStream`` plans instead of requiring library calls:

    spark.dataSource.register(SnapshotLogDataSource)
    df = spark.read.format("snapshot_log").load(root)              # batch
    df = (spark.read.format("snapshot_log")
          .option("sequence", 3).load(root))                       # travel
    s  = spark.readStream.format("snapshot_log").load(root)        # tail

Design (all of it is the 100 TB story):

- **Planning is metadata-only.** ``schema()`` and ``partitions()`` read
  the JSON manifest, never a data file. One ``InputPartition`` per data
  file: Spark schedules files across executors exactly like a parquet
  scan, and a snapshot with 10^5 files parallelizes to 10^5 tasks.
- **Filter pushdown prunes whole files.** ``pushFilters`` keeps every
  comparison filter on a top-level column and intersects it with the
  manifest's per-file min/max footer stats — the same superset-guard
  file selection as ``SnapshotTable.read(col_between=...)`` /
  ``scan_files`` (``snapshots.select_files``). All filters are
  returned to Spark (pruning is a superset guard, like partition
  pruning), so correctness never depends on the stats.
- **Reads are Arrow batches.** ``read()`` yields pyarrow RecordBatches
  straight from the parquet file (no per-row Python), cast to the table
  schema from the manifest — files written before an ``evolve(add=...)``
  null-fill the new column, dropped columns project away, exactly like
  ``SnapshotTable.read``.
- **Streaming offsets are snapshot sequences.** The micro-batch stream
  reader's offset is ``{"sequence": N}``; each batch reads the files
  APPENDED in ``(start, end]`` via the same parent-chain walk as
  ``SnapshotTable.changes`` (``snapshots.appended_files``) — ``replace``
  (compaction) and ``evolve`` snapshots are skipped; an
  ``overwrite``/``rollback`` in the range, or a range already expired,
  fails the stream at planning with ``IncrementalScanBreak``.
  Spark's own checkpoint/offset log makes consumption exactly-once;
  a restart resumes from the checkpointed sequence.

Like the rest of the snapshot log, paths must be on storage every
executor can reach (local FS here; a shared FS/object store on a real
cluster).

The reference's closest analogue is its re-read-the-sink incremental
loop (workbook_exporter-fe.py:1732-1767); this is that idea as a real
Spark source with offsets instead of a YAML re-parse.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import uuid
from dataclasses import dataclass
from typing import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

FORMAT_NAME = "snapshot_log"


def register(spark) -> None:
    """Register the source; idempotent (latest registration wins)."""
    spark.dataSource.register(SnapshotLogDataSource)


# --------------------------------------------------------------- manifest IO
# The readers/writers run in Python worker processes without a
# SparkSession, so they use the session-free manifest helpers from
# snapshots.py instead of going through SnapshotTable (which wants a
# session for its DataFrame helpers).

from workbook_exporter_fe_spark.sources.snapshots import (  # noqa: E402
    _check_append_schema,
    appended_files as _appended_files,
    commit_files as _commit_files,
    current_sequence as _current_sequence,
    file_deletes as _file_deletes,
    load_manifest as _load_manifest,
    load_manifest_raw as _load_manifest_raw,
    new_commit_dir as _new_commit_dir,
    select_files as _select_files,
)


def _norm(value):
    """Normalize a filter value to the manifest-stats domain (stats store
    timestamps/dates as isoformat strings; everything else raw)."""
    return value.isoformat() if hasattr(value, "isoformat") else value


def _bounds_from_filters(filters: list) -> dict:
    """Fold supported comparison filters into {col: [lo, hi]} bounds."""
    bounds: dict[str, list] = {}

    def tighten(col: str, lo=None, hi=None):
        b = bounds.setdefault(col, [None, None])
        if lo is not None and (b[0] is None or lo > b[0]):
            b[0] = lo
        if hi is not None and (b[1] is None or hi < b[1]):
            b[1] = hi

    for flt in filters:
        col = flt.attribute[0]
        v = _norm(flt.value)
        if isinstance(flt, EqualTo):
            tighten(col, lo=v, hi=v)
        elif isinstance(flt, (GreaterThan, GreaterThanOrEqual)):
            tighten(col, lo=v)
        elif isinstance(flt, (LessThan, LessThanOrEqual)):
            tighten(col, hi=v)
    return bounds


def _prunable(flt) -> bool:
    return (
        isinstance(
            flt,
            (EqualTo, GreaterThan, GreaterThanOrEqual, LessThan,
             LessThanOrEqual),
        )
        and len(flt.attribute) == 1
        and flt.value is not None
    )


# ------------------------------------------------------------- arrow reading


@dataclass
class FilePartition(InputPartition):
    path: str
    rows: int
    dv_paths: tuple = ()
    #: applicable equality deletes: ((key parquet paths), (eq cols)) pairs
    eq_deletes: tuple = ()


_EQ_NULL = "\x00null"  # equality deletes match NULLs (Iceberg semantics)
_EQ_SEP = "\x1f"


def _eq_canon(arrays) -> "object":
    """One canonical string per row from the eq columns' arrow arrays:
    each value casts to string (both sides cast from the SAME logical
    type, so representations agree), NULL becomes a sentinel, and
    multi-column keys join on an unprintable separator."""
    import pyarrow as pa
    import pyarrow.compute as pc

    canon = [
        pc.fill_null(pc.cast(a, pa.string()), _EQ_NULL) for a in arrays
    ]
    if len(canon) == 1:
        return canon[0]
    return pc.binary_join_element_wise(*canon, _EQ_SEP)


def _eq_keysets(eq_deletes: tuple, target) -> list:
    """[(cols, canonical key-string set)] for one file's applicable
    equality deletes — each key parquet is delete-sized, loaded once per
    file, values cast to the TABLE schema's types first so the canonical
    form matches the aligned data batches. Entries sharing a key-column
    set merge into one set (every attached entry applies to this whole
    file — partitions() filtered by data sequence already), so the
    per-batch cost is one is_in per key set, not one per upsert epoch."""
    import pyarrow.parquet as pq

    grouped: dict[tuple, set] = {}
    for paths, cols in eq_deletes:
        t = pq.read_table(list(paths), columns=list(cols))
        arrays = []
        for c in cols:
            a = t.column(c).combine_chunks()
            i = target.get_field_index(c)
            if i >= 0:
                a = a.cast(target.field(i).type)
            arrays.append(a)
        grouped.setdefault(tuple(cols), set()).update(
            _eq_canon(arrays).to_pylist()
        )
    return list(grouped.items())


def _dv_positions(dv_paths: tuple, data_path: str):
    """Deleted row positions for ONE data file from its delete vectors
    (merge-on-read): each vector parquet carries (uri, path, pos); the
    executor filters by the manifest-form ``path`` column so it never has
    to reproduce Spark's URI escaping. Returns a sorted numpy array (or
    None when nothing masks this file)."""
    import numpy as np
    import pyarrow.parquet as pq

    if not dv_paths:
        return None
    pos = []
    for p in dv_paths:
        t = pq.read_table(p, columns=["path", "pos"],
                          filters=[("path", "=", data_path)])
        pos.append(t.column("pos").to_numpy(zero_copy_only=False))
    out = np.sort(np.concatenate(pos)) if pos else None
    return out if out is not None and len(out) else None


def _read_file_batches(
    path: str, schema: StructType, batch_rows: int, dv_paths: tuple = (),
    eq_deletes: tuple = (),
) -> Iterator:
    """Yield RecordBatches aligned to the TABLE schema: missing (evolved)
    columns null-fill, extra (dropped) columns project away, physical
    types cast to the manifest schema's arrow types. Position deletes
    mask rows by a running in-file offset (vectors index the FILE's rows,
    so the offset must count every physical row this reader streams);
    equality deletes mask AFTER schema alignment (both sides canonicalize
    from the table types) by one arrow ``is_in`` against the delete-sized
    key set per outstanding entry."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema

    target = to_arrow_schema(schema)
    pf = pq.ParquetFile(path)
    present = [n for n in target.names if n in pf.schema_arrow.names]
    deleted = _dv_positions(dv_paths, path)
    keysets = _eq_keysets(eq_deletes, target) if eq_deletes else []
    offset = 0
    for batch in pf.iter_batches(batch_size=batch_rows, columns=present):
        n = batch.num_rows
        keep = None
        if deleted is not None:
            lo = np.searchsorted(deleted, offset)
            hi = np.searchsorted(deleted, offset + n)
            if hi > lo:
                mask = np.ones(n, dtype=bool)
                mask[deleted[lo:hi] - offset] = False
                keep = mask
        offset += n
        if keep is not None:
            batch = batch.filter(pa.array(keep))
            if batch.num_rows == 0:
                continue
        cols = []
        for field in target:
            if field.name in present:
                cols.append(batch.column(field.name).cast(field.type))
            else:
                cols.append(pa.nulls(batch.num_rows, field.type))
        out = pa.RecordBatch.from_arrays(cols, schema=target)
        for ecols, keys in keysets:
            if not keys or out.num_rows == 0:
                continue
            canon = _eq_canon(
                [out.column(target.get_field_index(c)) for c in ecols]
            )
            out = out.filter(
                pc.invert(pc.is_in(canon, value_set=pa.array(list(keys))))
            )
        if out.num_rows:
            yield out


# ------------------------------------------------------------------- readers


class SnapshotLogBatchReader(DataSourceReader):
    def __init__(self, root: str, schema: StructType, sequence: int | None,
                 batch_rows: int):
        self.root = root
        self.schema = schema
        self.sequence = sequence
        self.batch_rows = batch_rows
        self.bounds: dict = {}
        self.eq: dict = {}

    def partitions(self) -> Sequence[InputPartition]:
        seq = self.sequence or _current_sequence(self.root)
        if seq == 0:
            return []
        manifest = _load_manifest(self.root, seq)
        files, _ = _select_files(self.root, manifest, self.bounds, self.eq)
        return [
            FilePartition(f["path"], f["rows"],
                          *_file_deletes(manifest, f["path"]))
            for f in files
        ]

    def read(self, partition: FilePartition) -> Iterator:
        yield from _read_file_batches(
            partition.path, self.schema, self.batch_rows,
            partition.dv_paths, partition.eq_deletes,
        )


class SnapshotLogPushdownReader(SnapshotLogBatchReader):
    """Batch reader with manifest-stats file pruning driven by Spark's
    pushed filters. Split out from the base reader because merely
    DEFINING pushFilters makes Spark demand
    ``spark.sql.python.filterPushdown.enabled=true`` — selected via
    ``.option("pushdown", "true")`` so default reads work on any
    session."""

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        supported = [f for f in filters if _prunable(f)]
        self.bounds = _bounds_from_filters(supported)
        # equality filters additionally probe the manifest blooms — the
        # predicate shape min/max can't prune on hash-distributed columns
        # (a bloom miss proves absence; probing uses the filter's RAW
        # value, matching the Spark-side CAST-AS-STRING build)
        self.eq = {
            f.attribute[0]: f.value
            for f in supported
            if isinstance(f, EqualTo)
        }
        # stats pruning is a superset guard — Spark must still apply
        # every filter to the surviving rows, so return them all
        return iter(filters)


class SnapshotLogStreamReader(DataSourceStreamReader):
    """Micro-batch tail of the snapshot log; offset = snapshot sequence."""

    def __init__(self, root: str, schema: StructType, starting: str,
                 batch_rows: int):
        self.root = root
        self.schema = schema
        self.batch_rows = batch_rows
        if starting == "latest":
            self._initial = _current_sequence(root)
        elif starting == "earliest":
            self._initial = 0
        else:
            self._initial = int(starting)

    def initialOffset(self) -> dict:
        return {"sequence": self._initial}

    def latestOffset(self) -> dict:
        return {"sequence": _current_sequence(self.root)}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        return [
            FilePartition(f["path"], f["rows"])
            for f in _appended_files(
                self.root, start["sequence"], end["sequence"]
            )
        ]

    def read(self, partition: FilePartition) -> Iterator:
        yield from _read_file_batches(
            partition.path, self.schema, self.batch_rows
        )

    def commit(self, end: dict) -> None:
        # Spark's checkpoint/offset log owns progress; nothing to persist
        pass


# ------------------------------------------------------------------- writers


@dataclass
class _Written(WriterCommitMessage):
    path: str
    rows: int


def _write_task_file(commit_dir: str, iterator: Iterator) -> _Written:
    """Executor-side: stream this task's RecordBatches into ONE parquet
    file under ``commit_dir``. An empty partition creates no file and
    returns the ``_Written("", 0)`` sentinel (the streaming writer
    protocol requires a WriterCommitMessage, never None). Only paths
    returned in commit messages are ever published — a failed attempt's
    partial file stays unreferenced garbage, which is exactly the
    snapshot log's crash contract."""
    import pyarrow.parquet as pq

    os.makedirs(commit_dir, exist_ok=True)
    path = os.path.join(commit_dir, f"part-{uuid.uuid4().hex}.parquet")
    writer = None
    rows = 0
    try:
        for batch in iterator:
            if writer is None:
                writer = pq.ParquetWriter(path, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return _Written("", 0)
    return _Written(path, rows)


def _stage_commit_dir(root: str, paths: list) -> tuple:
    """Move task-written files from their staging dir into a
    ``c{seq:08d}-{hex8}`` commit directory (same filesystem: os.replace)
    so their DATA SEQUENCE is path-derivable — equality deletes/upserts
    decide applicability by ``path_dseq``, and a file left in the
    writer's ``s…``/``w…`` staging dir would parse as dseq 0 (always
    maskable: silent data loss under any outstanding equality delete).
    The dir number is ``max_sequence+1`` at staging time, which is ≤ the
    final commit sequence and > every existing delete's anchor — both
    the directions that matter. Returns (new paths, commit dir)."""
    if not paths:
        return [], None
    dst = _new_commit_dir(root)
    os.makedirs(dst, exist_ok=True)
    out = []
    for p in paths:
        q = os.path.join(dst, os.path.basename(p))
        os.replace(p, q)
        out.append(q)
    return out, dst


def _eq_entry_from_files(root: str, paths: list, eq_cols: list) -> dict:
    """Build an equality-delete entry whose keys are the DISTINCT key
    tuples of the just-written files (driver-side pyarrow, column-pruned
    — the batch is micro-batch-sized by construction). Used by the
    stream writer's upsert mode; SnapshotTable.upsert_eq does the same
    extraction Spark-side for arbitrarily large batches."""
    import pyarrow.parquet as pq

    t = pq.read_table(list(paths), columns=list(eq_cols))
    missing = [c for c in eq_cols if c not in t.column_names]
    if missing:
        raise ValueError(f"upsertKeys column(s) {missing} not in batch")
    distinct = t.group_by(list(eq_cols)).aggregate([])
    kdir = _new_commit_dir(root, "eqdv-")
    os.makedirs(kdir, exist_ok=True)
    kpath = os.path.join(kdir, "keys.parquet")
    pq.write_table(distinct, kpath)
    return {
        "eq_cols": list(eq_cols),
        "paths": [kpath],
        "rows": distinct.num_rows,
    }


class SnapshotLogBatchWriter(DataSourceArrowWriter):
    """df.write.format("snapshot_log"): Spark's two-phase data-source
    commit mapped onto the snapshot log. Executors write immutable
    parquet files (phase 1); the driver-side ``commit`` publishes exactly
    the files named in the commit messages as ONE new snapshot (phase 2,
    optimistic + atomic hint swap). ``mode("append")`` → append snapshot
    (schema-checked against the table), ``mode("overwrite")`` → overwrite
    snapshot; ``abort`` removes the staged directory."""

    def __init__(self, root: str, schema: StructType, overwrite: bool):
        self.root = root
        self.schema = schema
        self.mode = "overwrite" if overwrite else "append"
        self.commit_dir = os.path.join(
            root, "data", f"w{uuid.uuid4().hex[:12]}"
        )

    def write(self, iterator: Iterator) -> _Written | None:
        return _write_task_file(self.commit_dir, iterator)

    def commit(self, messages) -> None:
        paths = [m.path for m in messages if m is not None and m.path]
        staged, dst = _stage_commit_dir(self.root, paths)
        try:
            _commit_files(
                self.root,
                staged,
                self.schema.jsonValue(),
                operation=self.mode,
                summary={"writer": "snapshot_log", "tasks": len(staged)},
                cleanup_dir=dst,
                base=0 if self.mode == "overwrite" else None,
            )
        finally:
            # staging dir now holds only failed-attempt garbage (if any)
            shutil.rmtree(self.commit_dir, ignore_errors=True)

    def abort(self, messages) -> None:
        shutil.rmtree(self.commit_dir, ignore_errors=True)


class SnapshotLogStreamWriter(DataSourceStreamArrowWriter):
    """writeStream.format("snapshot_log"): one append snapshot per
    micro-batch. The epoch id is recorded in the snapshot summary, and a
    replayed epoch (failure after the manifest swap but before Spark's
    checkpoint advanced) is detected and SKIPPED, so the sink stays
    exactly-once — the streaming analogue of the keyed-merge idempotence
    the foreachBatch tier sink uses.

    Replay identity must survive a query RESTART (the restarted writer is
    a fresh Python object), so it is keyed on ``stream_id`` — a hash of
    the query's checkpoint location (or an explicit ``streamId`` option),
    both stable across restarts — never on per-instance state. Detection
    scans the most recent ``replayscan`` manifests (not just the head),
    so commits from OTHER writers interleaved between an epoch's commit
    and its replay don't hide it. Manifests that predate the stream_id
    protocol (or writers with no checkpoint location) fall back to
    single-writer-per-table semantics: any snapshot_log_stream manifest
    counts as this stream's.
    """

    _REPLAY_SCAN = 64  # replays target the LAST epoch; 64 is generous

    def __init__(self, root: str, schema: StructType,
                 stream_id: str | None = None, replay_scan: int | None = None,
                 upsert_keys: list | None = None):
        self.root = root
        self.schema = schema
        self.stream_id = stream_id
        self.replay_scan = replay_scan or self._REPLAY_SCAN
        self.upsert_keys = list(upsert_keys) if upsert_keys else None
        if self.upsert_keys:
            present = {f.name for f in schema.fields}
            missing = sorted(set(self.upsert_keys) - present)
            if missing:
                raise ValueError(
                    f"upsertKeys column(s) {missing} not in stream schema"
                )
        # staging dir for this run's task files only — NOT replay identity
        self.stream_dir = os.path.join(
            root, "data", f"s{uuid.uuid4().hex[:12]}"
        )

    def _already_committed(self, batch_id: int) -> bool:
        head = _current_sequence(self.root)
        for seq in range(head, max(0, head - self.replay_scan), -1):
            try:
                s = _load_manifest(self.root, seq).get("summary", {})
            except FileNotFoundError:
                continue  # expired by maintenance: carries no information
            if s.get("writer") != "snapshot_log_stream":
                continue  # interleaved non-stream commit: keep scanning
            stored = s.get("stream_id")
            if self.stream_id and stored and stored != self.stream_id:
                continue  # a different stream's epoch: keep scanning
            # most recent manifest attributable to THIS stream governs;
            # epochs are monotone within a stream, so >= means committed
            return int(s.get("epoch", -1)) >= batch_id
        return False

    def write(self, iterator: Iterator) -> _Written | None:
        return _write_task_file(self.stream_dir, iterator)

    def commit(self, messages, batchId: int) -> None:
        if self._already_committed(batchId):
            return  # replayed epoch: snapshot already visible
        paths = [m.path for m in messages if m is not None and m.path]
        staged, dst = _stage_commit_dir(self.root, paths)
        eq = (
            _eq_entry_from_files(self.root, staged, self.upsert_keys)
            if self.upsert_keys and staged
            else None
        )
        _commit_files(
            self.root,
            staged,
            self.schema.jsonValue(),
            operation="upsert" if eq else "append",
            cleanup_dir=dst,
            summary={
                "writer": "snapshot_log_stream",
                "epoch": batchId,
                "stream_id": self.stream_id,
                **({"mode": "upsert"} if eq else {}),
            },
            new_deletes=[eq] if eq else None,
        )

    def abort(self, messages, batchId: int) -> None:
        for m in messages:
            if m is not None and m.path:
                try:
                    os.remove(m.path)
                except OSError:
                    pass


class SnapshotLogDataSource(DataSource):
    """format("snapshot_log") — options:

    - ``path`` (via ``.load(root)``): table root directory
    - ``sequence`` (batch only): time travel to that snapshot
    - ``starting`` (stream only): 'earliest' (default) | 'latest' | int —
      the snapshot sequence consumption starts AFTER
    - ``pushdown`` (batch only, default false): enable manifest-stats
      file pruning from Spark's pushed filters; requires
      ``spark.sql.python.filterPushdown.enabled=true``
    - ``batchRows``: arrow batch size per yielded RecordBatch (default
      65536)

    Writing: ``df.write.format("snapshot_log").mode("append"|"overwrite")
    .save(root)`` commits ONE new snapshot via Spark's two-phase
    data-source commit (only ``append``/``overwrite`` save modes exist
    for Python data sources); ``writeStream.format("snapshot_log")``
    appends one snapshot per micro-batch with epoch ids recorded in the
    manifest summary, so replayed epochs are skipped (exactly-once).
    ``option("upsertKeys", "k1,k2")`` turns each micro-batch into an
    atomic merge-on-read UPSERT (equality delete on the batch's keys +
    append in ONE snapshot): an exactly-once streaming CDC sink whose
    per-batch cost is O(batch) at any table size — no file is ever
    located or rewritten on the hot path; ``compact()`` materializes.
    """

    @classmethod
    def name(cls) -> str:
        return FORMAT_NAME

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("snapshot_log requires .load(<table root>)")
        return root

    def schema(self) -> StructType:
        seq_opt = self.options.get("sequence")
        seq = int(seq_opt) if seq_opt else _current_sequence(self._root())
        if seq == 0:
            raise ValueError(
                f"snapshot table at {self._root()!r} has no snapshots"
            )
        return StructType.fromJson(
            _load_manifest(self._root(), seq)["schema"]
        )

    def _batch_rows(self) -> int:
        return int(self.options.get("batchrows", 65536))

    def reader(self, schema: StructType) -> SnapshotLogBatchReader:
        seq_opt = self.options.get("sequence")
        pushdown = str(self.options.get("pushdown", "false")).lower()
        cls = (
            SnapshotLogPushdownReader
            if pushdown in ("true", "1")
            else SnapshotLogBatchReader
        )
        return cls(
            self._root(), schema, int(seq_opt) if seq_opt else None,
            self._batch_rows(),
        )

    def streamReader(self, schema: StructType) -> SnapshotLogStreamReader:
        return SnapshotLogStreamReader(
            self._root(), schema,
            str(self.options.get("starting", "earliest")).lower(),
            self._batch_rows(),
        )

    def writer(self, schema: StructType, overwrite: bool) -> SnapshotLogBatchWriter:
        # fail an incompatible append at PLANNING time — before any task
        # writes data; the commit-time check remains authoritative under
        # concurrent evolve/overwrite races
        seq = _current_sequence(self._root())
        if not overwrite and seq > 0:
            _check_append_schema(
                _load_manifest_raw(self._root(), seq)["schema"],
                schema.jsonValue(),
            )
        return SnapshotLogBatchWriter(self._root(), schema, overwrite)

    def streamWriter(self, schema: StructType, overwrite: bool) -> SnapshotLogStreamWriter:
        # stable-across-restarts stream identity: an explicit streamId
        # option wins; else the query's checkpoint location (unique per
        # logical stream, constant across its restarts); else None →
        # single-writer-per-table replay semantics
        stream_id = self.options.get("streamid")
        if not stream_id:
            ckpt = self.options.get("checkpointlocation")
            if ckpt:
                stream_id = hashlib.md5(
                    os.path.abspath(ckpt).encode()
                ).hexdigest()[:16]
        replay_scan = self.options.get("replayscan")
        upsert = self.options.get("upsertkeys")
        return SnapshotLogStreamWriter(
            self._root(), schema, stream_id=stream_id,
            replay_scan=int(replay_scan) if replay_scan else None,
            upsert_keys=(
                [c.strip() for c in upsert.split(",") if c.strip()]
                if upsert else None
            ),
        )
