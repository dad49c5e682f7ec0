"""Iceberg-style snapshot log over plain parquet: time travel + stats pruning.

The north rule asks for an engine "over Iceberg tables ... resumable from
checkpoint with per-partition lineage + metrics". The container has no
Iceberg jar (sources/tableio.py:16 gates on that), so this module
re-expresses the *table-format mechanics the engine actually relies on*
as a from-scratch snapshot log over immutable parquet files:

- every commit writes NEW immutable data files plus one JSON manifest
  (`metadata/snap-<seq>.json`) naming the snapshot's full file set —
  append commits reference the parent's files plus the new ones,
  overwrite commits start a fresh file set (old files stay on disk for
  time travel until `expire_snapshots`);
- the manifest records per-file row counts and per-column min/max taken
  from the parquet FOOTERS (pyarrow, driver-side, new files only — no
  extra Spark action), which `read(col_between=...)` / `scan_files` use
  to prune whole files before Spark ever lists them: the manifest-stats
  analogue of Iceberg's metadata-based split planning. At 100 TB this is the
  difference between listing/opening every file and opening only the
  time-range you asked for — row-group pruning inside Spark's reader
  then narrows further;
- `version-hint.text` points at the current sequence (the only mutable
  byte on disk); it is swapped with ``os.replace`` (atomic on POSIX) and
  commits are optimistic — every commit goes through ``commit_files``,
  which creates its manifest exclusively, so a concurrent writer racing
  the same sequence number loses with ``SnapshotConflict`` instead of
  corrupting the log (Iceberg's optimistic-concurrency model; like
  operators/retention.expire_tiers this assumes a local/posix-rename
  filesystem — object stores need a real catalog for the pointer swap);
- `read(sequence=...)` is time travel, `rollback(sequence)` commits a
  NEW snapshot that re-references the old file set (history is never
  rewritten), `history()` / `files()` are the metadata tables the
  pipeline's metrics story expects, `expire_snapshots(keep_last=...)`
  deletes manifests older than the kept window plus any data file no
  retained snapshot references (physical GC);
- `compact()` rewrites the current file set into fewer, larger files as
  an Iceberg-style `replace` snapshot (row set identical by
  construction) — `changes(from_seq)`, the incremental append scan,
  collects each APPEND snapshot's added files and skips replaces, so
  incremental consumers run straight across compactions while true
  history rewrites (overwrite/rollback) and GC'd ranges still break
  loudly with ``IncrementalScanBreak``;
- `delete_where` / `update_where` / `merge_into` are row-level mutations
  with Iceberg copy-on-write semantics: one containment scan finds the
  files holding a matching row (manifest min/max pruning first —
  `stats_bounds`), ONLY those files are rewritten, every other file
  carries into the child manifest verbatim, and the commit records the
  rewrite accounting (files carried/rewritten, rows replaced/deleted/
  matched/inserted). At 100 TB a keyed upsert or a retention delete with
  time bounds rewrites the handful of affected files, never the table;
  `changes()` consumers break loudly across them (rows they folded
  downstream may be gone), exactly like overwrite/rollback;
- `evolve(add=..., drop=...)` is metadata-only schema evolution: the
  table schema lives in the manifest and every read resolves files
  against it BY NAME (old files null-fill added columns, dropped columns
  project away — no rewrite, no mergeSchema footer sweep), appends are
  schema-checked against the table (unknown columns / type changes fail
  loudly with ``SchemaMismatch``), and `changes()` skips evolve
  snapshots like compactions.

The reference's YAML-file-as-state-store (workbook_exporter-fe.py:
1732-1754 — re-read the sink, anti-join against it, merge into it) is
the same idea at toy scale: the output doubles as the resumable state.
Here the state is an append-only log of immutable snapshots, which is
what makes incremental refresh + audit (plans/pipeline.py) safe under
failure: a crashed commit leaves data files without a manifest — invisible
garbage, never a half-visible table.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, Row, SparkSession

from workbook_exporter_fe_spark.sources.partitioning import (
    ORDERED_TRANSFORMS,
    _as_domain,
)

#: "no partition value recorded for this field" (distinct from null)
_MISSING = object()


def state_diff(old: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """Row-level diff of two table STATES: ``new``'s schema plus ``_op`` ∈
    insert / delete / update_post (deletes carry the OLD row surfaced in
    new-schema columns so the feed has one shape); unchanged rows are
    dropped. ``keys`` identifies rows; non-key columns classify updates
    with null-safe equality.

    One full outer join on the keys — the state-diff floor. Standalone so
    it works on any two DataFrames (e.g. pre/post merge-upsert audit);
    ``SnapshotTable.row_diff`` is this over two time-travel reads."""
    if not keys:
        raise ValueError("state_diff needs key columns")
    from pyspark.sql import functions as F

    cols = new.columns
    non_keys = [c for c in cols if c not in keys]
    o = old.select([F.col(c).alias(f"_o_{c}") for c in cols])
    n = new.select(cols)
    cond = [n[k].eqNullSafe(o[f"_o_{k}"]) for k in keys]
    j = n.join(o, cond, "full_outer")
    changed = F.lit(False)
    for c in non_keys:
        e = ~F.col(c).eqNullSafe(F.col(f"_o_{c}"))
        changed = e if c == non_keys[0] else (changed | e)
    op = (
        F.when(F.col(f"_o_{keys[0]}").isNull(), F.lit("insert"))
        .when(F.col(keys[0]).isNull(), F.lit("delete"))
        .when(changed, F.lit("update_post"))
    )
    out = j.withColumn("_op", op).filter(F.col("_op").isNotNull())
    sel = [
        F.when(F.col("_op") == "delete", F.col(f"_o_{c}"))
        .otherwise(F.col(c))
        .alias(c)
        for c in cols
    ]
    return out.select(*sel, "_op")


class SnapshotConflict(RuntimeError):
    """Another writer committed the same sequence number first."""


class SchemaMismatch(ValueError):
    """An append's schema is incompatible with the table schema.

    Appends must write the table's columns (a missing NULLABLE column is
    tolerated — readers null-fill it); changing a column's type or
    writing unknown columns requires an explicit ``evolve()`` first, so
    accidental producer drift fails loudly instead of silently forking
    the table's schema."""


class IncrementalScanBreak(RuntimeError):
    """The requested change range crosses a non-append snapshot.

    An overwrite or rollback rewrites history: rows an incremental
    consumer already folded into downstream state may no longer exist,
    and additive tier merges cannot subtract them back out. Consumers
    must rebuild from a full ``read()`` of the current snapshot."""


def _atomic_write(path: str, text: str) -> None:
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


# ------------------------------------------------- session-free commit path
# Publishing a snapshot is pure metadata work, so it needs no SparkSession:
# ``commit_files`` is the one manifest writer, called by every
# SnapshotTable operation and by the snapshot_log data source
# (sources/snapshot_source.py), which commits from Spark's data-source
# commit hook where no session exists.


def current_sequence(root: str) -> int:
    """0 = empty table (no committed snapshot)."""
    hint = os.path.join(root, "metadata", "version-hint.text")
    if not os.path.exists(hint):
        return 0
    with open(hint) as f:
        return int(f.read().strip())


def load_manifest_raw(root: str, seq: int) -> dict:
    """The manifest JSON exactly as written — file-list segments NOT
    resolved. Commit paths use this: an append must never pay an
    O(table-files) read just to chain metadata."""
    with open(os.path.join(root, "metadata", f"snap-{seq:08d}.json")) as f:
        return json.load(f)


def load_manifest(root: str, seq: int) -> dict:
    """Load a manifest with its file list materialized.

    Manifests above ``MANIFEST_INLINE_MAX`` entries store the file list
    as immutable SEGMENT files (``metadata/filelist-*.json``) and keep
    only the segment refs inline — see ``commit_files`` for why. This
    loader concatenates the segments (cached — segments are immutable
    and shared across consecutive snapshots, so a history walk reads
    each one once) and returns the same ``{"files": [...]}`` shape every
    consumer already expects. Returned file entries may be CACHE-SHARED:
    treat them as read-only (every writer in this module builds fresh
    entry dicts)."""
    m = load_manifest_raw(root, seq)
    segs = m.get("file_segments")
    if not segs:
        return m
    meta = os.path.join(root, "metadata")
    files: list[dict] = []
    for ref in segs:
        files.extend(_load_segment(meta, ref))
    inline = m.get("files")
    if inline:
        files = files + inline
    return {**m, "files": files}


# File-list segments: why and how.
#
# An append manifest that inlines the parent's whole file list costs
# O(table files) JSON per commit — a year of minutely micro-batches is
# ~500k files, and the CUMULATIVE metadata written is O(files²): the
# classic small-commit metadata blowup Iceberg solves with manifest
# files + manifest lists. Same split here: the per-file entries (path,
# rows, min/max stats, bloom/ndv refs, partition tuple) live in
# immutable SEGMENT files; the manifest holds only the ordered segment
# refs (path, entries, rows). An append then writes ONE segment holding
# just the new files and re-points at the parent's segments — O(batch)
# metadata per commit.
#
# Unchecked, the ref list itself grows O(commits), so segments merge by
# the binary-counter rule (merge the trailing run while the previous
# segment is no bigger than the one after it): segment sizes form a
# geometric series, the manifest carries O(log files) refs, and the
# total metadata ever written is O(files · log files) — LSM economics
# for table metadata. Segment files are immutable and shared between
# snapshots; expire_snapshots GCs the unreferenced ones (grace-windowed,
# since a racing commit writes its segments before its manifest).
#
# Tables at or below MANIFEST_INLINE_MAX files keep the plain inline
# form — human-readable manifests, zero behavior change for small
# tables, full back-compat with logs written before segments existed.

MANIFEST_INLINE_MAX = 64

_SEG_CACHE: "dict[str, list]" = {}
_SEG_CACHE_MAX = 128


def _load_segment(meta: str, ref: dict) -> list[dict]:
    path = os.path.join(meta, ref["path"])
    key = os.path.abspath(path)
    hit = _SEG_CACHE.get(key)
    if hit is not None:
        return hit
    with open(path) as f:
        entries = json.load(f)["entries"]
    if len(_SEG_CACHE) >= _SEG_CACHE_MAX:
        _SEG_CACHE.pop(next(iter(_SEG_CACHE)))
    _SEG_CACHE[key] = entries
    return entries


def _write_segment(meta: str, seq: int, entries: list[dict]) -> dict:
    """Write one immutable file-list segment; returns its manifest ref.
    The ref carries entry/row counts so commits can chain totals without
    ever opening the segments."""
    name = f"filelist-{seq:08d}-{uuid.uuid4().hex[:8]}.json"
    _atomic_write(
        os.path.join(meta, name), json.dumps({"entries": entries})
    )
    return {
        "path": name,
        "entries": len(entries),
        "rows": sum(int(f["rows"]) for f in entries),
    }


def _segments_footer_rows(raw: dict) -> int:
    """Total FOOTER rows of a raw manifest without resolving segments."""
    if raw.get("file_segments"):
        return sum(int(r["rows"]) for r in raw["file_segments"]) + sum(
            int(f["rows"]) for f in raw.get("files") or []
        )
    return sum(int(f["rows"]) for f in raw.get("files") or [])


def max_sequence(root: str) -> int:
    """Highest manifest sequence present in the log — ≥ the version hint
    once branches exist (branch commits allocate global sequence numbers
    without advancing the main hint, exactly like Iceberg snapshot ids
    living outside the main ref's chain)."""
    best = current_sequence(root)
    meta = os.path.join(root, "metadata")
    if os.path.isdir(meta):
        for n in os.listdir(meta):
            if n.startswith("snap-") and n.endswith(".json"):
                try:
                    best = max(best, int(n[5:-5]))
                except ValueError:
                    pass
    return best


def new_commit_dir(root: str, kind: str = "") -> str:
    """A fresh ``data/c{seq:08d}-{kind}{hex8}`` directory name, where seq
    is ``max_sequence + 1`` — the sequence the commit will get unless a
    racing writer publishes first. Data files take their data sequence
    from it (``path_dseq``); ``kind`` ('dv-', 'eqdv-') marks delete
    files, which never parse as data."""
    return os.path.join(
        root, "data",
        f"c{max_sequence(root) + 1:08d}-{kind}{uuid.uuid4().hex[:8]}",
    )


def table_properties(root: str) -> dict:
    """The table's ``metadata/properties.json`` ({} when unset)."""
    p = os.path.join(root, "metadata", "properties.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return json.load(f)


def partition_fields(root: str) -> list:
    """Parsed ``partition.spec`` table property (see
    sources/partitioning.py) — empty list = unpartitioned writes."""
    from workbook_exporter_fe_spark.sources.partitioning import parse_spec

    return parse_spec(list(table_properties(root).get("partition.spec") or []))


def branch_heads(root: str) -> dict[str, int]:
    """Branch name → head sequence (``metadata/branches.json``)."""
    p = os.path.join(root, "metadata", "branches.json")
    if not os.path.exists(p):
        return {}
    with open(p) as f:
        return {k: int(v) for k, v in json.load(f).items()}


def file_stats_for_paths(paths: list[str]) -> list[dict]:
    """Per-file rows + per-column min/max from parquet footers.

    Driver-side over the NEW files only — the parquet writer already
    computed these statistics; harvesting the footer costs one small
    read per file and no Spark job.
    """
    import pyarrow.parquet as pq

    out = []
    for path in paths:
        md = pq.ParquetFile(path).metadata
        mins: dict = {}
        maxs: dict = {}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                st = col.statistics
                if st is None or not st.has_min_max:
                    continue
                k = col.path_in_schema
                lo, hi = st.min, st.max
                if isinstance(lo, bytes):
                    continue  # raw binary stats are not orderable here
                lo = lo.isoformat() if hasattr(lo, "isoformat") else lo
                hi = hi.isoformat() if hasattr(hi, "isoformat") else hi
                mins[k] = lo if k not in mins else min(mins[k], lo)
                maxs[k] = hi if k not in maxs else max(maxs[k], hi)
        out.append(
            {
                "path": path,
                "rows": md.num_rows,
                "bytes": os.path.getsize(path),
                "min": mins,
                "max": maxs,
            }
        )
    return out


BLOOM_BITS_DEFAULT = 1 << 17  # 16 KiB per file per column (~1% FPR @ 10k ndv)
BLOOM_K = 3  # three md5-derived probes per value

_BLOOM_TYPES = {"string", "int", "bigint", "smallint", "tinyint"}


def _bloom_positions(canon: str, bits: int, k: int = BLOOM_K) -> list[int]:
    """The k bit positions for one value — driver-side probe twin of the
    Spark-side build expression in ``bloom_stats_for_files``. Both sides
    hash the value's CAST-AS-STRING form with md5 (the repo's one
    cross-engine hash) and slice the hex digest into k 32-bit ints, so a
    bloom built by a Spark job is probed bit-exactly by plain Python."""
    import hashlib

    h = hashlib.md5(canon.encode("utf-8")).hexdigest()
    return [int(h[8 * i : 8 * i + 8], 16) % bits for i in range(k)]


def bloom_stats_for_files(
    spark: SparkSession,
    paths: list[str],
    cols: list[str],
    bits: int = BLOOM_BITS_DEFAULT,
    k: int = BLOOM_K,
) -> dict:
    """Per-file bloom filters for equality file-skipping, built with ONE
    column-pruned Spark job over the NEW files only (never the table).

    Iceberg's ``write.bloom-filter-enabled.column.<col>`` puts blooms in
    the parquet footer; this log keeps them in the manifest instead so the
    PLANNER can skip a file without opening it at all — at 100 TB a point
    lookup (``doc_id = X``) touches zero data files for every file whose
    bloom says "definitely absent", where min/max stats are useless (a
    hash-distributed id column spans the full range in every file).

    Mechanics: k=3 positions per value from md5-hex slices (portable —
    the driver-side probe recomputes them with hashlib), positions OR'd
    into ``bits`` bloom bits per (file, column) map-side: the job explodes
    to (file, col, word_idx, bit) and one partial-agg groupBy ``bit_or``
    reduces to ≤ bits/64 int64 words per file·column before anything
    reaches the driver. Null values set no bits, so an all-null file
    prunes on ANY probe — correctly, since equality never matches null.
    Only string/integer columns are bloomed: their CAST-AS-STRING form is
    identical in Spark and Python (floats/timestamps render differently
    engine-to-engine and would risk a false *negative* = wrong results).

    Returns ``{path: {col: {"bits":, "k":, "b64":}}}`` with the filter
    packed as little-endian int64 words, base64'd for the JSON manifest.
    """
    import base64
    import struct

    from pyspark.sql import functions as F

    if bits % 64 or bits <= 0:
        raise ValueError(f"bloom bits must be a positive multiple of 64: {bits}")
    if not paths or not cols:
        return {}
    df = spark.read.parquet(*paths)
    present = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    cols = [c for c in cols if present.get(c) in _BLOOM_TYPES]
    if not cols:
        return {}
    per_col = []
    for c in cols:
        h = F.md5(F.col(c).cast("string"))
        pos = [
            (F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
             % F.lit(bits)).alias("p")
            for i in range(k)
        ]
        per_col.append(
            df.select(
                F.input_file_name().alias("f"),
                F.lit(c).alias("c"),
                F.explode(F.array(*pos)).alias("pos"),
            ).where(F.col("pos").isNotNull())
        )
    rel = per_col[0]
    for extra in per_col[1:]:
        rel = rel.unionByName(extra)
    words = (
        rel.groupBy("f", "c", F.shiftright("pos", 6).alias("w"))
        .agg(F.bit_or(F.expr("shiftleft(1L, int(pos & 63))")).alias("m"))
        .collect()
    )
    bufs: dict[tuple[str, str], bytearray] = {}
    for r in words:
        key = (SnapshotTable._local_path(r.f), r.c)
        buf = bufs.setdefault(key, bytearray(bits // 8))
        struct.pack_into("<q", buf, r.w * 8, r.m)
    out: dict = {}
    # every (path, col) gets an entry — including files where the column
    # is entirely null (empty filter): absence of an entry must only ever
    # mean "no bloom was built", never "no values"
    for path in paths:
        for c in cols:
            buf = bufs.get((path, c), bytearray(bits // 8))
            out.setdefault(path, {})[c] = {
                "bits": bits,
                "k": k,
                "b64": base64.b64encode(bytes(buf)).decode("ascii"),
            }
    return out


@functools.lru_cache(maxsize=512)
def _load_bloom_sidecar(ref: str) -> dict:
    """Load (and memoize — sidecars are immutable) one bloom sidecar. A
    missing/corrupt sidecar degrades to "no bloom" — the superset guard
    keeps the file."""
    try:
        with open(ref) as f:
            return json.load(f)
    except (OSError, ValueError):
        return {}


def bloom_entry(f: dict, col: str):
    """The bloom dict for ``col`` in one manifest file entry, whether
    stored inline (``bloom``) or as an immutable sidecar next to the data
    file (``bloom_ref``). Sidecars keep the manifest JSON small: append
    manifests carry every prior file entry forward, so inline filters
    would be re-serialized into every subsequent manifest — O(files²)
    metadata growth; a ref is a string, and the sidecar is written once
    when the data file is (and GC'd with it)."""
    b = f.get("bloom")
    if b is not None:
        return b.get(col)
    ref = f.get("bloom_ref")
    if ref:
        return _load_bloom_sidecar(ref).get(col)
    return None


def bloom_might_contain(bloom: dict, value) -> bool:
    """Probe one manifest bloom entry. True = maybe present (must scan),
    False = DEFINITELY absent (skip the file). Values whose Python string
    form can diverge from Spark's CAST-AS-STRING (floats, timestamps,
    bools) are never probed — treat as maybe-present."""
    import base64
    import struct

    if not isinstance(value, (str, int)) or isinstance(value, bool):
        return True
    buf = base64.b64decode(bloom["b64"])
    for pos in _bloom_positions(str(value), bloom["bits"], bloom["k"]):
        word = struct.unpack_from("<q", buf, (pos >> 6) * 8)[0]
        if not (word >> (pos & 63)) & 1:
            return False
    return True


def ndv_stats_for_files(
    spark: SparkSession, paths: list[str], cols: list[str], lg_k: int = 12
) -> dict:
    """Per-file theta sketches of each column's distinct values — the
    Iceberg puffin-blob idea re-expressed for this log: ONE column-pruned
    Spark job over the NEW files builds `{path: {col: b64 sketch}}`,
    and because theta sketches are MERGEABLE, any snapshot's table-level
    NDV is a union of its files' sketches (``SnapshotTable.column_ndv``)
    — no data is ever re-scanned, appends stay O(new files), and the
    estimate a cost-based planner wants (join-side NDV) is a
    metadata-only question at any table size."""
    import base64

    from pyspark.sql import functions as F

    if not paths or not cols:
        return {}
    df = spark.read.parquet(*paths)
    present = {f.name for f in df.schema.fields}
    cols = [c for c in cols if c in present]
    if not cols:
        return {}
    rows = (
        df.groupBy(F.input_file_name().alias("f"))
        .agg(*[
            F.theta_sketch_agg(F.col(c), F.lit(lg_k)).alias(c) for c in cols
        ])
        .collect()
    )
    out: dict = {}
    for r in rows:
        local = SnapshotTable._local_path(r.f)
        out[local] = {
            c: base64.b64encode(bytes(r[c])).decode("ascii")
            for c in cols
            if r[c] is not None
        }
    return out


def dv_rows_by_file(manifest: dict) -> dict[str, int]:
    """Deleted-row counts per DATA file from the manifest's position
    delete entries (merge-on-read deletes). {} when the snapshot has no
    outstanding delete vectors."""
    out: dict[str, int] = {}
    for d in manifest.get("deletes") or []:
        for p, n in (d.get("data_files") or {}).items():
            out[p] = out.get(p, 0) + int(n)
    return out


def live_rows_map(manifest: dict) -> dict[str, int]:
    """{data file path: LIVE rows} — footer count minus outstanding
    position deletes. This is the number every row-accounting guard must
    use on a table with delete vectors (footer counts alone overcount).
    EQUALITY deletes carry no per-file attribution, so while one is
    outstanding this map is an upper bound — exact-count guards go
    through ``SnapshotTable._live_scope_rows`` instead (Iceberg's
    total-records has the same asymmetry)."""
    dv = dv_rows_by_file(manifest)
    return {f["path"]: f["rows"] - dv.get(f["path"], 0) for f in manifest["files"]}


import re as _re

_DSEQ_RE = _re.compile(r"/c(\d{8})-[0-9a-f]{8}/")


def path_dseq(path: str) -> int:
    """Data sequence number of a data file — the sequence of the commit
    whose directory wrote it (commit dirs are named ``c{seq:08d}-{hex8}``,
    and partitioned files nest BELOW that dir, so the pattern is
    positional, not a basename parse). Iceberg's data_sequence_number
    re-expressed: an equality delete anchored at sequence S applies to a
    file iff ``path_dseq(file) <= S``. Rewrite/compaction outputs take
    the REWRITE's sequence — correct here because every rewrite reads
    through the delete masks, so its output has already materialized
    every delete that applied to its inputs. Unknown layout → 0 (always
    applicable: the conservative direction)."""
    m = _DSEQ_RE.search(path)
    return int(m.group(1)) if m else 0


def eq_deletes_applying(manifest: dict, paths: list[str]) -> list[dict]:
    """Equality delete entries applicable to ≥1 of ``paths`` (entry's
    anchor sequence >= the file's data sequence number)."""
    out = []
    for d in manifest.get("deletes") or []:
        if "eq_cols" not in d:
            continue
        if any(path_dseq(p) <= d["seq"] for p in paths):
            out.append(d)
    return out


def carry_deletes(manifest: dict, replaced: set[str]) -> list[dict]:
    """The child manifest's delete entries after ``replaced`` data files
    left the table (rewritten or dropped): attribution for replaced files
    prunes away — a rewrite read the LIVE rows, so its output already
    materialized those deletes — and entries covering nothing drop whole.
    The DV parquet itself is immutable; stale rows for replaced files are
    inert (their uri never matches a live file again).

    Equality delete entries carry by APPLICABILITY, not attribution
    (they have no per-file map): the entry survives iff any remaining
    data file still has ``path_dseq <= seq``. A full-table rewrite
    therefore retires every equality delete (its outputs all carry the
    rewrite's higher sequence), exactly like Iceberg's
    rewrite_data_files dropping delete files whose scope is gone."""
    out = []
    remaining = [
        f["path"]
        for f in manifest.get("files") or []
        if f["path"] not in replaced
    ]
    for d in manifest.get("deletes") or []:
        if "eq_cols" in d:
            if any(path_dseq(p) <= d["seq"] for p in remaining):
                out.append(d)
            continue
        kept = {
            p: n for p, n in (d.get("data_files") or {}).items()
            if p not in replaced
        }
        if kept:
            out.append({**d, "data_files": kept})
    return out


def file_survives_eq(f: dict, col_eq: dict) -> bool:
    """Bloom check for equality predicates against one manifest file
    entry; files without a bloom for the column always survive (superset
    guard, same contract as min/max pruning)."""
    for col, value in (col_eq or {}).items():
        b = bloom_entry(f, col)
        if b is not None and not bloom_might_contain(b, value):
            return False
    return True


def select_files(
    root: str,
    manifest: dict,
    col_between: dict | None = None,
    col_eq: dict | None = None,
) -> tuple[list[dict], int]:
    """File entries surviving manifest-stats pruning + pruned count.
    ``col_between`` ({col: (lo, hi)}) prunes on per-file min/max and the
    partition tuple; ``col_eq`` ({col: value}) additionally probes the
    per-file blooms (equality is the predicate min/max can't help with on
    hash-distributed columns — every file spans the whole range, but a
    bloom miss is a proof of absence). Missing stats or incomparable
    types keep the file: pruning is a superset guard."""
    files = manifest["files"]
    if not col_between and not col_eq:
        return list(files), 0
    from workbook_exporter_fe_spark.sources.partitioning import (
        file_survives_partition,
    )

    pfields = partition_fields(root)
    keep = []
    for f in files:
        ok = file_survives_eq(f, col_eq or {}) and file_survives_partition(
            f.get("partition"), pfields, col_eq, col_between
        )
        if ok:
            for col, (lo, hi) in (col_between or {}).items():
                fmin = f["min"].get(col)
                fmax = f["max"].get(col)
                if fmin is None or fmax is None:
                    continue  # no stats -> cannot prune this file
                try:
                    if (hi is not None and fmin > hi) or (
                        lo is not None and fmax < lo
                    ):
                        ok = False
                        break
                except TypeError:  # incomparable filter/stat types
                    continue
        if ok:
            keep.append(f)
    return keep, len(files) - len(keep)


def file_deletes(manifest: dict, path: str) -> tuple[tuple, tuple]:
    """The delete files masking one data file: (position-delete vector
    paths, ((key paths), (eq cols)) per applicable equality delete)."""
    deletes = manifest.get("deletes") or []
    dvs = sorted({
        p for d in deletes if path in (d.get("data_files") or {})
        for p in d["paths"]
    })
    eqs = tuple(
        (tuple(d["paths"]), tuple(d["eq_cols"]))
        for d in eq_deletes_applying(manifest, [path])
    )
    return tuple(dvs), eqs


def _check_append_schema(table_json: dict, incoming_json: dict) -> None:
    """Appends must fit the table schema (``SchemaMismatch`` otherwise)."""
    if incoming_json == table_json:
        return
    from pyspark.sql.types import StructType

    table = {f.name: f for f in StructType.fromJson(table_json).fields}
    incoming = {f.name: f for f in StructType.fromJson(incoming_json).fields}
    unknown = sorted(set(incoming) - set(table))
    if unknown:
        raise SchemaMismatch(
            f"append writes unknown column(s) {unknown}; run "
            "evolve(add=...) first"
        )
    for name, f in incoming.items():
        if f.dataType != table[name].dataType:
            raise SchemaMismatch(
                f"column {name!r} is {f.dataType.simpleString()} but the "
                f"table has {table[name].dataType.simpleString()}; type "
                "changes are not supported"
            )
    for name, f in table.items():
        if name not in incoming and not f.nullable:
            raise SchemaMismatch(f"append omits non-nullable column {name!r}")


def _head(root: str, branch: str | None) -> int:
    return current_sequence(root) if branch is None else (
        branch_heads(root).get(branch, 0)
    )


def commit_files(
    root: str,
    new_files: list,
    schema_json: dict | None = None,
    operation: str = "append",
    summary: dict | None = None,
    cleanup_dir: str | None = None,
    parent: int | None = None,
    branch: str | None = None,
    base: int | None = None,
    removed: set | None = None,
    new_deletes: list | None = None,
) -> int:
    """Publish a new snapshot — the one manifest writer of the log.

    The child's file list is ``base − removed + new_files``. ``base`` is
    the sequence the child derives from: the parent by default, the
    target of a rollback, or 0 (nothing) for a full overwrite.
    ``new_files`` are manifest file entries, or parquet paths whose footer
    stats are harvested here — from the explicit list, never a directory
    listing, so a failed task's orphan files stay unreferenced garbage.
    The base's delete entries carry over (``carry_deletes`` prunes them
    when files leave); ``new_deletes`` are added, equality entries
    anchored at the parent so they mask only pre-existing rows (Iceberg
    v2: an upsert is an equality delete plus new data in ONE snapshot).

    Appends (``operation`` 'append'/'upsert') are checked against the
    base's schema and keep it; every other commit takes ``schema_json``,
    or the base's schema when None.

    ``parent`` defaults to the head of ``branch`` (main when None).
    Sequence numbers are allocated globally (``max_sequence``), so branch
    and main commits never collide; a branch commit leaves main's hint
    alone and advances only its branch ref.

    Publication is optimistic: the manifest is written to a temp file
    and hard-linked to ``snap-N.json``, so creating it is exclusive and a
    writer racing the same sequence loses with ``SnapshotConflict``
    instead of overwriting the winner. The ref (version hint or branch)
    then moves iff it still points at ``parent`` — a check-then-replace,
    not atomic: like the module's other swaps it assumes a posix-rename
    filesystem and one writer per ref at a time. On any failure before
    publication the segments, ``cleanup_dir`` and the new delete files'
    dirs this commit brought are removed.
    """
    meta = os.path.join(root, "metadata")
    os.makedirs(meta, exist_ok=True)
    if parent is None:
        parent = _head(root, branch)
    base = parent if base is None else base
    removed = set(removed or ())
    dirs = ([cleanup_dir] if cleanup_dir else []) + [
        os.path.dirname(d["paths"][0]) for d in new_deletes or []
    ]
    created: list[str] = []
    tmp = None
    try:
        raw = load_manifest_raw(root, base) if base else {}
        appending = operation in ("append", "upsert")
        if raw and appending:
            _check_append_schema(raw["schema"], schema_json)
        schema = (
            raw["schema"] if raw and (appending or schema_json is None)
            else schema_json
        )
        seq = max_sequence(root) + 1
        added = (
            file_stats_for_paths(sorted(new_files))
            if new_files and isinstance(new_files[0], str)
            else list(new_files)
        )
        deletes = raw.get("deletes") or []
        if removed and deletes:
            deletes = carry_deletes(load_manifest(root, base), removed)
        for d in new_deletes or []:
            if "eq_cols" in d:
                if not parent:
                    continue  # empty table: nothing the delete could mask
                d = {**d, "seq": parent}
            deletes = deletes + [d]

        # file list: the base's segments carry by reference; only one
        # holding a removed path is re-written, filtered. The new files
        # form the tail, folded in memory by the binary-counter rule
        # (absorb the previous segment while it is no bigger), so a
        # commit writes at most one tail segment
        parts: list = []  # carried refs, or entry lists still to write
        for ref in raw.get("file_segments") or []:
            entries = _load_segment(meta, ref) if removed else ()
            if any(e["path"] in removed for e in entries):
                kept = [e for e in entries if e["path"] not in removed]
                if kept:
                    parts.append(kept)
            else:
                parts.append(ref)
        tail = [
            f for f in raw.get("files") or [] if f["path"] not in removed
        ] + added
        if not parts and len(tail) <= MANIFEST_INLINE_MAX:
            listing: dict = {"files": tail}  # small table: stay inline
        else:
            if tail:
                parts.append(tail)
            while (
                len(parts) >= 2 and isinstance(parts[-1], list)
                and (parts[-2]["entries"] if isinstance(parts[-2], dict)
                     else len(parts[-2])) <= len(parts[-1])
            ):
                prev = parts.pop(-2)
                if isinstance(prev, dict):
                    prev = _load_segment(meta, prev)
                parts[-1] = prev + parts[-1]
            refs = []
            for p in parts:
                if isinstance(p, list):
                    p = _write_segment(meta, seq, p)
                    created.append(os.path.join(meta, p["path"]))
                refs.append(p)
            listing = {"file_segments": refs} if refs else {"files": []}
        # position deletes are the only attributed masks (equality
        # entries carry no per-file counts, so total_rows is an upper
        # bound while one is outstanding — same as live_rows_map)
        masked = sum(
            int(n) for d in deletes
            for n in (d.get("data_files") or {}).values()
        )
        manifest = {
            "sequence": seq,
            "parent": parent,
            "operation": operation,
            "committed_at": time.time(),
            "schema": schema,
            "summary": dict(summary or {}),
            **({"deletes": deletes} if deletes else {}),
            **({"rolled_back_to": base} if operation == "rollback" else {}),
            **listing,
            "total_rows": _segments_footer_rows(listing) - masked,
        }
        mpath = os.path.join(meta, f"snap-{seq:08d}.json")
        tmp = f"{mpath}.tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as f:
            f.write(json.dumps(manifest, indent=1))
        if _head(root, branch) != parent:
            raise SnapshotConflict(
                f"{branch or 'main'} advanced to {_head(root, branch)} "
                f"while committing against {parent}; retry against its head"
            )
        try:
            os.link(tmp, mpath)
        except FileExistsError:
            raise SnapshotConflict(
                f"sequence {seq} already committed by another writer"
            ) from None
    except BaseException:
        for p in created:
            try:
                os.remove(p)
            except OSError:
                pass
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)
        raise
    finally:
        if tmp is not None:
            try:
                os.remove(tmp)
            except OSError:
                pass
    if branch is None:
        _atomic_write(os.path.join(meta, "version-hint.text"), str(seq))
    else:
        refs = branch_heads(root)
        refs[branch] = seq
        _atomic_write(
            os.path.join(meta, "branches.json"),
            json.dumps(refs, sort_keys=True),
        )
    return seq


def appended_files(root: str, from_sequence: int, to_sequence: int) -> list:
    """File entries APPENDED in ``(from_sequence, to_sequence]`` — the
    incremental append scan behind ``SnapshotTable.changes`` and the
    snapshot_log stream reader. Walks the PARENT chain (not the sequence
    range: branch commits take global sequence numbers without being on
    this ref's history), collects each append snapshot's added files,
    and skips ``replace``/``evolve`` snapshots (same rows or no files).
    Raises ``IncrementalScanBreak`` on a history rewrite in range, an
    off-chain ``from_sequence``, or a range whose manifests or appended
    files were expired — the consumer lagged past the retention window."""
    if from_sequence > to_sequence:
        raise ValueError(
            f"from_sequence {from_sequence} is ahead of {to_sequence}"
        )

    def load(seq: int) -> dict:
        try:
            return load_manifest(root, seq)
        except FileNotFoundError:
            raise IncrementalScanBreak(
                f"manifest for snapshot {seq} was expired — the consumer "
                "lagged past the retention window; rebuild from read()"
            ) from None

    chain: list[dict] = []
    seq = to_sequence
    while seq > from_sequence:
        m = load(seq)
        chain.append(m)
        seq = int(m["parent"])
    if seq != from_sequence:
        raise IncrementalScanBreak(
            f"snapshot {from_sequence} is not an ancestor of {to_sequence} "
            "— the consumer's watermark is on another branch; rebuild "
            "from read()"
        )
    if not chain:
        return []
    prev = (
        {f["path"] for f in load(from_sequence)["files"]}
        if from_sequence > 0
        else set()
    )
    new: list[dict] = []
    for m in reversed(chain):
        paths = {f["path"]: f for f in m["files"]}
        if m["operation"] == "append":
            gone = [p for p in sorted(set(paths) - prev)
                    if not os.path.exists(p)]
            if gone:
                raise IncrementalScanBreak(
                    f"{len(gone)} file(s) appended by snapshot "
                    f"{m['sequence']} were expired (e.g. {gone[0]}) — the "
                    "consumer lagged past the retention window; rebuild "
                    "from read()"
                )
            new.extend(paths[p] for p in sorted(set(paths) - prev))
        elif m["operation"] not in ("replace", "evolve"):
            raise IncrementalScanBreak(
                f"snapshot {m['sequence']} is '{m['operation']}', not "
                "append — incremental consumers must rebuild from read()"
            )
        prev = set(paths)
    return new


class SnapshotTable:
    """A directory-backed table with Iceberg-like snapshot semantics.

    Layout::

        <root>/data/c<seq>-<uuid>/part-*.parquet   immutable per-commit dirs
        <root>/metadata/snap-<seq>.json            one manifest per snapshot
        <root>/metadata/version-hint.text          current sequence (atomic)
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        self.meta = os.path.join(root, "metadata")
        self.data = os.path.join(root, "data")
        os.makedirs(self.meta, exist_ok=True)
        os.makedirs(self.data, exist_ok=True)

    # ---------------------------------------------------------- manifests
    def _manifest_path(self, seq: int) -> str:
        return os.path.join(self.meta, f"snap-{seq:08d}.json")

    def current_sequence(self) -> int:
        """0 = empty table (no committed snapshot)."""
        return current_sequence(self.root)

    def _load(self, seq: int) -> dict:
        return load_manifest(self.root, seq)

    def snapshot(self, sequence: int | str | None = None) -> dict:
        if isinstance(sequence, str):  # tag name → pinned sequence
            sequence = self.resolve(sequence)
        seq = self.current_sequence() if sequence is None else sequence
        if seq == 0:
            raise ValueError("table has no snapshots")
        return self._load(seq)

    # --------------------------------------------------------- properties
    def _properties_path(self) -> str:
        return os.path.join(self.meta, "properties.json")

    def properties(self) -> dict:
        """Table properties (Iceberg-style write configuration). Known
        keys: ``bloom.columns`` (list[str] — build a manifest bloom for
        these columns on every commit through this table object) and
        ``bloom.bits`` (filter size; default BLOOM_BITS_DEFAULT)."""
        return table_properties(self.root)

    def set_properties(self, **props) -> dict:
        """Merge ``props`` into the table properties (None deletes a key).
        Properties affect future WRITES only — existing manifests are
        untouched, and files committed before blooms were enabled simply
        never prune (superset guard)."""
        merged = self.properties()
        for key, value in props.items():
            key = key.replace("_", ".")
            if value is None:
                merged.pop(key, None)
            else:
                merged[key] = value
        _atomic_write(self._properties_path(), json.dumps(merged, indent=1))
        return merged

    def _bloom_conf(self) -> tuple[list[str], int]:
        props = self.properties()
        return (
            list(props.get("bloom.columns") or []),
            int(props.get("bloom.bits") or BLOOM_BITS_DEFAULT),
        )

    def _ndv_conf(self) -> list[str]:
        return list(self.properties().get("stats.ndv.columns") or [])

    def _build_ndv(self, paths: list[str]) -> dict:
        """{path: sidecar-ref} of per-file NDV theta sketches for the
        ``stats.ndv.columns`` property — same sidecar discipline as the
        blooms (immutable, written once with the data file, GC'd with
        it; the manifest carries only the ref string)."""
        cols = self._ndv_conf()
        if not cols or not paths:
            return {}
        inline = ndv_stats_for_files(self.spark, paths, cols)
        refs = {}
        for p, per_col in inline.items():
            ref = p + ".ndv.json"
            _atomic_write(ref, json.dumps(per_col))
            refs[p] = ref
        return refs

    def column_ndv(
        self, col: str, sequence: int | None = None
    ) -> float | None:
        """Estimated distinct count of ``col`` at a snapshot, by UNIONING
        the per-file theta sketches (mergeability is the whole trick —
        the union of per-file distinct sets is exactly the table's).
        Metadata-only: reads file-count-many sidecars, never data. None
        when no file carries a sketch for the column; files committed
        before the property was set simply don't contribute (enable the
        property, compact, and every rewritten file is covered)."""
        import base64

        from pyspark.sql import functions as F

        m = self.snapshot(sequence)
        blobs = []
        covered_rows = 0
        for f in m["files"]:
            ref = f.get("ndv_ref")
            if not ref:
                continue
            sk = _load_bloom_sidecar(ref).get(col)  # same memoized loader
            if sk:
                blobs.append(base64.b64decode(sk))
                covered_rows += f["rows"]
        if not blobs:
            return None
        est = (
            self.spark.createDataFrame([(b,) for b in blobs], "sk binary")
            .agg(F.theta_sketch_estimate(F.theta_union_agg("sk")))
            .first()[0]
        )
        return float(est)

    def _build_blooms(self, paths: list[str]) -> dict:
        """{path: sidecar-ref} for the configured bloom columns. The
        filter bytes live in an immutable ``<file>.bloom.json`` NEXT TO
        the data file (written once, GC'd with its commit dir), and the
        manifest carries only the ref string — append manifests copy
        every prior file entry forward, so inline filters would grow the
        metadata O(files²)."""
        cols, bits = self._bloom_conf()
        if not cols or not paths:
            return {}
        inline = bloom_stats_for_files(self.spark, paths, cols, bits=bits)
        refs = {}
        for p, per_col in inline.items():
            ref = p + ".bloom.json"
            _atomic_write(ref, json.dumps(per_col))
            refs[p] = ref
        return refs

    # ------------------------------------------------- hidden partitioning
    def _write_data(
        self, df: DataFrame, commit_dir: str, distribute: bool = True
    ) -> None:
        """Write one commit's data, fanned out per partition tuple when
        the table has a spec. ``distribute`` hash-clusters rows by the
        partition columns first (Iceberg ``write.distribution-mode=hash``
        — one shuffle buys one well-sized file per partition per commit
        instead of tasks×partitions small files); compaction/CoW rewrites
        pass False because their input is already arranged (coalesced or
        z-order/range clustered) and must not re-shuffle."""
        fields = partition_fields(self.root)
        if not fields:
            df.write.mode("error").parquet(commit_dir)
            return
        from workbook_exporter_fe_spark.sources.partitioning import (
            PCOL_PREFIX,
            partition_columns,
        )

        pcols = [PCOL_PREFIX + f.name for f in fields]
        staged = df.select("*", *partition_columns(df, fields))
        if distribute and self.properties().get(
            "partition.distribution", "hash"
        ) == "hash":
            staged = staged.repartition(*pcols)
        staged.write.mode("error").partitionBy(*pcols).parquet(commit_dir)

    @staticmethod
    def _list_parquet(commit_dir: str) -> list[str]:
        """Every parquet leaf under ``commit_dir`` (partitioned commits
        nest one directory level per spec field)."""
        out = []
        for dirpath, _dirs, files in os.walk(commit_dir):
            out.extend(
                os.path.join(dirpath, n)
                for n in files
                if n.endswith(".parquet")
            )
        return sorted(out)

    @staticmethod
    def _partition_from_path(path: str, commit_dir: str) -> dict | None:
        """Recover the partition tuple from the hive-style directory
        segments ``__p_<name>=<value>`` between ``commit_dir`` and the
        file. Values are unescaped; the hive null sentinel maps to None
        ("every row's source column was null" — prunable on any probe)."""
        from urllib.parse import unquote

        from workbook_exporter_fe_spark.sources.partitioning import PCOL_PREFIX

        rel = os.path.relpath(os.path.dirname(path), commit_dir)
        vals: dict = {}
        for seg in rel.split(os.sep):
            if seg.startswith(PCOL_PREFIX) and "=" in seg:
                k, _, v = seg.partition("=")
                v = unquote(v)
                vals[k[len(PCOL_PREFIX):]] = (
                    None if v == "__HIVE_DEFAULT_PARTITION__" else v
                )
        return vals or None

    def _commit_dir_of(self, path: str) -> str:
        """The commit directory owning ``path`` — its first path segment
        under the table's data dir (partitioned files nest deeper)."""
        rel = os.path.relpath(os.path.abspath(path), self.data)
        return os.path.join(self.data, rel.split(os.sep)[0])

    # ------------------------------------------------------------ commits
    def _file_stats(self, commit_dir: str) -> list[dict]:
        """Footer stats for every parquet file in ``commit_dir`` (Spark
        task commits are atomic renames, so a directory listing here only
        ever sees complete files), plus manifest blooms and partition
        tuples when the table properties ask for them — so compaction/CoW
        rewrites re-bloom and re-tuple their output files like any other
        commit."""
        paths = self._list_parquet(commit_dir)
        files = file_stats_for_paths(paths)
        refs = self._build_blooms(paths)
        nrefs = self._build_ndv(paths)
        for f in files:
            if f["path"] in refs:
                f["bloom_ref"] = refs[f["path"]]
            if f["path"] in nrefs:
                f["ndv_ref"] = nrefs[f["path"]]
            p = self._partition_from_path(f["path"], commit_dir)
            if p:
                f["partition"] = p
        return files

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        summary: dict | None = None,
        branch: str | None = None,
    ) -> int:
        """Write ``df`` as a new snapshot; returns its sequence number.

        ``mode='append'`` adds the new files to the parent snapshot's set;
        ``'overwrite'`` starts a fresh set (parent files remain readable
        via time travel). The data write happens BEFORE the manifest/hint
        swap, so a crash mid-commit leaves unreferenced files, never a
        partially-visible snapshot. The TABLE schema stays authoritative
        across appends (an append may omit nullable evolved columns;
        readers null-fill) — only an overwrite or evolve() changes it.

        ``branch='audit'`` chains the commit off that branch's head and
        advances ONLY the branch ref — main readers never see it until
        ``fast_forward`` publishes (Iceberg write-audit-publish).
        """
        if mode not in ("append", "overwrite"):
            raise ValueError(mode)
        parent = (
            self._branch_head(branch) if branch else self.current_sequence()
        )
        if mode == "append" and parent > 0:
            # fail BEFORE writing data, against the BRANCH head's schema
            _check_append_schema(
                load_manifest_raw(self.root, parent)["schema"],
                df.schema.jsonValue(),
            )
        return self._write_commit(
            df,
            schema_json=df.schema.jsonValue(),
            operation=mode,
            summary=summary,
            parent=parent,
            branch=branch,
            base=0 if mode == "overwrite" else None,
        )

    def _write_commit(
        self, df: DataFrame, distribute: bool = True, prepare=None, **commit
    ) -> int:
        """Write ``df`` into a fresh commit dir and publish its non-empty
        files through ``commit_files(**commit)``. ``prepare(new_files)``
        returns further commit arguments derived from the written files
        (summary accounting, equality deletes) or raises to abandon the
        commit; a commit that fails leaves no dir behind."""
        commit_dir = new_commit_dir(self.root)
        try:
            self._write_data(df, commit_dir, distribute=distribute)
            files = [f for f in self._file_stats(commit_dir) if f["rows"] > 0]
            if prepare is not None:
                commit.update(prepare(files))
        except BaseException:
            shutil.rmtree(commit_dir, ignore_errors=True)
            raise
        return commit_files(self.root, files, cleanup_dir=commit_dir, **commit)

    def _table_schema(self, sequence: int | None = None):
        from pyspark.sql.types import StructType

        return StructType.fromJson(self.snapshot(sequence)["schema"])

    def evolve(
        self,
        add: dict[str, str] | None = None,
        drop: list[str] | None = None,
    ) -> int:
        """Metadata-only schema change, committed as an ``evolve`` snapshot.

        ``add`` maps new column names to Spark type strings (added
        NULLABLE — existing files simply lack the column and readers
        null-fill it, so no data is rewritten); ``drop`` removes columns
        from the table schema (the bytes stay in old files for time
        travel; current reads project them away). Renames and type
        changes are deliberately unsupported: parquet resolution here is
        by NAME, and a rename would silently orphan every old file's
        column — Iceberg needs field IDs for that, which is exactly the
        kind of engine machinery this log does not reimplement.

        ``evolve`` adds no files, so ``changes()`` skips it like a
        compaction and incremental consumers keep running; their frames
        adopt the new schema from the manifest they read against.
        """
        from pyspark.sql.types import StructField, StructType, _parse_datatype_string

        m = self.snapshot()
        fields = list(StructType.fromJson(m["schema"]).fields)
        names = {f.name for f in fields}
        for col in drop or []:
            if col not in names:
                raise SchemaMismatch(f"cannot drop unknown column {col!r}")
        fields = [f for f in fields if f.name not in set(drop or [])]
        for col, typ in (add or {}).items():
            if col in names:
                raise SchemaMismatch(f"column {col!r} already exists")
            fields.append(StructField(col, _parse_datatype_string(typ), True))
        if not fields:
            raise SchemaMismatch("evolution would leave an empty schema")
        # metadata-only op: the parent's segments carry verbatim
        return commit_files(
            self.root,
            [],
            StructType(fields).jsonValue(),
            operation="evolve",
            summary={"added": sorted(add or {}), "dropped": sorted(drop or [])},
            parent=m["sequence"],
        )

    def rollback(self, sequence: int) -> int:
        """Commit a NEW snapshot re-referencing ``sequence``'s file set.

        History stays intact (Iceberg semantics) — rollback is itself an
        auditable entry, not an erasure.
        """
        self.snapshot(sequence)  # must exist
        # re-reference the OLD snapshot's segments, write nothing
        return commit_files(
            self.root, [], operation="rollback", base=sequence
        )

    def compact(
        self,
        target_file_bytes: int = 128 << 20,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        zorder_bits: int = 8,
        where_bounds: dict | None = None,
        scope_paths: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot's data as fewer, larger files and
        commit the result as an Iceberg-style REPLACE snapshot.

        Small-file buildup is the chronic failure mode of an append log
        (every incremental micro-batch adds a handful of files; a year of
        minutely appends is half a million tiny parquet files whose
        footers alone dominate scan planning). Compaction rewrites the
        CURRENT file set into ~``total_bytes / target_file_bytes`` files
        and commits ``operation='replace'``: logically a no-op — the row
        set is identical by construction (one ``read()`` → one write) —
        so ``changes()`` SKIPS replace snapshots and incremental
        consumers keep working straight across a compaction, exactly like
        Iceberg's incremental append scan ignoring REWRITE snapshots.
        Old files stay on disk for time travel until
        ``expire_snapshots``. Returns the new sequence, or the current
        one unchanged when compaction would not reduce the file count.

        ``sort_by`` upgrades the bin-pack to Iceberg's SORT rewrite:
        rows are range-partitioned + sorted on those columns, so every
        output file covers a narrow, near-disjoint slice and the
        manifest min/max stats (``read(col_between=...)``) prune again.
        Interleaved appends destroy clustering — after a day of
        per-source micro-batches every file spans the whole time range
        and time-range scans open everything; one sorted compaction
        restores file-skipping. Costs ONE full shuffle of the live data
        (the plain bin-pack is a shuffle-free ``coalesce``), which is
        the explicit price of re-clustering — schedule it per partition
        window, not per table, at 100 TB.

        ``zorder_by`` clusters on the MORTON code of several columns
        instead (sources/layout.py — Delta ``OPTIMIZE ZORDER BY`` /
        Iceberg zorder rewrite): each output file covers a hypercube of
        the value space, so min/max pruning works on EVERY listed column
        at once, where ``sort_by`` only tightens the leading one. Same
        one-shuffle cost; ``zorder_bits`` is the per-column resolution.

        ``where_bounds`` ({col: (lo, hi)}) SCOPES the rewrite to the
        files whose manifest min/max intersect the bounds — Iceberg's
        ``rewrite_data_files(where => ...)``: at 100 TB you compact
        yesterday's micro-batches, never the table, so the rewrite cost
        is window-sized while every out-of-scope file carries into the
        child manifest verbatim (same CoW accounting as the row-level
        mutations). Note the scope is FILE-granular via stats: a file
        straddling the boundary is rewritten whole, which is correct —
        replace snapshots preserve the global row multiset exactly.

        ``scope_paths`` is the explicit-file-set form of the same scope
        (takes precedence over ``where_bounds``): the caller — typically
        ``auto_maintain`` — has already decided WHICH files carry debt
        (small, position-masked, eq-applicable) and only those are
        rewritten; paths no longer in the current snapshot are ignored.
        """
        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        m = self.snapshot()
        if scope_paths is not None:
            # explicit file scope (Iceberg's rewrite strategy picking the
            # input files itself — auto-maintenance packs ONLY the files
            # carrying debt, never the table)
            scope_set = {f["path"] for f in m["files"]} & set(scope_paths)
        elif where_bounds:
            bound_paths, _ = self._select_files(m, where_bounds)
            scope_set = set(bound_paths)
        else:
            scope_set = {f["path"] for f in m["files"]}
        scope = [f for f in m["files"] if f["path"] in scope_set]
        carried = [f for f in m["files"] if f["path"] not in scope_set]
        total = sum(f["bytes"] for f in scope)
        # LIVE rows: the rewrite reads through the delete masks, so
        # compacting a masked file MATERIALIZES its position/equality
        # deletes (Iceberg's rewrite_data_files retiring delete files)
        scope_rows = self._live_scope_rows(m, [f["path"] for f in scope])
        n = max(1, -(-total // max(1, target_file_bytes)))  # ceil-div
        unclustered = sort_by is None and zorder_by is None
        # outstanding delete debt over the scope makes the rewrite worth
        # it even when the file count would not shrink: materializing the
        # masks retires the per-scan anti-join tax (Iceberg's
        # rewrite_data_files with delete files present)
        scope_debt = any(
            p in scope_set for p in dv_rows_by_file(m)
        ) or bool(eq_deletes_applying(m, [f["path"] for f in scope]))
        if not scope or (unclustered and n >= len(scope) and not scope_debt):
            return self.current_sequence()
        src = self._read_paths(m, [f["path"] for f in scope])
        if zorder_by is not None:
            from workbook_exporter_fe_spark.sources.layout import with_zvalue

            out = (
                with_zvalue(src, zorder_by, bits=zorder_bits)
                .repartitionByRange(n, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by is None:
            # coalesce, not repartition: a bin-pack must not shuffle
            # 100 TB, only concatenate small outputs into bigger ones
            out = src.coalesce(n)
        else:
            # global range clustering: tight per-file min/max on sort_by
            out = src.repartitionByRange(
                n, *sort_by
            ).sortWithinPartitions(*sort_by)
        def account(new_files: list[dict]) -> dict:
            rows_out = sum(f["rows"] for f in new_files)
            if rows_out != scope_rows:  # footer counts are exact
                raise RuntimeError(
                    f"compaction row drift: {rows_out} != {scope_rows}"
                )
            return {"summary": {
                "files_before": len(m["files"]),
                "files_after": len(carried) + len(new_files),
                "files_rewritten": len(scope),
                "files_carried": len(carried),
                **({"sort_by": sort_by} if sort_by else {}),
                **({"zorder_by": zorder_by} if zorder_by else {}),
                **({"where_bounds": {k: list(v) for k, v in
                    where_bounds.items()}} if where_bounds else {}),
            }}

        return self._write_commit(
            out,
            distribute=False,
            prepare=account,
            operation="replace",
            parent=m["sequence"],
            removed=scope_set,
        )

    # -------------------------------------------- row-level CoW mutations
    @staticmethod
    def _local_path(uri: str) -> str:
        """``input_file_name()`` URI → the manifest's plain OS path."""
        from urllib.parse import unquote, urlparse

        if uri.startswith("file:"):
            return unquote(urlparse(uri).path)
        return unquote(uri)

    def _read_paths(
        self, manifest: dict, paths: list[str], with_position: bool = False
    ) -> DataFrame:
        """Read an explicit file subset against the manifest schema,
        MINUS any rows the manifest's position delete entries mask
        (merge-on-read: the anti-join on ``(_metadata.file_path,
        _metadata.row_index)`` applies deletes at scan time; AQE
        broadcasts the vector when small). ``with_position`` keeps the
        ``__uri``/``__pos`` metadata columns in the output — the
        delete-writer's own hook."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        schema = StructType.fromJson(manifest["schema"])
        if not paths:
            df = self.spark.createDataFrame([], schema)
            if with_position:
                df = df.withColumn("__uri", F.lit("")).withColumn(
                    "__pos", F.lit(0).cast("long")
                )
            return df
        base = self.spark.read.schema(schema).parquet(*paths)
        dvs = [
            d
            for d in (manifest.get("deletes") or [])
            if set(d.get("data_files") or {}) & set(paths)
        ]
        eqs = eq_deletes_applying(manifest, paths)
        if not dvs and not eqs and not with_position:
            return base
        cols = base.columns
        out = base.withColumn(
            "__uri", F.col("_metadata.file_path")
        ).withColumn("__pos", F.col("_metadata.row_index"))
        if dvs:
            dv = self.spark.read.parquet(
                *sorted({p for d in dvs for p in d["paths"]})
            ).select("uri", "pos")
            out = out.join(
                dv,
                (out["__uri"] == dv["uri"]) & (out["__pos"] == dv["pos"]),
                "left_anti",
            )
        if eqs:
            # equality deletes (Iceberg v2): broadcast anti-joins,
            # key-matched NULL-SAFE and scoped to rows whose file's data
            # sequence <= the delete's anchor — rows appended (or
            # rewritten) after the delete are untouched. Entries whose
            # anchor covers EVERY file in this read (the steady state of
            # a CDC upsert stream: data predates the deletes) merge per
            # key-column set into ONE union-read anti-join, so the read
            # tax stays one join per key set, not one per upsert epoch.
            # Key relations are delete-sized; the data never re-shuffles.
            max_dseq = max(path_dseq(p) for p in paths)
            unconditional: dict[tuple, list] = {}
            scoped = []
            for d in eqs:
                if d["seq"] >= max_dseq:
                    unconditional.setdefault(
                        tuple(d["eq_cols"]), []
                    ).extend(d["paths"])
                else:
                    scoped.append(d)
            def key_rows(ecols, kpaths):
                # key files hold the table's types: no inference job
                return self.spark.read.schema(
                    StructType([schema[c] for c in ecols])
                ).parquet(*kpaths)

            for ecols, kpaths in unconditional.items():
                keys = key_rows(ecols, sorted(set(kpaths)))
                match = functools.reduce(
                    lambda a, b: a & b,
                    [out[c].eqNullSafe(keys[c]) for c in ecols],
                )
                out = out.join(F.broadcast(keys), match, "left_anti")
            if scoped:
                out = out.withColumn(
                    "__dseq",
                    F.coalesce(
                        F.regexp_extract(
                            F.col("__uri"), r"/c(\d{8})-[0-9a-f]{8}/", 1
                        ).cast("int"),
                        F.lit(0),  # unknown layout → applicable (path_dseq)
                    ),
                )
                for d in scoped:
                    keys = key_rows(d["eq_cols"], d["paths"])
                    match = functools.reduce(
                        lambda a, b: a & b,
                        [out[c].eqNullSafe(keys[c]) for c in d["eq_cols"]],
                    )
                    out = out.join(
                        F.broadcast(keys),
                        match & (out["__dseq"] <= F.lit(int(d["seq"]))),
                        "left_anti",
                    )
                out = out.drop("__dseq")
        return out if with_position else out.select(*cols)

    def _touched_files(
        self, manifest: dict, cond, stats_bounds: dict | None
    ) -> list[str]:
        """Files holding ≥1 row where ``cond`` is TRUE: manifest min/max
        pruning first (``stats_bounds``, {col: (lo, hi)}), then ONE
        column-pruned containment scan over the candidates. The result is
        a path list — file-granular like the manifest itself, so the
        driver-side collect is bounded by file count, never row count.

        File identity comes from the ``__uri`` metadata column captured
        AT THE SCAN by ``_read_paths(with_position=True)`` — never
        ``input_file_name()`` after it: on a table with outstanding
        delete vectors the read plan contains the DV anti-join, and
        ``input_file_name()`` evaluated past a join returns ''."""
        from pyspark.sql import functions as F

        cand, _ = self._select_files(manifest, stats_bounds)
        hit = (
            self._read_paths(manifest, cand, with_position=True)
            .filter(cond)
            .select(F.col("__uri").alias("p"))
            .distinct()
            .collect()
        )
        return sorted({self._local_path(r.p) for r in hit})

    def _rewrite_commit(
        self,
        manifest: dict,
        touched: list[str],
        rewritten: DataFrame,
        operation: str,
        summary: dict,
        expect_rows: int | None = None,
    ) -> int:
        """Write ``rewritten`` (the replacement for ``touched``) and commit
        carried-over + replacement files as one new snapshot. CoW: every
        file NOT in ``touched`` carries into the child manifest verbatim —
        at 100 TB a keyed delete rewrites the few files containing the
        keys, not the table. ``expect_rows`` guards operations that must
        preserve the replaced row count (footer counts are exact)."""
        touched_set = set(touched)
        # LIVE rows (footer minus outstanding deletes): the rewrite read
        # through the position/equality masks, so its output materialized
        # those deletes — replaced accounting must match what it read
        replaced_rows = self._live_scope_rows(manifest, touched)

        def account(new_files: list[dict]) -> dict:
            rows_out = sum(f["rows"] for f in new_files)
            if expect_rows is not None and rows_out != expect_rows:
                raise RuntimeError(
                    f"{operation} row drift: rewrote {rows_out} rows, "
                    f"expected {expect_rows}"
                )
            acct = {
                "files_rewritten": len(touched),
                "files_carried": len(manifest["files"]) - len(touched_set),
                "rows_replaced": replaced_rows,
                "rows_rewritten": rows_out,
            }
            if operation == "delete":
                acct["rows_deleted"] = replaced_rows - rows_out
            return {"summary": {**summary, **acct}}

        # coalesce, not repartition: the rewrite reads len(touched) files
        # and must not shuffle them to write at most that many back
        return self._write_commit(
            rewritten.coalesce(max(1, len(touched))),
            distribute=False,
            prepare=account,
            operation=operation,
            parent=manifest["sequence"],
            removed=touched_set,
        )

    def delete_where(
        self,
        predicate,
        stats_bounds: dict | None = None,
        summary: dict | None = None,
        mode: str = "cow",
    ) -> int:
        """Row-level DELETE as an Iceberg-style snapshot; two modes.

        ``mode='cow'`` (copy-on-write): rewrite ONLY the files containing
        a matching row; every other file carries over untouched. Two
        Spark jobs: one containment scan over the stats-pruned
        candidates, one rewrite of the touched files.

        ``mode='mor'`` (merge-on-read, Iceberg v2 position deletes): no
        data file is rewritten at all — one job writes the matching rows'
        ``(file, row position)`` pairs as a sorted parquet DELETE VECTOR
        referenced by the manifest, and every subsequent read anti-joins
        it at scan time. At 100 TB this is the difference between a
        delete that costs a table-window rewrite and a delete that costs
        the matching rows' positions: deleting 100 rows from 100 128 MB
        files writes kilobytes, not 12.8 GB. The read-side tax accrues
        per outstanding vector; ``compact()`` (or any CoW rewrite of the
        affected files) MATERIALIZES the deletes and retires the vector's
        attribution — run it when the masked fraction grows.

        ``predicate`` (Column or SQL string) deletes rows where it is
        TRUE; NULL keeps the row, like SQL DELETE. ``stats_bounds``
        ({col: (lo, hi)}) pre-prunes candidates by manifest min/max — a
        retention delete with time bounds opens only the expiring window's
        files. Commits ``operation='delete'``: incremental ``changes()``
        consumers break loudly (rows they folded downstream may be gone),
        exactly like overwrite/rollback; time travel still sees the
        pre-delete rows. Returns the new sequence, or the current one
        unchanged when nothing matched."""
        from pyspark.sql import functions as F

        if mode not in ("cow", "mor"):
            raise ValueError(mode)
        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond = F.coalesce(cond, F.lit(False))
        if mode == "mor":
            return self._delete_mor(cond, stats_bounds, dict(summary or {}))
        parent = self.current_sequence()
        m = self.snapshot()
        touched = self._touched_files(m, cond, stats_bounds)
        if not touched:
            return parent
        kept = self._read_paths(m, touched).filter(~cond)
        return self._rewrite_commit(
            m, touched, kept, "delete", dict(summary or {})
        )

    def _delete_mor(self, cond, stats_bounds, summary: dict) -> int:
        """Write one position delete vector for the rows matching
        ``cond`` and commit a manifest referencing it — zero data files
        touched. The scan reads through ``_read_paths`` (DV-aware), so a
        row can never be deleted twice: positions already masked by an
        earlier vector are invisible to this one."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        parent = self.current_sequence()
        m = self.snapshot()
        cand, _ = self._select_files(m, stats_bounds)
        hits = (
            self._read_paths(m, cand, with_position=True)
            .filter(cond)
            .select(F.col("__uri").alias("uri"), F.col("__pos").alias("pos"))
        )
        dv_dir = new_commit_dir(self.root, "dv-")

        # `path` (local form) rides along so executor-side readers (the
        # snapshot_log data source) can filter a vector by manifest path
        # without reproducing Spark's URI escaping (Arrow kernel — the
        # vector is delete-sized, never table-sized)
        @pandas_udf("string")
        def local(uris):
            return uris.map(SnapshotTable._local_path)
        hits.withColumn("path", local("uri")).sort("uri", "pos").coalesce(
            1
        ).write.mode("error").parquet(dv_dir)
        dv_paths = self._list_parquet(dv_dir)
        per_file = (
            self.spark.read.parquet(*dv_paths)
            .groupBy("path")
            .count()
            .collect()
        )
        if not per_file:
            shutil.rmtree(dv_dir, ignore_errors=True)
            return parent
        data_files = {r["path"]: int(r["count"]) for r in per_file}
        n = sum(data_files.values())
        entry = {"paths": dv_paths, "rows": n, "data_files": data_files}
        # zero data files touched — zero segments rewritten too
        return commit_files(
            self.root,
            [],
            operation="delete",
            summary={**summary, "mode": "mor", "rows_deleted": n,
                     "files_masked": len(data_files)},
            parent=m["sequence"],
            new_deletes=[entry],
        )

    def delete_eq(
        self,
        keys,
        eq_cols: list[str],
        summary: dict | None = None,
    ) -> int:
        """Key-based DELETE (Iceberg v2 equality deletes): write ONLY the
        key values — the table is never scanned at all, not even for
        containment. Where a position delete costs one scan to find the
        matching rows' positions, an equality delete costs O(keys): the
        commit writes the key tuples as one delete-sized parquet and
        every subsequent read anti-joins it (null-safe) against rows from
        files whose data sequence <= the delete's anchor sequence — rows
        appended later, and rewrite outputs (which materialize the delete
        while reading), are untouched. This is the CDC building block: a
        streaming upsert deletes-by-key + appends without ever locating
        the old rows. At 100 TB the delete is a kilobyte commit with ZERO
        read amplification on the write path.

        ``keys``: a DataFrame holding exactly the key columns, a list of
        dicts, or (single-column) a list of scalars. Key columns are cast
        to the table's types. NULL keys match NULL values (Iceberg
        equality-delete semantics), unlike SQL joins.

        Trade-offs vs ``delete_where(mode='mor')``, honestly: no per-file
        attribution — ``live_rows``/``total_rows`` become upper bounds
        while an equality delete is outstanding (row-exact guards fall
        back to one count through the masks), and the read-side tax is
        one broadcast anti-join per outstanding entry. ``compact()``
        materializes and retires entries exactly like position vectors.
        Commits ``operation='delete'`` (incremental ``changes()``
        consumers break loudly). Returns the new sequence."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        parent = self.current_sequence()
        if parent == 0:
            return parent  # nothing the delete could apply to
        table = {f.name: f.dataType for f in self._table_schema().fields}
        unknown = sorted(set(eq_cols) - set(table))
        if unknown:
            raise SchemaMismatch(f"delete_eq on unknown column(s) {unknown}")
        if isinstance(keys, DataFrame):
            kdf = keys
        else:
            rows = [
                k if isinstance(k, dict) else {eq_cols[0]: k} for k in keys
            ]
            if len(eq_cols) == 1:
                kdf = self.spark.createDataFrame(
                    [(r[eq_cols[0]],) for r in rows],
                    StructType([self._table_schema()[eq_cols[0]]]),
                )
            else:
                kdf = self.spark.createDataFrame(
                    [tuple(r[c] for c in eq_cols) for r in rows],
                    StructType([self._table_schema()[c] for c in eq_cols]),
                )
        kdf = kdf.select(
            *[F.col(c).cast(table[c]).alias(c) for c in eq_cols]
        ).distinct()
        dv_dir = new_commit_dir(self.root, "eqdv-")
        kdf.coalesce(1).write.mode("error").parquet(dv_dir)
        dv_paths = self._list_parquet(dv_dir)
        n = sum(
            pq.read_metadata(p).num_rows for p in dv_paths
        ) if dv_paths else 0
        if n == 0:
            shutil.rmtree(dv_dir, ignore_errors=True)
            return parent
        # key-only commit: the parent's segments carry verbatim, and the
        # entry is anchored at the parent (applies to files with dseq <=)
        return commit_files(
            self.root,
            [],
            operation="delete",
            summary={**dict(summary or {}), "mode": "eq",
                     "eq_cols": list(eq_cols), "keys": n},
            parent=parent,
            new_deletes=[{"eq_cols": list(eq_cols), "paths": dv_paths,
                          "rows": n}],
        )

    def upsert_eq(
        self,
        df: DataFrame,
        eq_cols: list[str],
        summary: dict | None = None,
        validate_source: bool = True,
    ) -> int:
        """UPSERT as ONE atomic merge-on-read commit (Iceberg v2 pattern:
        equality delete + new data files in the same snapshot,
        ``operation='upsert'``). The batch appends as ordinary data
        files; one equality delete anchored at the PARENT masks any
        pre-existing row with the same key — the new files carry the
        child's data sequence, so they are never self-masked.

        Against ``merge_into`` (copy-on-write): merge scans for
        containment and REWRITES every file holding a matched key —
        cost grows with the table. This writes the batch plus one
        column-pruned key extraction of the just-written files: cost is
        O(batch) at ANY table size, which is what a CDC/streaming
        consumer needs at 100 TB. The price is read-side (one broadcast
        anti-join per outstanding entry) until ``compact()``
        materializes. ``validate_source`` rejects duplicate keys in the
        batch (Delta/Iceberg's merge cardinality rule — last-write-wins
        inside one batch would be nondeterministic). Commits break
        ``changes()`` consumers loudly (matched rows are logically
        replaced); CDC readers use ``row_diff``.

        Reference parity: the reference's keyed YAML merge
        (workbook_exporter-fe.py:1758-1767 — new rows win per key over
        the re-read state file) is this exact upsert at toy scale; here
        the state is the snapshot log and the merge is metadata-only."""
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F
        from pyspark.sql.types import StructType

        parent = self.current_sequence()
        incoming = df.schema.jsonValue()
        table_json = (
            load_manifest_raw(self.root, parent)["schema"] if parent
            else incoming
        )
        table = {
            f.name: f.dataType for f in StructType.fromJson(table_json).fields
        }
        unknown = sorted(set(eq_cols) - set(table))
        if unknown:
            raise SchemaMismatch(f"upsert_eq on unknown column(s) {unknown}")
        _check_append_schema(table_json, incoming)

        def key_delete(new_files: list[dict]) -> dict:
            rows_new = sum(f["rows"] for f in new_files)
            out = {"summary": {**dict(summary or {}), "mode": "upsert",
                               "rows_upserted": rows_new}}
            if not rows_new:
                return out
            # keys from the files just written (column-pruned, read with
            # the batch's schema, deduped in the writing task: one job —
            # never a second evaluation of ``df``)
            keys = self.spark.read.schema(df.schema).parquet(
                *[f["path"] for f in new_files]
            ).select(
                *[F.col(c).cast(table[c]).alias(c) for c in eq_cols]
            ).coalesce(1).distinct()
            kdir = new_commit_dir(self.root, "eqdv-")
            keys.coalesce(1).write.mode("error").parquet(kdir)
            kpaths = self._list_parquet(kdir)
            n_keys = sum(pq.read_metadata(p).num_rows for p in kpaths)
            if validate_source and n_keys != rows_new:
                shutil.rmtree(kdir, ignore_errors=True)
                raise ValueError(
                    f"upsert batch has {rows_new - n_keys} duplicate "
                    f"key(s) on {eq_cols}; dedupe the batch first"
                )
            return {**out, "operation": "upsert", "new_deletes": [
                {"eq_cols": list(eq_cols), "paths": kpaths,
                 "rows": int(n_keys)},
            ]}

        return self._write_commit(df, prepare=key_delete, schema_json=incoming)

    def _live_scope_rows(self, manifest: dict, paths: list[str]) -> int:
        """Exact LIVE row count of a file subset. With only position
        deletes outstanding the live map is per-file exact (footer minus
        attributed positions); an applicable EQUALITY delete has no
        per-file attribution (same asymmetry as Iceberg), so the count
        falls back to one aggregate through the read masks."""
        if not eq_deletes_applying(manifest, paths):
            live = live_rows_map(manifest)
            return sum(live[p] for p in paths)
        return self._read_paths(manifest, list(paths)).count()

    def update_where(
        self,
        predicate,
        assignments: dict,
        stats_bounds: dict | None = None,
    ) -> int:
        """Row-level UPDATE as a copy-on-write snapshot. ``assignments``
        maps column → Column/SQL expression; every expression sees the OLD
        row (SQL UPDATE semantics — one ``select``, not chained
        ``withColumn``, so one assignment never observes another).
        Assigned columns must keep their table type (``SchemaMismatch``
        otherwise) and the rewrite must preserve the replaced row count
        exactly (footer-verified). Same CoW/file-pruning contract as
        ``delete_where``."""
        from pyspark.sql import functions as F

        cond = F.expr(predicate) if isinstance(predicate, str) else predicate
        cond = F.coalesce(cond, F.lit(False))
        parent = self.current_sequence()
        m = self.snapshot()
        table = {f.name: f.dataType for f in self._table_schema().fields}
        unknown = sorted(set(assignments) - set(table))
        if unknown:
            raise SchemaMismatch(f"update assigns unknown column(s) {unknown}")
        touched = self._touched_files(m, cond, stats_bounds)
        if not touched:
            return parent
        t = self._read_paths(m, touched)
        exprs = {
            c: (F.expr(e) if isinstance(e, str) else e)
            for c, e in assignments.items()
        }
        # type-check the RAW expressions (when()/otherwise would coerce a
        # mismatched branch to the column type and fail at write time)
        probe = t.select(*[exprs[c].alias(c) for c in exprs])
        for f in probe.schema.fields:
            if f.dataType != table[f.name]:
                raise SchemaMismatch(
                    f"update changes column {f.name!r} from "
                    f"{table[f.name].simpleString()} to "
                    f"{f.dataType.simpleString()}; type changes need "
                    "evolve()"
                )
        out = t.select(
            *[
                F.when(cond, exprs[c]).otherwise(F.col(c)).alias(c)
                if c in exprs
                else F.col(c)
                for c in t.columns
            ]
        )
        expect = self._live_scope_rows(m, touched)
        return self._rewrite_commit(
            m, touched, out, "update",
            {"columns": sorted(assignments)}, expect_rows=expect,
        )

    def merge_into(
        self,
        source: DataFrame,
        on: list[str],
        when_matched: str = "update",
        when_not_matched: str = "insert",
        stats_bounds: dict | None = None,
        validate_source: bool = True,
    ) -> int:
        """MERGE INTO as a copy-on-write snapshot: upsert (or
        delete-matched) ``source`` rows into the table, rewriting only the
        files that contain a matching key.

        ``when_matched`` ∈ {'update', 'delete'} — 'update' replaces the
        whole matched row with the source row; ``when_not_matched`` ∈
        {'insert', 'ignore'}. ``source`` must carry every table column
        (checked against the table schema like an append).
        ``validate_source`` guards merge's cardinality rule with one
        aggregate: duplicate keys in ``source`` would make the rewrite
        nondeterministic (Delta/Iceberg raise the same way).

        ``stats_bounds`` scopes the match like a partition predicate in
        the ON clause: files pruned by it are treated as containing NO
        matches, so the bounds MUST cover every key the source can match
        — the caller's contract, exactly as with a partitioned MERGE.
        Keys are matched null-unsafe (SQL join semantics: NULL keys never
        match; they insert when inserting is on).

        Discovery is one key semi-join over the stats-pruned candidates
        (column-pruned to the key columns); the insert anti-join probes
        ONLY the touched files' keys — correct because any file containing
        a matching key IS touched by construction. Commits
        ``operation='merge'`` (breaks ``changes()`` consumers loudly,
        since matched rows were rewritten in place)."""
        from pyspark.sql import functions as F

        if when_matched not in ("update", "delete"):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        parent = self.current_sequence()
        m = self.snapshot()
        table_cols = [f.name for f in self._table_schema().fields]
        missing = sorted(set(table_cols) - set(source.columns))
        if missing:
            raise SchemaMismatch(f"merge source omits column(s) {missing}")
        bad_keys = sorted(set(on) - set(table_cols))
        if bad_keys:
            raise ValueError(f"merge keys not in table: {bad_keys}")
        src = source.select(*table_cols)  # extra source columns project away
        _check_append_schema(m["schema"], src.schema.jsonValue())
        if validate_source:
            dup = (
                src.groupBy(*on)
                .count()
                .filter(F.col("count") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    f"merge source has duplicate keys on {on}; the rewrite "
                    "would be nondeterministic — dedup the source first"
                )
        keys = src.select(*on).distinct()
        cand, _ = self._select_files(m, stats_bounds)
        # file identity must bind at the SCAN (post-join it loses the
        # file context) — __uri is the metadata column _read_paths
        # projects there, and it survives the DV anti-join that
        # input_file_name() would not
        probe = (
            self._read_paths(m, cand, with_position=True)
            .select(*on, F.col("__uri").alias("__p"))
            .join(keys, on, "left_semi")
        )
        touched = sorted(
            {
                self._local_path(r.p)
                for r in probe.select(F.col("__p").alias("p"))
                .distinct()
                .collect()
            }
        )
        t = self._read_paths(m, touched)
        marked = src.select(
            *[F.col(c).alias(f"__src_{c}") for c in table_cols]
        ).withColumn("__matched", F.lit(True))
        joined = t.join(
            marked,
            [t[k] == marked[f"__src_{k}"] for k in on],
            "left",
        )
        is_matched = F.coalesce(F.col("__matched"), F.lit(False))
        if when_matched == "update":
            rewritten = joined.select(
                *[
                    F.when(is_matched, F.col(f"__src_{c}"))
                    .otherwise(t[c])
                    .alias(c)
                    for c in table_cols
                ]
            )
        else:
            rewritten = joined.filter(~is_matched).select(
                *[t[c].alias(c) for c in table_cols]
            )
        n_matched = t.join(keys, on, "left_semi").count()
        n_inserted = 0
        if when_not_matched == "insert":
            ins = src.join(t.select(*on), on, "left_anti")
            n_inserted = ins.count()
            rewritten = rewritten.unionByName(ins)
        if not touched and n_inserted == 0:
            return parent
        touched_rows = self._live_scope_rows(m, touched)
        expect = (
            touched_rows + n_inserted
            if when_matched == "update"
            else touched_rows - n_matched + n_inserted
        )
        return self._rewrite_commit(
            m, touched, rewritten, "merge",
            {
                "rows_matched": int(n_matched),
                "rows_inserted": int(n_inserted),
                "when_matched": when_matched,
            },
            expect_rows=expect,
        )

    # -------------------------------------------------------------- reads
    def _select_files(
        self,
        manifest: dict,
        col_between: dict | None,
        col_eq: dict | None = None,
    ) -> tuple[list[str], int]:
        """(surviving file paths, files pruned) — see ``select_files``."""
        kept, pruned = select_files(self.root, manifest, col_between, col_eq)
        return [f["path"] for f in kept], pruned

    def read(
        self,
        sequence: int | None = None,
        col_between: dict | None = None,
        col_eq: dict | None = None,
        stats: dict | None = None,
    ) -> DataFrame:
        """The snapshot's rows; ``sequence`` time-travels, ``col_between``
        ({col: (lo, hi)}) prunes whole files by manifest min/max before
        Spark lists anything, ``col_eq`` ({col: value}) prunes by manifest
        bloom (point lookups). Pruning is a superset guard — apply the
        actual row filter on top (exactly like partition pruning).
        ``stats`` (a caller dict) receives ``files_opened`` /
        ``files_pruned`` so observers don't need a second scan_files
        pass over the manifest (r5).

        Reads against the MANIFEST schema (Iceberg-style): files written
        before an add-evolution null-fill the new column, files holding
        since-dropped columns project them away — no mergeSchema footer
        sweep, the metadata already knows the answer. Position deletes
        (merge-on-read) mask at scan time via ``_read_paths``."""
        manifest = self.snapshot(sequence)
        paths, pruned = self._select_files(manifest, col_between, col_eq)
        if stats is not None:
            stats["files_opened"] = len(paths)
            stats["files_pruned"] = pruned
        return self._read_paths(manifest, paths)

    def scan_files(
        self,
        sequence: int | None = None,
        col_between: dict | None = None,
        col_eq: dict | None = None,
    ) -> tuple[list[str], int]:
        """(surviving file paths, files pruned) — exposed so tests/plans
        can assert the manifest actually pruned."""
        return self._select_files(self.snapshot(sequence), col_between, col_eq)

    def changes(
        self, from_sequence: int, to_sequence: int | None = None
    ) -> DataFrame:
        """Rows appended strictly AFTER ``from_sequence`` (Iceberg's
        incremental append scan): the CDC feed an incremental consumer
        reads instead of re-scanning the table.

        ``from_sequence=0`` means "everything" (first catch-up of a new
        consumer). The change set is the union of each APPEND snapshot's
        added files (its file set minus its parent's) — per-snapshot, not
        an endpoint diff, so ``'replace'`` snapshots (compaction: same
        rows, fewer files) are skipped and consumption continues straight
        across them, like Iceberg's incremental append scan ignoring
        REWRITE snapshots. A commit that rewrote LOGICAL history
        (overwrite / rollback) raises ``IncrementalScanBreak`` — rows a
        consumer already folded into downstream state may no longer
        exist, and additive merges cannot subtract them; rebuild from
        ``read()``. Same break if an appended file was already GC'd by
        ``expire_snapshots`` (the consumer lagged past the retention
        window). No data diffing, no scan of pre-existing files; at
        100 TB a day's catch-up reads a day's files."""
        cur = self.current_sequence() if to_sequence is None else to_sequence
        new = [f["path"] for f in appended_files(self.root, from_sequence, cur)]
        schema = self._table_schema(cur)
        if not new:  # caught up (or only compactions/evolutions in range)
            return self.spark.createDataFrame([], schema)
        # read against the endpoint's table schema so a consumer crossing
        # an evolve() sees ONE consistent shape, not per-file drift
        return self.spark.read.schema(schema).parquet(*new)

    # ----------------------------------------------------- metadata tables
    def history(self) -> DataFrame:
        """Iceberg-style ``history``/``snapshots`` metadata table — the
        CURRENT ref's ancestry (like Iceberg's per-ref history), so a
        foreign branch's staged commits don't appear as main history."""
        rows = []
        cur = self.current_sequence()
        seq = cur
        while seq > 0:
            if not os.path.exists(self._manifest_path(seq)):
                break  # expired prefix
            m = self._load(seq)
            rows.append(
                Row(
                    sequence=m["sequence"],
                    parent=m["parent"],
                    operation=m["operation"],
                    n_files=len(m["files"]),
                    total_rows=m["total_rows"],
                    total_bytes=sum(f["bytes"] for f in m["files"]),
                    is_current=seq == cur,
                )
            )
            seq = int(m["parent"])
        rows.reverse()
        return self.spark.createDataFrame(
            rows,
            "sequence int, parent int, operation string, n_files int, "
            "total_rows long, total_bytes long, is_current boolean",
        )

    def files(self, sequence: int | None = None) -> DataFrame:
        """Iceberg-style ``files`` metadata table for one snapshot.
        ``rows`` is the footer count; ``live_rows`` subtracts outstanding
        position deletes (an UPPER bound per file while an equality
        delete is outstanding — eq entries carry no attribution);
        ``dseq`` is the file's data sequence number (equality-delete
        applicability: masked iff dseq <= the entry's anchor);
        ``partition`` is the hidden-partitioning tuple (JSON, null for
        pre-spec files)."""
        m = self.snapshot(sequence)
        live = live_rows_map(m)
        rows = [
            Row(
                path=f["path"],
                rows=f["rows"],
                live_rows=live[f["path"]],
                bytes=f["bytes"],
                dseq=path_dseq(f["path"]),
                partition=(
                    json.dumps(f["partition"], sort_keys=True)
                    if f.get("partition") is not None
                    else None
                ),
                min_json=json.dumps(f["min"], sort_keys=True),
                max_json=json.dumps(f["max"], sort_keys=True),
            )
            for f in m["files"]
        ]
        return self.spark.createDataFrame(
            rows,
            "path string, rows long, live_rows long, bytes long, "
            "dseq long, partition string, min_json string, max_json string",
        )

    def partitions(self, sequence: int | None = None) -> DataFrame:
        """Iceberg-style ``partitions`` metadata table: one row per
        partition tuple with file/row/byte totals, straight off the
        manifest (metadata-sized — no data is read). Files committed
        before the spec (or through raw ``commit_files``) group under the
        empty tuple ``{}``."""
        m = self.snapshot(sequence)
        agg: dict[str, list] = {}
        for f in m["files"]:
            key = json.dumps(f.get("partition") or {}, sort_keys=True)
            e = agg.setdefault(key, [0, 0, 0])
            e[0] += 1
            e[1] += f["rows"]
            e[2] += f["bytes"]
        rows = [
            Row(partition=k, n_files=v[0], rows=v[1], bytes=v[2])
            for k, v in sorted(agg.items())
        ]
        return self.spark.createDataFrame(
            rows, "partition string, n_files int, rows long, bytes long"
        )

    def drop_partitions(
        self, field: str, upto=None, equals=None, nulls: bool = False
    ) -> dict:
        """METADATA-ONLY partition retention (Iceberg's ``DROP
        PARTITION`` / partition-aligned ``DELETE``): publish a replace
        snapshot that omits every file whose recorded partition value for
        ``field`` is provably expired — ``equals`` drops one partition,
        ``upto`` drops all values <= it in the transform's order (the
        retention shape: ``drop_partitions("ts_day", upto="2024-01-02")``
        drops those whole days), ``nulls=True`` additionally drops
        null-partition files. No parquet is read or written — at 100 TB
        this is the difference between retention as an O(metadata) commit
        and retention as a table rewrite; rows not aligned to a partition
        boundary still need ``delete_where`` (CoW), and files with no
        recorded tuple are never dropped (superset guard).

        Old files stay readable via time travel until expire_snapshots.
        Returns ``{sequence, files_dropped, rows_dropped}``.
        """
        if (upto is None) == (equals is None) and not (
            upto is None and equals is None and nulls
        ):
            raise ValueError("pass exactly one of upto=/equals= (or nulls=True)")
        fields = {f.name: f for f in partition_fields(self.root)}
        if field not in fields:
            raise ValueError(
                f"{field!r} is not a partition field; spec has "
                f"{sorted(fields)}"
            )
        pf = fields[field]
        if upto is not None and pf.transform not in ORDERED_TRANSFORMS:
            raise ValueError(
                f"upto= needs an ordered transform; {pf.transform} is not "
                "(use equals=)"
            )
        # canonicalize the probe: accept either the partition-domain
        # string (what partitions() shows) or a source-domain value
        def canon(v):
            from workbook_exporter_fe_spark.sources.partitioning import (
                partition_value,
            )

            if pf.transform in ("day", "hour", "month") and not isinstance(
                v, str
            ):
                return partition_value(pf, v)
            if isinstance(v, str):
                return v
            return str(v)

        expected_parent = self.current_sequence()
        m = self.snapshot(expected_parent)
        keep, dropped = [], []
        for f in m["files"]:
            pv = (f.get("partition") or {}).get(field, _MISSING)
            drop = False
            if pv is _MISSING:
                drop = False  # no tuple recorded: cannot prove expiry
            elif pv is None:
                drop = nulls
            elif equals is not None:
                drop = pv == canon(equals)
            elif upto is not None:
                s, p = _as_domain(pf, pv, canon(upto))
                try:
                    drop = s <= p
                except TypeError:
                    drop = False
            (dropped if drop else keep).append(f)
        if not dropped:
            return {
                "sequence": expected_parent,
                "files_dropped": 0,
                "rows_dropped": 0,
            }
        live = live_rows_map(m)
        n_dropped = sum(live[f["path"]] for f in dropped)
        seq = commit_files(
            self.root,
            [],
            operation="delete",
            summary={
                "drop_partitions": {
                    "field": field,
                    **({"upto": canon(upto)} if upto is not None else {}),
                    **({"equals": canon(equals)} if equals is not None else {}),
                    **({"nulls": True} if nulls else {}),
                },
                "files_dropped": len(dropped),
                "rows_deleted": n_dropped,
            },
            parent=expected_parent,
            removed={f["path"] for f in dropped},
        )
        return {
            "sequence": seq,
            "files_dropped": len(dropped),
            "rows_dropped": n_dropped,
        }

    def overwrite_partitions(
        self, df: DataFrame, summary: dict | None = None,
        partitions=None,
    ) -> dict:
        """Iceberg-style DYNAMIC PARTITION OVERWRITE (r5): replace
        exactly the partitions ``df`` holds rows for, in ONE snapshot —
        metadata-only retirement of the replaced files plus an O(delta)
        write of the new rows. The 100 TB incremental-publish primitive:
        a continuous-aggregate refresh that touched 3 days × 5 sources
        rewrites 15 partitions, never the table (INSERT OVERWRITE with
        Hive dynamic-partition semantics, Iceberg's
        ``overwrite(byRowFilter=partition)`` shape).

        The touched-partition probe is the writer's OWN derived columns
        (partitioning.partition_columns), so the collected canonical
        strings match the manifest tuples bit-exactly — the same
        Spark-expr/Python-twin equivalence the pruning path pins.
        Superset guard: refuses when any live file predates the spec (no
        recorded tuple — it could hold rows in a replaced partition and
        proof-by-tuple is the whole point; ``compact()`` first).
        Commits ``operation='overwrite'``: incremental ``changes()``
        consumers break loudly, exactly like any history rewrite.

        ``partitions`` lists the tuples to replace (one value per spec
        field, in spec order) when the caller knows them, and saves the
        probe job. Same contract as the merges' ``touched=``: ``df`` must
        hold rows only in those partitions; a listed partition ``df`` has
        no rows for ends up empty.
        Returns {sequence, files_replaced, rows_replaced, partitions}.
        """
        fields = partition_fields(self.root)
        if not fields:
            raise ValueError(
                "overwrite_partitions needs a partition.spec table "
                "property (dynamic overwrite replaces BY partition)"
            )
        parent = self.current_sequence()
        if parent == 0:
            seq = self.commit(df, summary=dict(summary or {}))
            return {"sequence": seq, "files_replaced": 0,
                    "rows_replaced": 0, "partitions": 0}
        m = self.snapshot(parent)
        _check_append_schema(m["schema"], df.schema.jsonValue())
        untupled = [f["path"] for f in m["files"] if not f.get("partition")]
        if untupled:
            raise ValueError(
                f"{len(untupled)} live file(s) predate the partition "
                "spec (no recorded tuple) — overwrite_partitions cannot "
                "prove they miss the replaced partitions; compact() the "
                "table first"
            )
        from workbook_exporter_fe_spark.sources.partitioning import (
            partition_columns,
        )

        names = [f.name for f in fields]
        probe_rows = partitions
        if probe_rows is None:
            probe_rows = (
                df.select(*partition_columns(df, fields)).distinct().collect()
            )
        probes = {
            tuple(
                None if r[i] is None else str(r[i])
                for i in range(len(names))
            )
            for r in probe_rows
        }
        replaced = [
            f for f in m["files"]
            if tuple(
                (f.get("partition") or {}).get(n) for n in names
            ) in probes
        ]
        replaced_set = {f["path"] for f in replaced}
        replaced_rows = (
            self._live_scope_rows(m, sorted(replaced_set))
            if replaced_set else 0
        )
        seq = self._write_commit(
            df,
            prepare=lambda new_files: {"summary": {
                **dict(summary or {}),
                "dynamic_partition_overwrite": True,
                "partitions_replaced": len(probes),
                "files_replaced": len(replaced),
                "files_carried": len(m["files"]) - len(replaced),
                "rows_replaced": replaced_rows,
                "rows_written": sum(f["rows"] for f in new_files),
            }},
            operation="overwrite",
            parent=parent,
            removed=replaced_set,
        )
        return {
            "sequence": seq,
            "files_replaced": len(replaced),
            "rows_replaced": replaced_rows,
            "partitions": len(probes),
        }

    # ------------------------------------------------------------------ GC
    def row_diff(
        self, from_sequence: int | str, to_sequence: int | str | None = None,
        keys: list[str] | None = None,
    ) -> DataFrame:
        """Row-level CDC between two snapshots: the change feed `changes()`
        cannot give (that one covers append-only histories; this one works
        across overwrites, compactions, and corrections by comparing
        STATES). Returns ``to``'s schema plus ``_op`` ∈
        insert / delete / update_post, with deletes carrying the OLD row.

        ``keys`` identifies rows; non-key columns are compared for the
        update classification. Cost: one full outer join of the two
        snapshots on the keys — the state-diff floor; for append-only
        consumption use ``changes()`` (file-level, no join). Accepts tag
        names anywhere a sequence is accepted, so
        ``row_diff("v1", "v2", keys=…)`` is the audit "what changed
        between the corpus my model trained on and today's".
        """
        return state_diff(self.read(from_sequence), self.read(to_sequence), keys)

    # ---------------------------------------------------------------- tags
    def _tags_path(self) -> str:
        return os.path.join(self.meta, "refs.json")

    def tags(self) -> dict[str, int]:
        """Named refs: tag name → snapshot sequence."""
        p = self._tags_path()
        if not os.path.exists(p):
            return {}
        with open(p) as f:
            return {k: int(v) for k, v in json.load(f).items()}

    def tag(self, name: str, sequence: int | None = None) -> int:
        """Pin a name to a snapshot (default: the current one) — the data
        version a training run can cite and re-read forever: tagged
        snapshots are PROTECTED from expire_snapshots, so `read(tag=…)`
        reproduces the exact corpus later runs trained on, regardless of
        log maintenance. Re-tagging an existing name moves it (the tag is
        a ref, not a snapshot property)."""
        seq = self.current_sequence() if sequence is None else int(sequence)
        if seq < 1 or not os.path.exists(self._manifest_path(seq)):
            raise ValueError(f"no snapshot {seq} to tag (never committed, "
                             "or expired)")
        if name in self.branches():
            raise ValueError(f"{name!r} is already a branch")
        refs = self.tags()
        refs[name] = seq
        _atomic_write(self._tags_path(), json.dumps(refs, sort_keys=True))
        return seq

    def delete_tag(self, name: str) -> None:
        refs = self.tags()
        refs.pop(name, None)
        _atomic_write(self._tags_path(), json.dumps(refs, sort_keys=True))

    # ------------------------------------------------ branches (WAP flow)
    def _branches_path(self) -> str:
        return os.path.join(self.meta, "branches.json")

    def branches(self) -> dict[str, int]:
        """Named MUTABLE refs: branch name → head sequence. Unlike tags
        (frozen pins), a branch head advances with each ``commit(...,
        branch=name)``."""
        return branch_heads(self.root)

    def _branch_head(self, name: str) -> int:
        refs = self.branches()
        if name not in refs:
            raise ValueError(f"unknown branch {name!r}; have {sorted(refs)}")
        return refs[name]

    def branch(self, name: str, sequence: int | None = None) -> int:
        """Create a branch at ``sequence`` (default: current main head —
        may be 0 on an empty table, so WAP works from the first load).
        The Iceberg write-audit-publish flow::

            t.branch("audit")
            t.commit(batch, branch="audit")   # invisible to main readers
            checks(t.read("audit"))           # audit the staged state
            t.fast_forward("audit")           # publish atomically
            t.delete_branch("audit")

        Re-creating an existing name fails (delete it first) — a silent
        reset would orphan staged commits."""
        if name in self.branches():
            raise ValueError(f"branch {name!r} already exists")
        if name in self.tags():
            raise ValueError(f"{name!r} is already a tag")
        seq = self.current_sequence() if sequence is None else int(sequence)
        if seq > 0 and not os.path.exists(self._manifest_path(seq)):
            raise ValueError(f"no snapshot {seq} to branch from")
        refs = self.branches()
        refs[name] = seq
        _atomic_write(self._branches_path(), json.dumps(refs, sort_keys=True))
        return seq

    def delete_branch(self, name: str) -> None:
        """Drop the ref; its unpublished commits become expire-eligible
        garbage (the manifests stay until ``expire_snapshots``)."""
        refs = self.branches()
        refs.pop(name, None)
        _atomic_write(self._branches_path(), json.dumps(refs, sort_keys=True))

    def fast_forward(self, name: str) -> int:
        """Publish branch ``name``: advance main to the branch head iff
        main is an ancestor of it (Iceberg ``fast_forward``). If main
        moved since the branch forked, the staged commits were derived
        from a stale state — fail with ``SnapshotConflict`` (re-stage
        against the new main) rather than silently dropping main's rows.
        The walk only loads manifests NEWER than main's head (all
        branch-private), so expired shared history never blocks it."""
        head = self._branch_head(name)
        main = self.current_sequence()
        seq = head
        while seq > main:
            seq = int(self._load(seq)["parent"])
        if seq != main:
            raise SnapshotConflict(
                f"main advanced to {main}, which is not an ancestor of "
                f"branch {name!r} (head {head}) — re-stage the branch "
                "from the current main"
            )
        if head != main:
            _atomic_write(
                os.path.join(self.meta, "version-hint.text"), str(head)
            )
        return head

    def as_of(self, ts) -> int:
        """Iceberg's timestamp time travel: the largest sequence committed
        at or before ``ts`` (epoch seconds, datetime, or ISO string —
        naive ISO is UTC, like every CLI here). Use with ``read``:
        ``table.read(sequence=table.as_of("2026-01-01T00:00:00"))``.
        Raises if ``ts`` predates the first commit (nothing existed)."""
        import calendar
        import datetime as _dt

        if isinstance(ts, str):
            ts = _dt.datetime.fromisoformat(ts)
        if isinstance(ts, _dt.datetime):
            if ts.tzinfo is not None:
                ts = ts.timestamp()
            else:
                ts = calendar.timegm(ts.timetuple())
        best = 0
        seq = self.current_sequence()
        while seq > 0:  # main's ancestry; committed_at ascends along it
            p = self._manifest_path(seq)
            if not os.path.exists(p):  # expired prefix
                break
            m = self._load(seq)
            if m["committed_at"] <= ts:
                best = seq
                break
            seq = int(m["parent"])
        if best == 0:
            raise ValueError(
                f"no snapshot committed at or before {ts} (table starts "
                "later, or that history was expired)"
            )
        return best

    def resolve(self, ref: str) -> int:
        """Tag or branch name → sequence (error on unknown). Tags and
        branches share a namespace (``branch()``/``tag()`` enforce it),
        so there is never an ambiguous name."""
        refs = self.tags()
        if ref in refs:
            return refs[ref]
        branches = self.branches()
        if ref in branches:
            if branches[ref] == 0:
                raise ValueError(f"branch {ref!r} has no snapshots yet")
            return branches[ref]
        raise ValueError(
            f"unknown ref {ref!r}; tags {sorted(refs)}, "
            f"branches {sorted(branches)}"
        )

    def expire_snapshots(self, keep_last: int = 1) -> dict:
        """Drop manifests older than the kept window and delete any commit
        directory no retained snapshot references. Time travel shrinks to
        the kept window; the current snapshot is always retained."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        cur = self.current_sequence()
        if cur == 0:
            return {"expired_snapshots": 0, "deleted_dirs": 0}
        # main's retained window = the newest keep_last snapshots of the
        # CURRENT ref's ancestry (parent-chain, not a sequence range —
        # foreign branch commits interleave the numbering)
        main_chain: list[int] = []
        seq = cur
        while seq > 0 and os.path.exists(self._manifest_path(seq)):
            main_chain.append(seq)
            seq = int(self._load(seq)["parent"])
        protected = set(self.tags().values())  # named refs never expire
        # branches protect their whole surviving ancestry: a branch head
        # must stay readable AND fast-forwardable, and its private chain
        # (everything not on main) is unreachable any other way
        for head in self.branches().values():
            seq = head
            while seq > 0 and seq not in protected:
                if not os.path.exists(self._manifest_path(seq)):
                    break
                protected.add(seq)
                seq = int(self._load(seq)["parent"])
        keep_seqs = set(main_chain[:keep_last]) | protected
        live_dirs: set[str] = set()
        for seq in keep_seqs:
            if seq < 1 or not os.path.exists(self._manifest_path(seq)):
                continue
            kept_manifest = self._load(seq)
            for f in kept_manifest["files"]:
                # the COMMIT dir, not dirname(): partitioned files nest
                # hive-style subdirs inside the commit directory
                live_dirs.add(self._commit_dir_of(f["path"]))
            for d in kept_manifest.get("deletes") or []:
                for p in d["paths"]:  # delete vectors live in own dirs
                    live_dirs.add(self._commit_dir_of(p))
        expired = 0
        for seq in range(1, max_sequence(self.root) + 1):
            if seq in keep_seqs:
                continue
            p = self._manifest_path(seq)
            if os.path.exists(p):
                os.remove(p)
                expired += 1
        deleted = 0
        for name in sorted(os.listdir(self.data)):
            d = os.path.join(self.data, name)
            if not os.path.isdir(d):
                continue  # stray top-level files are remove_orphan_files' job
            if d not in live_dirs:
                shutil.rmtree(d)
                deleted += 1
        segs = self._gc_segments()
        return {
            "expired_snapshots": expired,
            "deleted_dirs": deleted,
            "expired_segments": segs,
        }

    def _gc_segments(self, grace_sec: float = 3600.0) -> int:
        """Delete file-list segment files no surviving manifest
        references. Grace-windowed like remove_orphan_files: a racing
        commit writes its segments BEFORE its manifest, so a fresh
        unreferenced segment may be a commit in flight, never garbage
        yet."""
        referenced: set[str] = set()
        names = os.listdir(self.meta)
        for n in names:
            if n.startswith("snap-") and n.endswith(".json"):
                raw = load_manifest_raw(self.root, int(n[5:-5]))
                referenced.update(
                    r["path"] for r in raw.get("file_segments") or []
                )
        now = time.time()
        removed = 0
        for n in names:
            if not (n.startswith("filelist-") and n.endswith(".json")):
                continue
            if n in referenced:
                continue
            p = os.path.join(self.meta, n)
            try:
                if now - os.path.getmtime(p) < grace_sec:
                    continue
                os.remove(p)
                removed += 1
            except OSError:
                pass
        return removed

    def remove_orphan_files(self, grace_sec: float = 3600.0) -> dict:
        """Delete parquet data files NO existing manifest references
        (Iceberg's RemoveOrphanFiles action): failed/retried task
        attempts and crashed commits leave complete-looking files inside
        otherwise-live commit directories, which ``expire_snapshots``'
        directory-level GC keeps forever — at 100 TB that garbage is
        real money. Only files older than ``grace_sec`` go: an in-flight
        commit writes its data BEFORE its manifest, so the grace window
        is what makes this safe to run beside live writers. Non-parquet
        markers (_SUCCESS, .crc) are never touched."""
        referenced: set[str] = set()
        for n in os.listdir(self.meta):
            if n.startswith("snap-") and n.endswith(".json"):
                man = self._load(int(n[5:-5]))
                for f in man["files"]:
                    referenced.add(os.path.abspath(f["path"]))
                for d in man.get("deletes") or []:
                    referenced.update(os.path.abspath(p) for p in d["paths"])
        now = time.time()
        removed = scanned = 0
        for dirpath, _dirs, files in os.walk(self.data):
            for fn in files:
                if not fn.endswith(".parquet"):
                    continue
                scanned += 1
                p = os.path.abspath(os.path.join(dirpath, fn))
                if p in referenced:
                    continue
                try:
                    if now - os.path.getmtime(p) < grace_sec:
                        continue
                    os.remove(p)
                    removed += 1
                except OSError:
                    pass  # raced a concurrent GC; the file is gone either way
                else:
                    # an orphan's sidecars are orphaned with it
                    for ext in (".bloom.json", ".ndv.json"):
                        try:
                            os.remove(p + ext)
                        except OSError:
                            pass
        seg_removed = self._gc_segments(grace_sec=grace_sec)
        return {
            "orphans_removed": removed,
            "files_scanned": scanned,
            "segments_removed": seg_removed,
        }
