"""Merge-upsert and anti-join-vs-state — the reference's incremental core.

The reference's one real optimization is incremental idempotent processing:
anti-join each row against the existing output (`ip_exists_in_yaml`,
/root/reference/workbook_exporter-fe.py:1741-1754, SURVEY §2 O15) and
merge-upsert new entries into it (`write_yaml`, :1758-1767, O19). Here that
becomes set-based DataFrame ops plus an Iceberg-style MERGE with a
hive-parquet fallback (SURVEY §7: no Iceberg jar in this sandbox — the
``TableIO`` seam keeps both backends behind one API).

Scale design: `merge_upsert` is a left-anti join (existing minus updated
keys) + union. When the *new* side is small relative to existing (the usual
incremental case) we broadcast it, so the merge never shuffles the big
existing table. Tier tables are partitioned by source, so a merge reads and
rewrites only the ``source=`` partitions its batch touches.

Every rewrite of a hive tier table goes through ``_swap``: it stages the
data in ``<path>.staging``, moves each live unit (a ``source=`` dir, or the
whole table for an unscoped write) into ``<path>.old``, promotes the staged
one and commits by renaming ``<path>.old`` away. The next swap after a
crash rolls the table back to its pre-swap state first — fully, because
the additive merge is not idempotent.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.tiers import AGG_COLS, combine_partials


def anti_join_state(
    new: DataFrame,
    existing: DataFrame,
    keys: list[str],
    existing_stats=None,
    broadcast_bytes: int = 64 << 20,
) -> DataFrame:
    """Rows of `new` whose key is NOT already in `existing` (O15, set-based).

    The existing-keys side is deduplicated and broadcast when small.
    Without stats, Catalyst/AQE decides from runtime sizes; pass
    ``existing_stats`` (operators/joinplan.TableStats, manifest-derived)
    and the broadcast hint is decided from METADATA before any scan —
    the r5 stats→planning loop (VERDICT r4 item #2).
    """
    keys_side = existing.select(*keys).dropDuplicates(keys)
    if existing_stats is not None and existing_stats.bytes <= broadcast_bytes:
        keys_side = F.broadcast(keys_side)
    return new.join(keys_side, keys, "left_anti")


def merge_upsert(
    existing: DataFrame,
    new: DataFrame,
    keys: list[str],
    new_stats=None,
    broadcast_bytes: int = 64 << 20,
    replaced: DataFrame | None = None,
) -> DataFrame:
    """Insert-or-replace per key: rows in `new` win (O19).

    Equivalent to `MERGE INTO existing USING new ON keys WHEN MATCHED THEN
    UPDATE * WHEN NOT MATCHED THEN INSERT *` — idempotent: merging the same
    `new` twice yields the same table.

    The new-keys side broadcasts by default (the usual incremental case:
    a small batch against a big table). With ``new_stats`` (manifest-
    derived TableStats) the hint is dropped when the batch is genuinely
    big — forcing a 100 GB broadcast would OOM the driver; the plain
    exchange is correct there.

    ``replaced``, the key tuples ``new`` holds, stands in for ``new``'s
    own keys on the anti-join side, so an expensive ``new`` (an encoding
    UDF) is evaluated once. Existing rows under a key in ``replaced``
    that ``new`` lacks are dropped.
    """
    new = new.select(*existing.columns)
    keys_side = (new if replaced is None else replaced).select(*keys)
    keys_side = keys_side.dropDuplicates(keys)
    if new_stats is None or new_stats.bytes <= broadcast_bytes:
        keys_side = F.broadcast(keys_side)
    kept = existing.join(keys_side, keys, "left_anti")
    return kept.unionByName(new)


def merge_tier_additive(existing: DataFrame, partial: DataFrame, keys: list[str]) -> DataFrame:
    """Additive merge of DECOMPOSABLE tier aggregates (continuous-aggregate
    refresh): when an incremental batch contributes PARTIAL rows for a
    bucket that already has rows on disk, the decomposable columns combine
    (``tiers.combine_partials``) — key-replace (`merge_upsert`) would
    silently drop the prior partial. This is the batch analog of
    re-aggregating a tier upward: the same combine rule, applied across
    batches instead of across buckets. Shuffles only on the tier keys; both sides are tier-sized
    (one row per (source, bucket)), orders of magnitude below tier-0.
    """
    both = existing.select(*keys, *AGG_COLS).unionByName(partial.select(*keys, *AGG_COLS))
    return combine_partials(both.groupBy(*keys))


#: name of the whole-table unit inside ``<path>.old`` (partition units
#: are named by their ``col=value`` dir, so the two cannot collide)
_TABLE = "_table"


def _rollback(path: str) -> None:
    """Undo a swap on ``path`` that did not commit. ``<path>.old`` holds,
    per unit the swap reached, its pre-swap dir, or an empty file if the
    unit did not exist: whatever was promoted there is removed and the
    dir goes back. Then the staging dir is dropped."""
    old = path + ".old"
    if os.path.isdir(old):
        for name in os.listdir(old):
            live = path if name == _TABLE else os.path.join(path, name)
            if os.path.exists(live):
                shutil.rmtree(live)
            if os.path.isdir(os.path.join(old, name)):
                os.rename(os.path.join(old, name), live)
        shutil.rmtree(old)
    if os.path.exists(path + ".staging"):
        shutil.rmtree(path + ".staging")


def _swap(path: str, write, scoped: bool = False) -> None:
    """Crash-safely replace data of the parquet table at ``path``.

    ``write(staging)`` writes the new data; reads of ``path`` belong
    inside it, after the rollback of an interrupted swap. With ``scoped``
    each staged ``col=value`` dir replaces its namesake and the other
    partitions keep their files; otherwise the staged dir replaces the
    whole table. A write that stages nothing swaps nothing."""
    _rollback(path)
    staging, old = path + ".staging", path + ".old"
    scoped = scoped and os.path.exists(path)
    if scoped and any(f.endswith(".parquet") for f in os.listdir(path)):
        raise ValueError(
            f"{path} holds unpartitioned parquet files; a partition-scoped "
            "write would mix layouts"
        )
    write(staging)
    if not os.path.exists(staging):
        return
    units = [(staging, path, _TABLE)]
    if scoped:
        units = [(os.path.join(staging, d), os.path.join(path, d), d)
                 for d in os.listdir(staging) if os.path.isdir(os.path.join(staging, d))]
    os.makedirs(old)
    for staged, live, name in units:
        aside = os.path.join(old, name)
        if os.path.exists(live):
            os.rename(live, aside)
        else:
            open(aside, "w").close()
        os.rename(staged, live)
    if os.path.exists(staging):  # scoped: only the writer's markers remain
        shutil.rmtree(staging)
    # commit: with no <path>.old left nothing rolls back
    os.rename(old, staging)
    shutil.rmtree(staging, ignore_errors=True)


def in_partitions(col: str, vals) -> F.Column:
    """``col`` is one of ``vals``; a None in ``vals`` matches the null
    partition (the ``__HIVE_DEFAULT_PARTITION__`` dir) too."""
    cond = F.col(col).isin([v for v in vals if v is not None])
    return cond | F.col(col).isNull() if None in vals else cond


def _stored_schema(path: str, new: DataFrame, partition_col: str | None):
    """The schema to read the table at ``path`` with: ``new``'s column
    types in the stored order — one stored file's columns, then the
    partition columns of its directory, as Spark's partition discovery
    orders them. That file's footer is checked on the driver, so a
    column only the stored files hold raises instead of being silently
    dropped, and no job infers the schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    cols = [c for c in new.columns if c != partition_col]
    cols += [partition_col] if partition_col else []
    for d, dirs, files in os.walk(path):
        dirs.sort()
        parts = sorted(f for f in files
                       if f.endswith(".parquet") and not f.startswith((".", "_")))
        if parts:
            stored = pq.read_schema(os.path.join(d, parts[0])).names + [
                seg.split("=", 1)[0]
                for seg in os.path.relpath(d, path).split(os.sep) if "=" in seg
            ]
            if sorted(stored) != sorted(cols):
                raise ValueError(
                    f"{path} stores columns {stored}, the merged rows have "
                    f"{cols}; a merge would drop or null-fill the difference"
                )
            cols = stored
            break
    return StructType([new.schema[c] for c in cols])


def _merge_path(spark, path, new, keys, partition_col, combine,
                touched=None) -> DataFrame | None:
    """``combine`` the partitions of ``path`` that ``new`` touches (the
    whole table without ``partition_col``) with ``new``; swap them.
    ``touched`` lists those partition values when the caller knows them;
    it must hold every value in ``new`` (a missing one would be swapped
    out with only its new rows). Without it one job finds them.

    The table is read with ``new``'s schema (``_stored_schema``), so no
    job infers it. Returns the merged table, or None if the table is
    new."""
    schema = None

    def write(staging):
        nonlocal schema
        merged = new
        if os.path.exists(path):
            schema = _stored_schema(path, new, partition_col)
            existing = spark.read.schema(schema).parquet(path)
            if partition_col is not None:
                # prune to the partitions `new` touches; the filter prunes
                # the scan at the source
                vals = touched
                if vals is None:
                    vals = [r[0] for r in new.select(partition_col).distinct().collect()]
                existing = existing.filter(in_partitions(partition_col, vals))
            merged = combine(existing, new, keys).select(*existing.columns)
        w = merged.write.mode("overwrite")
        (w.partitionBy(partition_col) if partition_col else w).parquet(staging)

    _swap(path, write, scoped=partition_col is not None)
    return None if schema is None else spark.read.schema(schema).parquet(path)


def merge_tier_additive_path(
    spark, path: str, partial: DataFrame, keys: list[str],
    partition_col: str | None = "source", touched: list | None = None,
) -> DataFrame | None:
    """Additive tier merge against a parquet tier table on disk —
    partition-scoped like ``merge_upsert_path``: only partitions present in
    the incremental batch are read, combined, and written over."""
    return _merge_path(spark, path, partial, keys, partition_col,
                       merge_tier_additive, touched)


def merge_upsert_path(
    spark, path: str, new: DataFrame, keys: list[str],
    partition_col: str | None = None, touched: list | None = None,
    replaced: DataFrame | None = None,
) -> DataFrame | None:
    """MERGE against a parquet table on disk (hive-style fallback backend).

    With ``partition_col`` (one of ``keys``, e.g. ``source``) the table is
    hive-partitioned and the merge is PARTITION-SCOPED: only the
    partitions present in ``new`` are read, merged, and swapped — untouched
    partition directories are never rewritten (their files keep their
    mtimes), which is the `replaceWhere` shape a 100 TB merge needs instead
    of staging the whole table. A partitioned merge into a table holding
    unpartitioned files raises. Without ``partition_col`` the whole table
    is read, merged and swapped. ``touched``, when given, lists the
    partition values ``new`` holds (a superset is fine) and saves the job
    that would find them; ``replaced`` is ``merge_upsert``'s. With an
    Iceberg catalog configured either shape is a single
    ``spark.sql("MERGE INTO ...")`` — gated behind the same signature
    (sources/tableio.py). Returns the merged table like ``_merge_path``.
    """
    def combine(existing, rows, keys):
        return merge_upsert(existing, rows, keys, replaced=replaced)

    return _merge_path(spark, path, new, keys, partition_col, combine,
                       touched)
