"""Merge-upsert and anti-join-vs-state — the reference's incremental core.

The reference's one real optimization is incremental idempotent processing:
anti-join each row against the existing output (`ip_exists_in_yaml`,
/root/reference/workbook_exporter-fe.py:1741-1754, SURVEY §2 O15) and
merge-upsert new entries into it (`write_yaml`, :1758-1767, O19). Here that
becomes set-based DataFrame ops plus a MERGE against a parquet table on
disk.

Scale design: `merge_upsert` is a left-anti join (existing minus updated
keys) + union. When the *new* side is small relative to existing (the usual
incremental case) we broadcast it, so the merge never shuffles the big
existing table. The pipeline's tier tables are flat, so its merges read
and rewrite the whole table.

Every rewrite of a parquet table goes through ``_swap``: it stages the
table in ``<path>.staging``, moves the live one into ``<path>.old``,
promotes the staged one and commits by renaming ``<path>.old`` away. The
next swap after a crash rolls the table back to its pre-swap state first
— fully, because the additive merge is not idempotent."""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.operators.tiers import AGG_COLS, combine_partials


def anti_join_state(new: DataFrame, existing: DataFrame, keys: list[str]) -> DataFrame:
    """Rows of `new` whose key is NOT already in `existing` (O15, set-based).

    The existing-keys side is deduplicated; Catalyst/AQE decides from
    runtime sizes whether to broadcast it.
    """
    keys_side = existing.select(*keys).dropDuplicates(keys)
    return new.join(keys_side, keys, "left_anti")


def merge_upsert(
    existing: DataFrame,
    new: DataFrame,
    keys: list[str],
    replaced: DataFrame | None = None,
) -> DataFrame:
    """Insert-or-replace per key: rows in `new` win (O19).

    Equivalent to `MERGE INTO existing USING new ON keys WHEN MATCHED THEN
    UPDATE * WHEN NOT MATCHED THEN INSERT *` — idempotent: merging the same
    `new` twice yields the same table.

    The new-keys side is broadcast (the incremental case: a small batch
    against a big table), so the merge never shuffles the big table.

    ``replaced``, the key tuples ``new`` holds, stands in for ``new``'s
    own keys on the anti-join side, so an expensive ``new`` (an encoding
    UDF) is evaluated once. Existing rows under a key in ``replaced``
    that ``new`` lacks are dropped.
    """
    new = new.select(*existing.columns)
    keys_side = (new if replaced is None else replaced).select(*keys)
    kept = existing.join(F.broadcast(keys_side.dropDuplicates(keys)), keys, "left_anti")
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


def _rollback(path: str) -> None:
    """Undo a swap on ``path`` that did not commit. If the swap reached
    its move aside, ``<path>.old/_table`` holds the pre-swap table, or an
    empty file if there was none: whatever was promoted is removed and
    the table goes back. Then the staging dir is dropped."""
    old, staging = path + ".old", path + ".staging"
    if os.path.isdir(old):
        aside = os.path.join(old, "_table")
        if os.path.exists(aside):
            if os.path.exists(path):
                shutil.rmtree(path)
            if os.path.isdir(aside):
                os.rename(aside, path)
        shutil.rmtree(old)
    if os.path.exists(staging):
        shutil.rmtree(staging)


def _swap(path: str, write) -> None:
    """Crash-safely replace the parquet table at ``path``.

    ``write(staging)`` writes the new table; reads of ``path`` belong
    inside it, after the rollback of an interrupted swap. A write that
    stages nothing swaps nothing."""
    _rollback(path)
    staging, old = path + ".staging", path + ".old"
    write(staging)
    if not os.path.exists(staging):
        return
    os.makedirs(old)
    aside = os.path.join(old, "_table")
    if os.path.exists(path):
        os.rename(path, aside)
    else:
        open(aside, "w").close()
    os.rename(staging, path)
    # commit: with no <path>.old left nothing rolls back
    os.rename(old, staging)
    shutil.rmtree(staging, ignore_errors=True)


def in_partitions(col: str, vals) -> F.Column:
    """``col`` is one of ``vals``; a None in ``vals`` matches a null
    ``col`` too, which ``isin`` alone never does."""
    cond = F.col(col).isin([v for v in vals if v is not None])
    return cond | F.col(col).isNull() if None in vals else cond


def _stored_schema(path: str, new: DataFrame):
    """The schema to read the table at ``path`` with: ``new``'s column
    types in the stored order — one stored file's columns, then the
    ``col=value`` segments of its directory (an older ``source=`` store),
    as Spark's partition discovery orders them. That file's footer is
    checked on the driver, so a column only the stored files hold raises
    instead of being silently dropped, and no job infers the schema."""
    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    cols = new.columns
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


def _merge_path(spark, path, new, keys, combine) -> DataFrame | None:
    """``combine`` the table at ``path`` with ``new`` and swap the result
    in as one flat table (an older ``source=`` store goes flat here).

    The table is read with ``new``'s schema (``_stored_schema``), so no
    job infers it. Returns the merged table, or None if the table is
    new."""
    schema = None

    def write(staging):
        nonlocal schema
        merged = new
        if os.path.exists(path):
            schema = _stored_schema(path, new)
            existing = spark.read.schema(schema).parquet(path)
            merged = combine(existing, new, keys).select(*existing.columns)
        merged.write.mode("overwrite").parquet(staging)

    _swap(path, write)
    return None if schema is None else spark.read.schema(schema).parquet(path)


def merge_tier_additive_path(
    spark, path: str, partial: DataFrame, keys: list[str],
) -> DataFrame | None:
    """Additive tier merge (``merge_tier_additive``) against a parquet
    tier table on disk, rewritten whole like ``merge_upsert_path``."""
    return _merge_path(spark, path, partial, keys, merge_tier_additive)


def merge_upsert_path(
    spark, path: str, new: DataFrame, keys: list[str],
    replaced: DataFrame | None = None,
) -> DataFrame | None:
    """MERGE against a parquet table on disk: the whole table is read,
    merged (``merge_upsert``; ``replaced`` is its) and swapped in one
    crash-safe swap. Returns the merged table like ``_merge_path``."""
    def combine(existing, rows, keys):
        return merge_upsert(existing, rows, keys, replaced=replaced)

    return _merge_path(spark, path, new, keys, combine)
