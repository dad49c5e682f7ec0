"""Metadata-driven join planning: broadcast vs shuffle vs salt, decided
from SnapshotTable manifest stats alone — ZERO data scans.

The engine already computes exactly the inputs a cost-based planner
needs and stores them in the snapshot manifest: per-file row counts and
byte sizes (footer stats), live-row accounting through delete vectors
(``live_rows_map``), and per-file theta NDV sidecars unioned into a
table-level distinct count (``SnapshotTable.column_ndv``). This module
closes the loop: instead of the caller flagging ``broadcast=`` /
``skewed_keys=`` by hand, :func:`plan_join_strategy` picks the physical
join shape from those numbers, and :func:`auto_join` executes it.

Decision rules (the same order Spark's own CBO applies, made explicit):

1. **broadcast** — the smaller side's LIVE bytes fit under the
   broadcast threshold (default 64 MB, ~``spark.sql.autoBroadcastJoinThreshold``
   territory but sized for a real cluster's driver). At 100 TB this is
   the dimension-join fast path: no shuffle of the fact side at all.
2. **salt** — the big side has too FEW distinct join keys to fill the
   cluster: ``ndv(key) < parallelism × min_keys_per_slot``. A plain
   shuffle join hashes rows to at most ndv reducers, so a 1000-executor
   cluster would idle on ndv=50 keys regardless of AQE (AQE splits
   oversized partitions of ONE side; it cannot manufacture key
   parallelism for both). Salt buckets are sized so hot keys split into
   enough sub-keys to occupy the cluster: ``ceil(parallelism ×
   min_keys_per_slot / ndv)``, clamped to [2, 64]. Salting replicates
   the smaller side ×buckets, and that side is above the broadcast
   threshold by construction, so salt is taken only while
   ``small.bytes × buckets`` fits a replication budget (8 GB).
3. **shuffle** — plenty of keys, both sides big: the standard
   sort-merge/hash exchange is already the right plan; emitting hints
   would only fight AQE. Also the fallback when salting would replicate
   more than its budget.

NDV is an estimate (theta sketch, ~2% at the default lg_k); every
threshold here is an order-of-magnitude decision, so estimate error is
immaterial — the classic CBO argument (Selinger et al. 1979).

The whole decision reads manifests + O(files) sidecar blobs; the pinned
proof in tests/test_joinplan.py deletes every DATA file from disk and
plans anyway.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: most bytes a salted join may copy its replicated side into; past it a
#: plain shuffle, which moves each side once, is cheaper
REPLICATION_BUDGET_BYTES = 8 << 30


@dataclass(frozen=True)
class TableStats:
    """Planning inputs for one join side, all manifest-derived.

    ``rows``/``bytes`` are LIVE quantities (position-delete masked rows
    excluded; with outstanding equality deletes they are upper bounds —
    the conservative direction for broadcast decisions). ``ndv`` is the
    theta-union distinct count of the join key, or None when the table
    has no sketch sidecars for it."""

    rows: int
    bytes: int
    ndv: float | None


def stats_for(table, key: str, sequence: int | None = None) -> TableStats:
    """Manifest-only stats for one join side of a SnapshotTable.

    Reads the manifest and (for NDV) the per-file sketch sidecars —
    never a data file. Bytes are footer sizes scaled by each file's live
    fraction, so a heavily-masked table doesn't look broadcast-unsafe
    forever."""
    from workbook_exporter_fe_spark.sources.snapshots import live_rows_map

    m = table.snapshot(sequence)
    live = live_rows_map(m)
    rows = sum(live.values())
    total_bytes = 0
    for f in m["files"]:
        fr = int(f["rows"]) or 1
        frac = live.get(f["path"], fr) / fr
        total_bytes += int(int(f.get("bytes", 0)) * frac)
    return TableStats(
        rows=rows, bytes=total_bytes, ndv=table.column_ndv(key, sequence)
    )


def stats_for_parquet(path: str, key: str | None = None) -> TableStats:
    """Footer-only stats for a PLAIN parquet dir (no snapshot manifest):
    rows and bytes from each file's parquet footer via pyarrow — still
    zero data-page reads, one small footer read per file, no Spark job.
    NDV is unavailable without sketch sidecars (``ndv=None`` — the
    planner then never salts blind, falling through to shuffle), so the
    broadcast decision is the one this variant powers: the pipeline's
    hive-fallback merge paths (merge_upsert_path and friends) can pick
    the hint from footers instead of caller flags."""
    import glob as _glob

    import pyarrow.parquet as pq

    rows = 0
    bytes_ = 0
    for f in _glob.glob(os.path.join(path, "**", "*.parquet"),
                        recursive=True):
        rows += pq.ParquetFile(f).metadata.num_rows
        bytes_ += os.path.getsize(f)
    return TableStats(rows=rows, bytes=bytes_, ndv=None)


def plan_join_strategy(
    left: TableStats,
    right: TableStats,
    *,
    parallelism: int = 200,
    broadcast_bytes: int = 64 << 20,
    min_keys_per_slot: float = 4.0,
    max_salt_buckets: int = 64,
) -> dict:
    """Pick the physical join shape from manifest stats alone.

    Returns ``{"strategy": "broadcast"|"salt"|"shuffle",
    "build_side": "left"|"right"|None, "salt_buckets": int|None,
    "why": str}``. Pure function of the stats — no Spark, no I/O —
    so the decision is loggable and testable."""
    small, side = (
        (right, "right") if right.bytes <= left.bytes else (left, "left")
    )
    if small.bytes <= broadcast_bytes:
        return {
            "strategy": "broadcast",
            "build_side": side,
            "salt_buckets": None,
            "why": (
                f"{side} side is {small.bytes >> 20} MB live "
                f"(≤ {broadcast_bytes >> 20} MB threshold)"
            ),
        }
    big = left if side == "right" else right
    ndv = big.ndv
    need_keys = parallelism * min_keys_per_slot
    if ndv is not None and ndv < need_keys:
        buckets = max(2, min(max_salt_buckets, -(-int(need_keys) // max(int(ndv), 1))))
        replicated = small.bytes * buckets
        if replicated <= REPLICATION_BUDGET_BYTES:
            return {
                "strategy": "salt",
                "build_side": None,
                "salt_buckets": buckets,
                "why": (
                    f"big side ndv≈{ndv:.0f} < {need_keys:.0f} "
                    f"(parallelism {parallelism} × {min_keys_per_slot}/slot): "
                    f"too few keys to fill the cluster — salt ×{buckets}"
                ),
            }
        why = (
            f"big side ndv≈{ndv:.0f} is low, but salting ×{buckets} would "
            f"replicate {replicated >> 20} MB "
            f"(> {REPLICATION_BUDGET_BYTES >> 20} MB budget)"
        )
    else:
        why = (
            "both sides above broadcast threshold and key NDV "
            f"({'unknown' if ndv is None else format(ndv, '.0f')}) "
            "spreads a plain exchange"
        )
    return {
        "strategy": "shuffle",
        "build_side": None,
        "salt_buckets": None,
        "why": why,
    }


def auto_join(
    left: DataFrame,
    right: DataFrame,
    keys: list[str],
    left_stats: TableStats,
    right_stats: TableStats,
    how: str = "inner",
    **plan_kw,
) -> tuple[DataFrame, dict]:
    """Execute the join the planner picked; returns (result, plan).

    Result rows are identical across strategies (salted_join is pinned
    row-identical to the plain join; broadcast is a hint) — only the
    physical shuffle layout differs."""
    plan = plan_join_strategy(left_stats, right_stats, **plan_kw)
    if plan["strategy"] == "broadcast":
        if plan["build_side"] == "right":
            return left.join(F.broadcast(right), keys, how), plan
        # broadcasting the LEFT of an outer join would flip semantics;
        # only inner joins are side-symmetric
        if how == "inner":
            return F.broadcast(left).join(right, keys, how), plan
        return left.join(right, keys, how), plan
    if plan["strategy"] == "salt":
        from workbook_exporter_fe_spark.operators.skewjoin import salted_join

        # salted_join salts the LEFT side and REPLICATES the right side
        # ×buckets — the big low-NDV side must be on the left or the
        # replication multiplies the big table. When the big side is the
        # right, swap for inner joins (side-symmetric; restore column
        # order after); any shape salting can't express degrades to the
        # plain shuffle join — NEVER silently change join semantics.
        big_is_right = right_stats.bytes > left_stats.bytes
        if how == "inner" and big_is_right:
            out_cols = keys + [
                c for c in left.columns if c not in keys
            ] + [c for c in right.columns if c not in keys]
            swapped = salted_join(
                right, left, keys, salt_buckets=plan["salt_buckets"],
                how="inner",
            )
            return swapped.select(*out_cols), plan
        if how in ("inner", "left") and not big_is_right:
            return (
                salted_join(
                    left, right, keys,
                    salt_buckets=plan["salt_buckets"], how=how,
                ),
                plan,
            )
        plan = {**plan, "strategy": "shuffle",
                "why": plan["why"] + " (degraded to shuffle: salt "
                "cannot express this side/how combination)"}
        return left.join(right, keys, how), plan
    return left.join(right, keys, how), plan
