#!/usr/bin/env python
"""CLI entry point: the store's periodic maintenance pass in one command.

A continuously-ingesting tier store accumulates three kinds of debt, each
with an existing engine operator; this CLI is the cron-able wrapper that
applies them together and prints one JSON report:

- **small files** in hive-partitioned tier tables (every incremental
  merge adds a file per touched partition) → `compact_partitions`
  (sources/tableio.py) rewrites only partitions holding >= min-files.
- **snapshot-log growth** in SnapshotTable roots (one manifest + commit
  dir per micro-batch; footer-dominated scans, unbounded time travel) →
  `SnapshotTable.compact()` (REPLACE snapshot, optional sort for stats
  pruning) + `expire_snapshots(keep_last)`.
- **aged-out buckets** past their tier's TTL → `expire_tiers`
  (operators/retention.py), downsample-before-expire with recorded
  cutoffs so a later `--verify` stays scoped to retained ranges.

Usage:

    python run_maintenance.py --tiers /tmp/t --compact
    python run_maintenance.py --tiers /tmp/t \
        --retention tier1='30 days',tier2='180 days',tier3='720 days' --verify
    python run_maintenance.py --snapshot-table /tmp/tbl \
        --compact-snapshots --sort-by source,event_ts --expire --keep-last 3
    python run_maintenance.py --snapshot-table /tmp/tbl \
        --delete-where "event_ts < timestamp'2021-01-01'" \
        --delete-bounds "event_ts<=2021-01-01" --compact-snapshots
    python run_maintenance.py --snapshot-table /tmp/t/events \
        --compact-snapshots --expire --keep-last 3

The last form folds a tier store's events table (``{out}/events``, a
SnapshotTable every ingest batch upserts into): each batch leaves one
equality delete of its (source, doc_id) keys that every read of the
table anti-joins, and ``--compact-snapshots`` rewrites the live rows and
retires those deletes.

Every action is itself crash-safe (staged swaps / manifest-last commits),
so a maintenance run interrupted at any point leaves a readable store and
can simply be re-run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

TIER_DIRS = ("tier1", "tier2", "tier3")


def _parse_policies(text: str) -> dict[str, str]:
    """tier1='30 days',tier2='180 days' → {'tier1': '30 days', ...}."""
    out: dict[str, str] = {}
    for part in text.split(","):
        name, _, ttl = part.partition("=")
        name, ttl = name.strip(), ttl.strip().strip("'\"")
        if not name or not ttl:
            raise ValueError(f"bad retention spec {part!r}")
        if not ttl.lower().startswith("interval"):
            ttl = f"interval {ttl}"
        out[name] = ttl
    return out


def _bound_value(v: str):
    """Numeric bounds must compare against numeric manifest stats;
    timestamps/strings stay strings (footer stats store isoformat)."""
    v = v.strip()
    for cast in (int, float):
        try:
            return cast(v)
        except ValueError:
            pass
    return v


def _parse_bounds(text: str | None) -> dict | None:
    """``col<=V,col2>=W`` → the {col: (lo, hi)} shape read() prunes with."""
    if not text:
        return None
    out: dict = {}
    for part in text.split(","):
        if "<=" in part:
            col, _, v = part.partition("<=")
            lo, hi = out.get(col.strip(), (None, None))
            out[col.strip()] = (lo, _bound_value(v))
        elif ">=" in part:
            col, _, v = part.partition(">=")
            lo, hi = out.get(col.strip(), (None, None))
            out[col.strip()] = (_bound_value(v), hi)
        else:
            raise ValueError(f"bad bound {part!r} (use col<=V or col>=V)")
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tiers", help="tier-store out dir (tier1/tier2/tier3)")
    ap.add_argument(
        "--compact", action="store_true",
        help="compact multi-file partitions of each tier table",
    )
    ap.add_argument("--target-rows", type=int, default=1_000_000)
    ap.add_argument("--min-files", type=int, default=2)
    ap.add_argument(
        "--retention",
        help="tier TTLs, e.g. tier1='30 days',tier2='180 days',tier3='720 days'",
    )
    ap.add_argument(
        "--verify", action="store_true",
        help="after maintenance, run the cross-tier invariant audit "
        "(scoped to retained ranges); non-zero exit on failure",
    )
    ap.add_argument(
        "--snapshot-table", action="append", default=[],
        help="SnapshotTable root to maintain (repeatable)",
    )
    ap.add_argument(
        "--compact-snapshots", action="store_true",
        help="rewrite each snapshot table's live files (REPLACE snapshot)",
    )
    ap.add_argument("--target-file-mb", type=int, default=128)
    ap.add_argument(
        "--sort-by", help="comma-separated sort for snapshot compaction "
        "(restores min/max-stats file pruning)",
    )
    ap.add_argument(
        "--zorder", help="comma-separated columns for Z-order (Morton) "
        "clustering compaction — multi-column min/max file skipping; "
        "mutually exclusive with --sort-by",
    )
    ap.add_argument(
        "--compact-bounds",
        help="scope --compact-snapshots to files whose stats intersect "
        "these bounds (rewrite_data_files(where): compact yesterday's "
        "window, not the table), e.g. bucket_ts<=2024-01-02",
    )
    ap.add_argument(
        "--bloom-columns",
        help="set the table property enabling manifest bloom filters on "
        "these comma-separated columns for every future commit (equality "
        "file skipping; applied before compaction so the rewrite blooms)",
    )
    ap.add_argument(
        "--ndv-columns",
        help="set the table property enabling per-file NDV theta-sketch "
        "sidecars on these comma-separated columns for future commits",
    )
    ap.add_argument(
        "--analyze",
        help="report the table-level distinct-count estimate for these "
        "comma-separated columns (metadata-only: unions the per-file "
        "sketches, scans no data)",
    )
    ap.add_argument(
        "--partition-spec",
        help="set the hidden-partitioning spec table property for future "
        "commits, comma-separated transforms e.g. "
        "'day(ts),bucket(16;doc_id),source' (use ';' between a "
        "transform's N and its column — ',' separates spec entries)",
    )
    ap.add_argument(
        "--drop-partitions",
        help="metadata-only partition retention: 'field<=VALUE' drops "
        "every partition up to and including VALUE in the transform's "
        "order, 'field=VALUE' drops one (e.g. ts_day<=2024-01-02); no "
        "data is read or written",
    )
    ap.add_argument(
        "--expire", action="store_true",
        help="expire snapshot manifests + unreferenced commit dirs",
    )
    ap.add_argument("--keep-last", type=int, default=3)
    ap.add_argument(
        "--remove-orphans", action="store_true",
        help="delete parquet files no manifest references (failed task "
        "attempts, crashed commits) — runs AFTER expiry so just-expired "
        "manifests no longer pin their files",
    )
    ap.add_argument(
        "--orphan-grace-min", type=float, default=60.0,
        help="only orphans older than this are deleted (in-flight commits "
        "write data before their manifest)",
    )
    ap.add_argument(
        "--delete-where",
        help="row-level retention over each snapshot table: SQL predicate "
        "deleted as one copy-on-write snapshot (only files containing a "
        "match are rewritten); runs BEFORE compaction/expiry",
    )
    ap.add_argument(
        "--delete-mode", choices=("cow", "mor"), default="cow",
        help="cow rewrites the touched files; mor writes a position "
        "delete vector instead (no data files touched — reads mask at "
        "scan time; a later compaction materializes the deletes)",
    )
    ap.add_argument(
        "--delete-bounds",
        help="manifest-stats pruning hint for --delete-where, e.g. "
        "col<=2021-01-01 or col>=X,col2<=Y (skips files whose min/max "
        "exclude the bound before any scan)",
    )
    ap.add_argument(
        "--delete-eq",
        help="key-based DELETE (Iceberg v2 equality delete): "
        "'col:v1,v2,...' — commits ONLY the key values, never scans the "
        "table; reads anti-join the keys against pre-delete files",
    )
    ap.add_argument(
        "--auto", action="store_true",
        help="metadata-only health check + threshold policy: compact on "
        "small-file buildup / masked-row fraction / outstanding delete "
        "entries; with --keep-last also expire + orphan-scan "
        "(sources/maintenance.py auto_maintain)",
    )
    ap.add_argument("--auto-small-ratio", type=float, default=0.5)
    ap.add_argument("--auto-masked-fraction", type=float, default=0.05)
    ap.add_argument("--auto-max-delete-entries", type=int, default=8)
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    args = ap.parse_args()
    if not args.tiers and not args.snapshot_table:
        ap.error("nothing to do: pass --tiers and/or --snapshot-table")

    from workbook_exporter_fe_spark.session import get_spark

    spark = get_spark(app_name="run_maintenance", cores=args.cores)
    report: dict = {}

    if args.tiers:
        tier_report: dict = {}
        if args.compact:
            from workbook_exporter_fe_spark.sources.tableio import (
                compact_partitions,
            )

            tier_report["compacted"] = {
                t: compact_partitions(
                    spark, f"{args.tiers}/{t}",
                    target_rows_per_file=args.target_rows,
                    min_files=args.min_files,
                )
                for t in TIER_DIRS
                if os.path.isdir(f"{args.tiers}/{t}")
            }
        if args.retention:
            from workbook_exporter_fe_spark.operators.retention import (
                expire_tiers,
            )

            tier_report["retention"] = expire_tiers(
                spark, args.tiers, policies=_parse_policies(args.retention)
            )
        if args.verify:
            from workbook_exporter_fe_spark.plans.pipeline import TierPipeline

            checks = TierPipeline(spark, args.tiers).verify()
            tier_report["verify"] = checks
            if not checks["ok"]:
                print(json.dumps({"tiers": tier_report}, default=str))
                sys.exit(1)
        report["tiers"] = tier_report

    if args.snapshot_table:
        from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

        snap_report: dict = {}
        for root in args.snapshot_table:
            table = SnapshotTable(spark, root)
            entry: dict = {"sequence": table.current_sequence()}
            props = {}
            if args.bloom_columns:
                props["bloom.columns"] = args.bloom_columns.split(",")
            if args.ndv_columns:
                props["stats.ndv.columns"] = args.ndv_columns.split(",")
            if args.partition_spec:
                props["partition.spec"] = [
                    p.replace(";", ",") for p in args.partition_spec.split(",")
                ]
            if props:
                entry["properties"] = table.set_properties(**props)
            if args.drop_partitions:
                expr = args.drop_partitions
                if "<=" in expr:
                    field, _, v = expr.partition("<=")
                    entry["drop_partitions"] = table.drop_partitions(
                        field.strip(), upto=v.strip()
                    )
                elif "=" in expr:
                    field, _, v = expr.partition("=")
                    entry["drop_partitions"] = table.drop_partitions(
                        field.strip(), equals=v.strip()
                    )
                else:
                    ap.error("--drop-partitions needs field<=V or field=V")
            if args.analyze:
                entry["ndv"] = {
                    c: table.column_ndv(c) for c in args.analyze.split(",")
                }
            if args.delete_where:
                seq = table.delete_where(
                    args.delete_where,
                    stats_bounds=_parse_bounds(args.delete_bounds),
                    mode=args.delete_mode,
                )
                entry["delete"] = (
                    table.snapshot(seq)["summary"]
                    if seq != entry["sequence"]
                    else {"rows_deleted": 0}
                )
                entry["deleted_to"] = seq
            if args.delete_eq:
                col, _, vals = args.delete_eq.partition(":")
                if not col or not vals:
                    ap.error("--delete-eq needs col:v1,v2,...")
                pre = table.current_sequence()
                seq = table.delete_eq(
                    [_bound_value(v) for v in vals.split(",")], [col]
                )
                entry["delete_eq"] = (
                    table.snapshot(seq)["summary"]
                    if seq != pre
                    else {"keys": 0}
                )
                entry["deleted_eq_to"] = seq
            if args.auto:
                from workbook_exporter_fe_spark.sources.maintenance import (
                    auto_maintain,
                )

                entry["auto"] = auto_maintain(
                    table,
                    target_file_bytes=args.target_file_mb << 20,
                    small_file_ratio=args.auto_small_ratio,
                    masked_fraction=args.auto_masked_fraction,
                    max_delete_entries=args.auto_max_delete_entries,
                    keep_last=args.keep_last if args.expire else None,
                    orphan_grace_sec=args.orphan_grace_min * 60.0,
                )
            if args.compact_snapshots:
                entry["compacted_to"] = table.compact(
                    target_file_bytes=args.target_file_mb << 20,
                    sort_by=args.sort_by.split(",") if args.sort_by else None,
                    zorder_by=args.zorder.split(",") if args.zorder else None,
                    where_bounds=_parse_bounds(args.compact_bounds),
                )
            # --auto already ran expire+orphans when --expire was given
            if args.expire and not args.auto:
                entry["expire"] = table.expire_snapshots(
                    keep_last=args.keep_last
                )
            if args.remove_orphans and not (args.auto and args.expire):
                entry["orphans"] = table.remove_orphan_files(
                    grace_sec=args.orphan_grace_min * 60.0
                )
            snap_report[root] = entry
        report["snapshot_tables"] = snap_report

    print(json.dumps(report, default=str))


if __name__ == "__main__":
    main()
