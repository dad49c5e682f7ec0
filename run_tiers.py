#!/usr/bin/env python
"""CLI entry point: run (or resume) the tier cascade.

Usage (local or spark-submit --py-files engine.zip run_tiers.py ...):

    python run_tiers.py --generate 100000 --out /tmp/tiers_out
    python run_tiers.py --input /path/to/sequences_parquet --out /tmp/tiers_out
    python run_tiers.py --generate 100000 --out /tmp/tiers_out --resume

Re-running with --resume skips stages already recorded `done` in the
manifest (<out>/_manifest/manifest.jsonl).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    src = ap.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="sequences parquet path")
    src.add_argument("--generate", type=int, help="generate N synthetic sequences")
    src.add_argument(
        "--events",
        help="tier-0 EVENTS parquet (source, event_ts, v, doc_id): run an "
        "INCREMENTAL additive refresh of the tiers in --out (partial "
        "buckets combine; only touched chunk segments re-encode)",
    )
    src.add_argument(
        "--from-snapshots",
        help="root of a tier-0 event SnapshotTable (sources/snapshots.py): "
        "consume every snapshot appended since the last recorded "
        "snapshot_consume row in the manifest and fold it through the "
        "incremental refresh; no-op if already caught up",
    )
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--cores", default=os.environ.get("SPARK_GRAFT_CPUS", "*"))
    ap.add_argument("--salt", type=int, default=0, help="salt buckets for skewed tier-1 agg")
    ap.add_argument(
        "--sketches",
        action="store_true",
        help="also build mergeable HLL/KLL sketch tiers (distinct + quantiles)",
    )
    ap.add_argument(
        "--anomaly",
        action="store_true",
        help="also build the rolling z-score anomaly tier beside tier-1",
    )
    ap.add_argument(
        "--late-delay",
        default=None,
        help="batch watermark, e.g. 'interval 1 hour': drop tier-0 events "
        "behind (high-water - delay) so finalized buckets never reopen",
    )
    ap.add_argument(
        "--snapshot-tiers",
        action="store_true",
        help="after the run, publish tier1/2/3 as SnapshotTables under "
        "OUT/snapshot_tiers/* with hidden partitioning — the "
        "manifest-pruned serving store run_query/run_rules read "
        "(files-opened ≈ the queried window); incremental runs publish "
        "as a dynamic partition overwrite scoped to the batch (O(delta))",
    )
    ap.add_argument(
        "--tier-partition-spec",
        default=None,
        help="serving-store partition spec at FIRST publish (comma "
        "list; default: publish_snapshot_tiers', day(bucket_ts)), e.g. "
        "'day(bucket_ts),bucket(64;source)' — ';' inside a transform "
        "stands for ','",
    )
    ap.add_argument("--resume", action="store_true")
    ap.add_argument(
        "--backfill",
        help="correction window 'START..END' (ISO, end-exclusive): REPLACE "
        "every tier bucket in the window with a recompute from the given "
        "events/sequences; coarse buckets covering the window are rebuilt "
        "from the merged tier-1 (use with --events or --input)",
    )
    ap.add_argument(
        "--verify",
        action="store_true",
        help="after the run, audit cross-tier invariants (tier2==reagg(t1), "
        "tier3==reagg(t2), chunk round-trip, key uniqueness) and record a "
        "verify row in the manifest; non-zero exit on failure",
    )
    args = ap.parse_args()
    if args.backfill and args.from_snapshots:
        ap.error("--backfill needs explicit events (use --events or "
                 "--input), not --from-snapshots")
    if args.sketches and (args.events or args.from_snapshots):
        ap.error("--sketches needs a full run (--input or --generate): an "
                 "incremental refresh cannot fold the sketch tiers")
    if args.backfill and args.snapshot_tiers:
        ap.error("--backfill does not publish the serving store; run "
                 "--snapshot-tiers separately after it")

    from workbook_exporter_fe_spark.plans.pipeline import TierPipeline
    from workbook_exporter_fe_spark.session import get_spark
    from workbook_exporter_fe_spark.sources.datagen import gen_sequences

    spark = get_spark(app_name="run_tiers", cores=args.cores)
    if args.from_snapshots:
        run_fp = None  # run_from_snapshots derives it from the sequences
    elif args.events:
        batch = spark.read.parquet(args.events)
        run_fp = f"events:{args.events}"
    elif args.input:
        seq = spark.read.parquet(args.input)
        run_fp = f"input:{args.input}"
    else:
        seq = gen_sequences(spark, args.generate, seed=args.seed)
        run_fp = f"gen:{args.generate}:{args.seed}"

    # an incremental refresh always keeps the manifest (its whole point is
    # continuing an existing table set); full runs reset unless --resume
    if (
        not args.resume
        and not args.events
        and not args.from_snapshots
        and not args.backfill
        and os.path.exists(f"{args.out}/_manifest/manifest.jsonl")
    ):
        os.remove(f"{args.out}/_manifest/manifest.jsonl")

    pipe = TierPipeline(
        spark,
        args.out,
        salt_buckets=args.salt,
        with_sketches=args.sketches,
        late_delay=args.late_delay,
        with_anomaly=args.anomaly,
    )
    if args.backfill:
        from workbook_exporter_fe_spark.operators.eventize import eventize

        start, _, end = args.backfill.partition("..")
        if not end:
            ap.error("--backfill needs 'START..END'")
        ev = batch if args.events else eventize(seq).select(
            "source", "event_ts", "v", "doc_id"
        )
        stats = pipe.backfill(ev, start, end, run_fp or "backfill")
        print(json.dumps({"out": args.out, "backfill": [start, end],
                          "replaced": stats}))
        return
    if args.from_snapshots:
        from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

        tables = pipe.run_from_snapshots(
            SnapshotTable(spark, args.from_snapshots)
        )
        summary = (
            {name: df.count() for name, df in tables.items()}
            if tables is not None
            else "up-to-date"
        )
    else:
        tables = (
            pipe.run_incremental(batch, run_fp)
            if args.events
            else pipe.run(seq, run_fp)
        )
        summary = {name: df.count() for name, df in tables.items()}
    result = {
        "out": args.out,
        "rows": summary,
        "resumed": args.resume,
        "master": spark.sparkContext.master,
    }
    if args.snapshot_tiers:
        from workbook_exporter_fe_spark.plans.pipeline import (
            publish_snapshot_tiers,
        )

        # incremental refresh (--events): dynamic-partition-overwrite
        # publish scoped to the batch's partitions — O(delta), never a
        # full-tier republish. ';' inside a transform stands for ','
        # (same convention as run_maintenance --partition-spec).
        spec = {} if args.tier_partition_spec is None else {"spec": tuple(
            p.replace(";", ",") for p in args.tier_partition_spec.split(",")
        )}
        result["snapshot_tiers"] = publish_snapshot_tiers(
            spark, args.out, changed=batch if args.events else None, **spec
        )
    if args.verify:
        result["verify"] = pipe.verify()
    print(json.dumps(result))
    spark.stop()
    if args.verify and not result["verify"]["ok"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
