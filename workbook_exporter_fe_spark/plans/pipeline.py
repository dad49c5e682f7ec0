"""The tier-cascade pipeline: resumable, manifest-tracked, idempotent.

Replaces the reference's output-file-as-state pattern (re-read the YAML,
anti-join, merge, rewrite — /root/reference/workbook_exporter-fe.py:1732-1767)
with explicit *table* state:

- ``run`` (from sequences) and ``run_incremental`` (from a tier-0 event
  batch) are thin entry points over one fold, ``TierPipeline._fold``.
  Each upserts its events stage, bounds late events and probes the rows
  it folds with one aggregate job (``_probe``: row count, touched
  sources, watermarks). The fold runs tier1 → tier2 → tier3 → chunk
  segments → anomaly in one stage loop. The entry points differ only in
  the merge (key upsert for ``run``, additive for ``run_incremental``),
  the stage names, and what feeds the next tier (the merged tier below
  for ``run``, the batch's partials for ``run_incremental``);
- the events stage upserts the batch into a SnapshotTable at
  ``{out}/events``, partitioned by ``day(event_ts)``: new files plus one
  equality delete of the batch's (source, doc_id) keys, so its cost
  follows the batch, not the events history. Every tier stage writes a
  ``source``-partitioned parquet table via a merge keyed on (source,
  bucket_ts), scoped to the probe's touched sources — re-running a
  completed stage is a no-op on the data. Every tier write (backfill and
  expiry too) goes through one crash-safe swap, operators/merge._swap;
- a JSON-lines **manifest** records per-stage lineage + metrics (rows
  out, per-source partition rows, encode ratio, watermark position, wall
  time), one row per table-writing stage through ``_stage`` — the
  engine's equivalent of an Iceberg metadata table. Tier row counts come
  from the written table's parquet footers on the driver, the events
  stage's from the probe of the rows it committed; a stage's watermark
  is the larger of the probe's and the highest one recorded for its
  table, so no stage re-reads its table for bookkeeping.
  ``_manifest/metrics`` mirrors the manifest as an append-only parquet
  table, one driver-side file per flush;
- **resume**: a stage whose manifest entry is `done` for the same run
  fingerprint is skipped. A crash mid-swap leaves ``<table>.old``; the
  stage's re-run first rolls the table back to its pre-swap state, so
  re-running converges, additive (non-idempotent) merges included. A
  crash after the events commit but before its manifest row re-commits
  the batch, which replaces its rows with themselves.

Scale: stages communicate only through partitioned tables; the manifest is
tiny driver-side JSON (one row per stage × source), so no collect() of data
ever happens. On a real cluster the manifest becomes an Iceberg table and
the swap becomes a MERGE INTO snapshot commit.
"""

from __future__ import annotations

import datetime as _dt
import json
import os
import time
import uuid
from dataclasses import dataclass, field
from urllib.parse import unquote

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workbook_exporter_fe_spark.functions.spark_codecs import compress_tier
from workbook_exporter_fe_spark.operators.eventize import eventize
from workbook_exporter_fe_spark.operators.merge import _swap, merge_upsert_path
from workbook_exporter_fe_spark.operators.tiers import (
    TIER_TRUNC,
    reaggregate,
    rollup_tier1,
)


@dataclass
class Manifest:
    """Append-only JSON-lines stage ledger (driver-side, tiny)."""

    path: str
    entries: list[dict] = field(default_factory=list)

    def __post_init__(self):
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = [json.loads(line) for line in f if line.strip()]

    def done(self, run_fp: str, stage: str) -> bool:
        return any(
            e["run_fp"] == run_fp and e["stage"] == stage and e["status"] == "done"
            for e in self.entries
        )

    def last_watermark(self, *stages: str, parse=_dt.datetime.fromisoformat):
        """Highest watermark recorded for any of ``stages`` (any run),
        parsed back by ``parse`` (to a datetime by default) — the
        cross-run frontier for the late-event bound."""
        best = None
        for e in self.entries:
            if e.get("stage") not in stages or e.get("status") != "done":
                continue
            raw = e.get("watermark")
            if not raw or raw == "None":
                continue
            try:
                wm = parse(str(raw))
            except ValueError:
                continue
            if best is None or wm > best:
                best = wm
        return best

    def record(self, **entry) -> None:
        entry.setdefault("ts", time.time())
        self.entries.append(entry)
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps(entry, default=str) + "\n")


_PY_EPOCH = _dt.datetime(1970, 1, 1)

#: how a recorded watermark string parses back, by the key's Spark type
_PARSE = {
    "timestamp": _dt.datetime.fromisoformat,
    "timestamp_ntz": _dt.datetime.fromisoformat,
    "bigint": int,
    "int": int,
}


def _parquet_rows(d: str) -> int:
    """Rows of the parquet files directly in ``d``, from their footers."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def _partition_rows(path: str, col: str = "source") -> dict:
    """Rows per ``col=`` partition of a hive parquet table, read from the
    parquet footers on the driver — no Spark job, no data page. The
    ``__HIVE_DEFAULT_PARTITION__`` dir maps to None."""
    out = {}
    for d in sorted(os.listdir(path)):
        if d.startswith(col + "="):
            v = unquote(d[len(col) + 1:])
            key = None if v == "__HIVE_DEFAULT_PARTITION__" else v
            out[key] = _parquet_rows(os.path.join(path, d))
    return out


def _parse_ts(x) -> _dt.datetime:
    return _dt.datetime.fromisoformat(x) if isinstance(x, str) else x


# calendar arithmetic on the naive datetime, NOT .timestamp():
# .timestamp() reads a naive datetime in the host's LOCAL zone, while the
# Spark-side window literals are interpreted in the UTC-pinned session —
# on a non-UTC host the two would disagree and backfill would delete and
# recompute the wrong tier buckets (shifted by the UTC offset)
def _floor(ts: _dt.datetime, sec: int) -> _dt.datetime:
    e = int((ts - _PY_EPOCH).total_seconds())
    return _PY_EPOCH + _dt.timedelta(seconds=e - e % sec)


def _ceil(ts: _dt.datetime, sec: int) -> _dt.datetime:
    e = int((ts - _PY_EPOCH).total_seconds())
    return _PY_EPOCH + _dt.timedelta(seconds=e + (-e) % sec)


#: each table's stage name in ``run`` and in ``run_incremental``
_STAGES = {
    "events": ("t0_eventize", "t0_events_inc"),
    "tier1": ("tier1_1m", "tier1_inc"),
    "tier2": ("tier2_1h", "tier2_inc"),
    "tier3": ("tier3_1d", "tier3_inc"),
    "sketch1": ("sketch1_1m", None),
    "sketch2": ("sketch2_1h", None),
    "sketch3": ("sketch3_1d", None),
    "chunks": ("compress", "compress_inc"),
    "anomaly1": ("anomaly_1m", "anomaly_inc"),
}

_GRAINS = ("1m", "1h", "1d")

#: partition spec of the events SnapshotTable: by time only, so a batch
#: writes one file per day it touches whatever its number of sources
EVENTS_SPEC = ("day(event_ts)",)


def _chunk_metrics(chunks: DataFrame) -> dict:
    """The ``compress`` row's points and encode ratio: ONE aggregate
    action over the chunk table — a per-chunk collect() would pull
    (source, segment)-granular rows to the driver (millions at 100 TB)."""
    m = chunks.agg(
        F.sum("n_points").alias("points"),
        F.sum(
            F.octet_length("ts_payload") + F.octet_length("v_payload")
        ).alias("encoded_bytes"),
    ).first()
    pts, enc = m["points"] or 0, m["encoded_bytes"] or 0
    return {
        "points": pts,
        "encode_ratio": round(enc / (16.0 * pts), 4) if pts else None,
    }


class TierPipeline:
    """sequences → tier-0 events → 1m → 1h → 1d → compressed chunks."""

    def __init__(
        self,
        spark: SparkSession,
        out_dir: str,
        salt_buckets: int = 0,
        with_sketches: bool = False,
        late_delay: str | None = None,
        with_anomaly: bool = False,
    ):
        self.spark = spark
        self.out = out_dir
        self.salt_buckets = salt_buckets
        self.with_sketches = with_sketches
        self.late_delay = late_delay
        self.with_anomaly = with_anomaly
        self.manifest = Manifest(os.path.join(out_dir, "_manifest", "manifest.jsonl"))

    def _stage(self, run_fp: str, stage: str, write, out_path: str,
               keys: list[str], watermark=None, extra=None, read=None):
        """Run one stage idempotently: skip if done, else write → log.
        ``write(out_path, keys)`` merges the stage's rows into its table
        and may return the merged table; ``read(out_path)`` reads it
        (a hive parquet read by default). Row counts come from the
        table's parquet footers; a stage of ``run`` also records them per
        source. ``extra(table)`` gives fields of the row's own — in place
        of the per-source counts, and of ``rows_out`` if it names one.
        ``watermark``, the table's max key, is recorded when given."""
        read = read or self.spark.read.parquet
        if self.manifest.done(run_fp, stage):
            return read(out_path)
        t0 = time.perf_counter()
        result = write(out_path, keys)
        if result is None:
            result = read(out_path)
        fields = {} if extra is None else extra(result)
        if "rows_out" not in fields:
            per_source = _partition_rows(out_path)
            fields["rows_out"] = sum(per_source.values())
            if extra is None and not stage.endswith("_inc"):
                fields["partitions"] = per_source
        if watermark is not None:
            fields["watermark"] = str(watermark)
        self.manifest.record(
            run_fp=run_fp,
            stage=stage,
            status="done",
            **fields,
            wall_sec=round(time.perf_counter() - t0, 3),
        )
        return result

    def _merge(self, combine, new: DataFrame, touched: list, **kw):
        """A stage's ``write``: ``combine`` ``new`` into the table's
        ``touched`` source partitions."""
        return lambda path, keys: combine(
            self.spark, path, new, keys, partition_col="source",
            touched=touched, **kw,
        )

    def _watermark(self, batch: dict, key: str, stages, events: DataFrame):
        """A table's max ``key`` after a merge: the batch's, or the highest
        one a stage writing the table recorded before."""
        col = "doc_id" if key == "doc_id" else "event_ts"
        parse = _PARSE.get(dict(events.dtypes)[col], str)
        prior = self.manifest.last_watermark(*stages, parse=parse)
        return max((w for w in (batch[key], prior) if w is not None), default=None)

    def _bound(self, run_fp: str, events: DataFrame):
        """Bound late events when ``late_delay`` is set, probe the events
        left, and record the run's ``late_bound`` row once; returns the
        bounded events and their probe.

        Events whose minute is before that of (high-water - delay) never
        reach the rollup — whole tier-1 buckets, never part of one — so
        finalized buckets stay finalized under out-of-order re-deliveries
        (operators/retention.py). The frontier is monotone ACROSS runs: the
        last manifest-recorded watermark is fed back in, so replaying old
        data can never lower the cutoff and reopen finalized buckets."""
        late_wm = None
        if self.late_delay:
            from workbook_exporter_fe_spark.operators.retention import (
                bound_late_events,
            )

            prior_wm = self.manifest.last_watermark("late_bound")
            events, late_wm = bound_late_events(
                events, self.late_delay, prior_wm=prior_wm
            )
        batch = self._probe(events)
        if self.late_delay and not self.manifest.done(run_fp, "late_bound"):
            self.manifest.record(
                run_fp=run_fp, stage="late_bound", status="done",
                rows_out=batch["rows"], watermark=str(late_wm), wall_sec=0.0,
            )
        return events, batch

    def _probe(self, events: DataFrame) -> dict:
        """One aggregate job over the events a stage folds for everything
        its merges need to know of them: ``rows``; the touched
        ``sources``, a null source included (every merge takes them
        instead of finding them itself); the max ``doc_id``, the events
        table's watermark key; and the max 1m/1h/1d bucket, each tier's
        batch watermark."""
        row = events.agg(
            F.count("*").alias("rows"),
            # a struct keeps the null source that collect_set would drop
            F.collect_set(F.struct("source")).alias("sources"),
            F.max("doc_id").alias("doc_id"),
            *[F.max(F.date_trunc(TIER_TRUNC[g], "event_ts")).alias(g) for g in _GRAINS],
        ).first()
        return {
            "rows": row["rows"],
            "sources": [r["source"] for r in row["sources"]],
            **{k: row[k] for k in ("doc_id", *_GRAINS)},
        }

    def _upsert_events(self, run_fp: str, incremental: bool,
                       events: DataFrame, batch: dict | None = None):
        """The events stage: upsert ``events`` by (source, doc_id) into
        the SnapshotTable at ``{out}/events`` (``EVENTS_SPEC``) and return
        its live rows. ``batch`` is their probe; without it one probe job
        runs, and only if the stage is not done yet.

        The commit costs O(batch) at any table size: the batch appends as
        new files plus one equality delete of its keys (``upsert_eq``),
        a plain append while the table is empty. Duplicate keys inside one
        batch are all kept, as the stored rows of earlier batches are
        replaced by all of them. Re-running a batch whose commit landed
        but whose manifest row did not replaces its rows with themselves.
        ``rows_out`` is the rows this batch committed, from the probe — a
        live count of the table would be a scan through every
        outstanding equality delete."""
        from workbook_exporter_fe_spark.sources.snapshots import SnapshotTable

        stage = _STAGES["events"][incremental]
        table = SnapshotTable(self.spark, f"{self.out}/events")
        if self.manifest.done(run_fp, stage):
            return table.read()
        if batch is None:
            batch = self._probe(events)

        def write(path, keys):
            if table.current_sequence() == 0:
                if any(d.startswith("source=") for d in os.listdir(path)):
                    # written before events were a SnapshotTable: reading
                    # on would silently drop that history
                    raise ValueError(
                        f"{path} holds hive-partitioned events of an older "
                        "store; commit them into a SnapshotTable first"
                    )
                table.set_properties(**{"partition.spec": list(EVENTS_SPEC)})
                table.commit(events)
            else:
                table.upsert_eq(events, keys, validate_source=False)

        return self._stage(
            run_fp, stage, write, table.root, ["source", "doc_id"],
            self._watermark(batch, "doc_id", _STAGES["events"], events),
            extra=lambda _: {"rows_out": batch["rows"]},
            read=lambda _: table.read(),
        )

    def _fold(self, run_fp: str, events: DataFrame, batch: dict,
              incremental: bool) -> dict[str, DataFrame]:
        """Fold ``events`` (probed as ``batch``) into tier1 → tier2 →
        tier3 (→ the sketch tiers) → chunk segments → anomaly, one stage
        per table, every merge scoped to the probe's touched sources.

        ``incremental`` picks the tier merge (additive, else key upsert),
        the stage names (``_STAGES``) and what feeds the next tier: the
        batch's partials (re-aggregating partials is decomposable), else
        the merged tier below, whose rows from earlier runs the bounded
        events may no longer produce. Chunks and anomaly are re-derived
        from the merged tier-1 of the touched sources; an incremental fold
        re-encodes only the (source, day) segments its batch touched,
        reading the partials from disk-persisted blocks."""
        # looked up per call, so a wrapped merge function is the one that runs
        from workbook_exporter_fe_spark.operators import merge

        touched = batch["sources"]
        in_touched = merge.in_partitions("source", touched)
        tier_merge = merge.merge_tier_additive_path if incremental else merge_upsert_path

        def stage(table, new, combine=merge_upsert_path, grain=None,
                  keys=("source", "bucket_ts"), extra=None, **kw):
            names = _STAGES[table]
            return self._stage(
                run_fp, names[incremental],
                self._merge(combine, new, touched, **kw),
                f"{self.out}/{table}", list(keys),
                grain and self._watermark(batch, grain, names, events), extra,
            )

        out: dict[str, DataFrame] = {}
        partial = rollup_tier1(events, salt_buckets=self.salt_buckets)
        families = [("tier", partial, reaggregate)]
        if self.with_sketches:
            # Non-decomposable aggregates (distinct keys, percentiles) ride
            # beside the sum/min/max tiers as mergeable sketch tables —
            # coarser tiers re-merge sketches, never rescan tier-0.
            from workbook_exporter_fe_spark.operators.tiers import (
                sketch_reaggregate,
                sketch_tier1,
            )

            families.append(("sketch", sketch_tier1(events), sketch_reaggregate))
        if incremental:
            partial.persist(StorageLevel.DISK_ONLY)
        try:
            for family, new, reagg in families:
                for i, grain in enumerate(_GRAINS, 1):
                    if i > 1:
                        new = reagg(below, grain)
                    table = f"{family}{i}"
                    out[table] = merged = stage(table, new, tier_merge, grain)
                    below = new if incremental else merged.filter(in_touched)

            t1 = segments = out["tier1"].filter(in_touched)
            # the (source, day) segments to re-encode; they are also the
            # keys the chunk merge replaces, so the encoding runs once
            seg = F.date_trunc("day", "bucket_ts").alias("segment_start")
            affected = (partial if incremental else t1).select("source", seg)
            affected = affected.distinct()
            if incremental:
                # re-encode ONLY the (source, day) segments this batch
                # touched, reading exact merged values from tier-1
                segments = t1.withColumn("segment_start", seg).join(
                    F.broadcast(affected), ["source", "segment_start"]
                ).drop("segment_start")
            out["chunks"] = stage(
                "chunks", compress_tier(segments),
                keys=("source", "segment_start"),
                extra=None if incremental else _chunk_metrics,
                replaced=affected,
            )
        finally:
            partial.unpersist()

        if self.with_anomaly:
            # Rolling z-score outlier tier beside tier-1 (operators/rates).
            # Its trailing 30-row frames are NOT additive, so it is
            # recomputed over the merged tier-1 of the touched sources —
            # tier-sized input, one window pass.
            from workbook_exporter_fe_spark.operators.rates import anomaly_zscore

            out["anomaly1"] = stage(
                "anomaly1",
                anomaly_zscore(
                    t1.select("source", "bucket_ts", "avg_v"), n=30, threshold=3.0
                ),
                grain=None if incremental else "1m",
            )
        self._write_metrics_table()
        return out

    def run(self, sequences: DataFrame, run_fp: str) -> dict[str, DataFrame]:
        """Execute (or resume) the full cascade; returns the tables.

        The sequences are eventized and upserted into the events table.
        The fold then re-derives every tier from the whole late-bounded
        events table, upserting by key, each coarser tier from the merged
        tier below (``_fold``)."""
        events = self._upsert_events(
            run_fp, False, eventize(sequences).select("source", "event_ts", "v", "doc_id")
        )
        bounded, batch = self._bound(run_fp, events)
        return {"events": events, **self._fold(run_fp, bounded, batch, False)}

    def backfill(self, events: DataFrame, start, end, run_fp: str) -> dict:
        """Correction backfill: REPLACE every tier bucket in [start, end)
        with a recompute from the supplied events.

        This is the repair path the additive refresh (`run_incremental`)
        cannot express: additive merges can only ADD partial aggregates,
        but a correction (bad scrape, re-ingested day, retracted docs)
        must also delete what is no longer there. Semantics: within the
        window the tables become exactly what a from-scratch run over
        ``events`` would produce — tier-1 buckets in the minute-aligned
        window are replaced wholesale; the hour/day buckets COVERING the
        window are recomputed from the post-merge tier-1 over their full
        extent (so a partial-hour backfill still yields exact hours); the
        (source, day) chunk segments overlapping the window are
        re-encoded the same way. Outside the window nothing changes, and
        backfilling with identical data is a bit-exact no-op (pinned in
        tests). Each table is rewritten whole, keeping its ``source=``
        partitions, through the store's crash-safe swap (an interrupted
        backfill rolls back on the next write); at 100 TB with
        day-partitioned tiers every window replace becomes a partition
        DELETE+INSERT instead of the table rewrite here.

        ``start``/``end``: ISO strings or datetimes, inclusive/exclusive.
        Returns per-table replaced-row counts for the manifest.
        """
        lo, hi = _parse_ts(start), _parse_ts(end)
        if hi <= lo:
            raise ValueError("backfill needs end > start")
        t0 = time.perf_counter()

        def _win(df, ts_col, a, b):
            c = F.col(ts_col).cast("timestamp")
            return df.filter((c >= F.lit(a)) & (c < F.lit(b)))

        def _replace_window(path: str, new_rows: DataFrame, ts_col: str,
                            a, b) -> int:
            def write(staging):
                merged = new_rows
                if os.path.exists(path):
                    c = F.col(ts_col).cast("timestamp")
                    keep = self.spark.read.parquet(path).filter(
                        ~((c >= F.lit(a)) & (c < F.lit(b)))
                    )
                    merged = keep.unionByName(new_rows.select(*keep.columns))
                merged.write.partitionBy("source").parquet(staging)

            n_new = new_rows.count()
            _swap(path, write)
            return n_new

        stats: dict = {}
        lo_m, hi_m = _floor(lo, 60), _ceil(hi, 60)
        t1_slice = rollup_tier1(
            _win(events, "event_ts", lo_m, hi_m),
            salt_buckets=self.salt_buckets,
        )
        stats["tier1"] = _replace_window(
            f"{self.out}/tier1", t1_slice, "bucket_ts", lo_m, hi_m
        )
        t1 = self.spark.read.parquet(f"{self.out}/tier1")

        lo_h, hi_h = _floor(lo, 3600), _ceil(hi, 3600)
        t2_slice = reaggregate(_win(t1, "bucket_ts", lo_h, hi_h), "1h")
        stats["tier2"] = _replace_window(
            f"{self.out}/tier2", t2_slice, "bucket_ts", lo_h, hi_h
        )
        t2 = self.spark.read.parquet(f"{self.out}/tier2")

        lo_d, hi_d = _floor(lo, 86400), _ceil(hi, 86400)
        t3_slice = reaggregate(_win(t2, "bucket_ts", lo_d, hi_d), "1d")
        stats["tier3"] = _replace_window(
            f"{self.out}/tier3", t3_slice, "bucket_ts", lo_d, hi_d
        )

        chunks_path = f"{self.out}/chunks"
        if os.path.exists(chunks_path):
            ch_slice = compress_tier(_win(t1, "bucket_ts", lo_d, hi_d))
            stats["chunks"] = _replace_window(
                chunks_path, ch_slice, "segment_start", lo_d, hi_d
            )

        self.manifest.record(
            run_fp=run_fp,
            stage="backfill",
            status="done",
            window=[str(lo), str(hi)],
            rows_out=sum(stats.values()),
            partitions=stats,
            wall_sec=round(time.perf_counter() - t0, 3),
        )
        return stats

    def verify(self) -> dict:
        """Cross-tier invariant audit over the STORED tables; records a
        `verify` row in the manifest and returns the check dict.

        The data-quality checks a continuous-aggregate pipeline must keep
        true at all times (north rule: every emitted point matches across
        tiers; resumable tables must stay internally consistent):

        - tier2 == reaggregate(tier1, '1h') and tier3 == reaggregate(tier2,
          '1d'), bit-for-bit (decomposability is not assumed — it is
          re-checked against what is on disk);
        - chunks decode back to tier-1's finalized values exactly (codec
          round-trip on the stored bytes, not in-memory ones);
        - no duplicate (source, bucket_ts) keys in any tier (merge
          idempotency held).
        Each check is one exceptAll/groupBy job over tier-sized tables.

        After an ``expire_tiers`` run the tiers deliberately cover
        different horizons (fine tiers expire first), so each cross-tier
        check is scoped to the range where BOTH tiers are retained: the
        fine tier's recorded cutoff (operators/retention.read_cutoffs),
        rounded UP to the next full coarse bucket so partially-expired
        boundary buckets are excluded. A never-expired store verifies the
        full range, as before.
        """
        from datetime import timedelta

        from workbook_exporter_fe_spark.functions.spark_codecs import (
            decompress_chunks,
        )
        from workbook_exporter_fe_spark.operators.retention import read_cutoffs

        r = self.spark.read
        t1 = r.parquet(f"{self.out}/tier1")
        t2 = r.parquet(f"{self.out}/tier2")
        t3 = r.parquet(f"{self.out}/tier3")
        cuts = read_cutoffs(self.out)
        checks: dict = {}

        def _equal(a: DataFrame, b: DataFrame) -> bool:
            cols = sorted(a.columns)
            a, b = a.select(*cols), b.select(*cols)
            return (
                a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
            )

        def _ceil(cut, unit: str):
            """Smallest coarse-bucket start fully above the cutoff."""
            if unit == "1h":
                floor = cut.replace(minute=0, second=0, microsecond=0)
                return floor + timedelta(hours=1)
            floor = cut.replace(hour=0, minute=0, second=0, microsecond=0)
            return floor + timedelta(days=1)

        def _scope(fine, coarse, fine_cut, unit):
            if fine_cut is None:
                return fine, coarse
            lo = _ceil(fine_cut, unit)
            trunc = "hour" if unit == "1h" else "day"
            return (
                fine.filter(F.date_trunc(trunc, "bucket_ts") >= F.lit(lo)),
                coarse.filter(F.col("bucket_ts") >= F.lit(lo)),
            )

        s1, s2 = _scope(t1, t2, cuts.get("tier1"), "1h")
        checks["tier2_equals_reagg_tier1"] = _equal(s2, reaggregate(s1, "1h"))
        s2b, s3 = _scope(t2, t3, cuts.get("tier2"), "1d")
        checks["tier3_equals_reagg_tier2"] = _equal(s3, reaggregate(s2b, "1d"))

        chunks = r.parquet(f"{self.out}/chunks")
        decoded = decompress_chunks(chunks).select(
            "source",
            F.col("bucket_ts").cast(dict(t1.dtypes)["bucket_ts"]).alias("bucket_ts"),
            "avg_v",
        )
        stored = t1.select("source", "bucket_ts", "avg_v")
        t1_cut = cuts.get("tier1")
        if t1_cut is not None:
            # chunks keep whole (source, day) segments; compare only rows
            # the expired tier-1 still holds (strict > matches
            # apply_retention's filter)
            decoded = decoded.filter(F.col("bucket_ts") > F.lit(t1_cut))
            stored = stored.filter(F.col("bucket_ts") > F.lit(t1_cut))
        checks["chunks_roundtrip_tier1"] = _equal(decoded, stored)

        for name, tier in (("tier1", t1), ("tier2", t2), ("tier3", t3)):
            dups = (
                tier.groupBy("source", "bucket_ts")
                .count()
                .filter(F.col("count") > 1)
                .isEmpty()
            )
            checks[f"{name}_keys_unique"] = dups
        checks["ok"] = all(checks.values())
        self.manifest.record(
            run_fp="verify", stage="verify",
            status="done" if checks["ok"] else "FAILED", **{
                k: v for k, v in checks.items() if k != "ok"
            },
        )
        return checks

    def run_incremental(self, events: DataFrame, run_fp: str) -> dict[str, DataFrame]:
        """Incremental refresh from a tier-0 EVENT batch (production shape:
        events carry real timestamps; the eventize stage of `run` is the
        synthetic-corpus stand-in).

        The late-bounded batch is upserted into the events table by
        (source, doc_id), then folded like ``run`` (``_fold``) with every
        tier combining ADDITIVELY (merge_tier_additive_path): a batch
        carrying partial data for an existing bucket adds into it instead
        of replacing it, so N incremental batches produce bit-identical
        tiers to one full run (pinned by tests/test_pipeline.py). Only the
        work proportional to the BATCH happens: the batch's partials feed
        every tier, and only the (source, day) chunk segments it touched
        are re-encoded. One aggregate job over the batch (``_probe``)
        gives its row count, touched sources and watermarks.

        The sketch tiers hold no additive partials, so a pipeline built
        ``with_sketches`` raises ValueError before it writes anything.
        """
        if self.with_sketches:
            raise ValueError(
                "the sketch tiers are rebuilt by run() only; an incremental "
                "refresh would leave them stale"
            )
        events, batch = self._bound(run_fp, events)
        out = {"events": self._upsert_events(run_fp, True, events, batch)}
        return {**out, **self._fold(run_fp, events, batch, True)}

    def run_from_snapshots(self, table) -> dict[str, DataFrame] | None:
        """Catch the tiers up to a SnapshotTable of tier-0 events
        (sources/snapshots.py) — the engine's "consume the Iceberg
        table incrementally" loop.

        The manifest records the last CONSUMED snapshot sequence; each
        call reads only the rows appended since (``table.changes`` — the
        manifest file-set diff, no re-scan of consumed files) and folds
        them through ``run_incremental`` (additive merges, so N catch-up
        calls ≡ one full run bit-for-bit). Returns None when there is
        nothing new — a no-op heartbeat, no Spark job beyond the driver-
        side manifest read. A non-append snapshot in the gap raises
        ``IncrementalScanBreak`` (see snapshots.py): additive tiers
        cannot un-merge rewritten history, so the caller rebuilds.

        Crash-safety: the consumed-sequence row is recorded AFTER
        ``run_incremental`` completes; a crash mid-refresh replays the
        same change range under the same run fingerprint, and the
        per-stage manifest rows make the replay skip finished stages.
        """
        cur = table.current_sequence()
        last = 0
        for e in self.manifest.entries:
            if (
                e.get("stage") == "snapshot_consume"
                and e.get("status") == "done"
            ):
                last = max(last, int(e.get("sequence", 0)))
        if cur == last:
            return None
        batch = table.changes(last, cur)
        run_fp = f"snap:{last + 1}-{cur}"
        out = self.run_incremental(batch, run_fp)
        self.manifest.record(
            run_fp=run_fp,
            stage="snapshot_consume",
            status="done",
            sequence=cur,
            consumed_from=last,
        )
        return out

    def _write_metrics_table(self) -> None:
        """Mirror the JSONL manifest as a queryable parquet metrics table —
        the hive-fallback analog of the north rule's Iceberg metadata
        table. Append-only and driver-side: the manifest entries past the
        table's footer row count go into one new parquet file (written
        under a hidden name, then renamed), so an entry recorded just
        before a crash is appended by the next run, and earlier files —
        a Spark-written mirror from an older store too — stay as they
        are."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = f"{self.out}/_manifest/metrics"
        os.makedirs(path, exist_ok=True)
        new = self.manifest.entries[_parquet_rows(path):]
        if not new:
            return
        rows = [
            {
                "run_fp": e.get("run_fp"),
                "stage": e.get("stage"),
                "status": e.get("status"),
                "rows_out": e.get("rows_out"),
                "watermark": str(e.get("watermark")),
                "wall_sec": float(e.get("wall_sec", 0.0)),
                "encode_ratio": float(e["encode_ratio"]) if e.get("encode_ratio") is not None else None,
                "partitions_json": json.dumps(e.get("partitions", {})),
                "ts": float(e.get("ts", 0.0)),
            }
            for e in new
        ]
        # the column types Spark wrote the mirror with
        schema = pa.schema([
            ("run_fp", pa.string()), ("stage", pa.string()), ("status", pa.string()),
            ("rows_out", pa.int64()), ("watermark", pa.string()),
            ("wall_sec", pa.float64()), ("encode_ratio", pa.float64()),
            ("partitions_json", pa.string()), ("ts", pa.float64()),
        ])
        table = pa.Table.from_pylist(rows, schema=schema)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = os.path.join(path, f".{name}.tmp")
        pq.write_table(table, tmp, compression="zstd")
        os.rename(tmp, os.path.join(path, name))


def publish_snapshot_tiers(
    spark: SparkSession,
    out: str,
    tier_names: tuple[str, ...] = ("tier1", "tier2", "tier3"),
    changed: DataFrame | None = None,
    spec: tuple[str, ...] = ("day(bucket_ts)",),
) -> dict:
    """Publish the pipeline's parquet tier dirs as SnapshotTables under
    ``{out}/snapshot_tiers/{tier}`` — the SERVING store.

    The pipeline's own parquet dirs stay the resumable working state;
    the published copy lets the PromQL MetricStore's lazy loader
    (run_rules.build_store) prune files from the manifest alone: a
    query_range over one day of a year-long tier-1 opens ~that day's
    files (per-file min/max stats AND the day() partition transform both
    skip, before Spark lists anything). A full publish is one
    ``overwrite`` commit — prior publishes stay time-travelable and
    expire via normal snapshot retention.

    ``spec`` sets the partition layout at FIRST publish; a store already
    published keeps its own ``partition.spec`` property. The default
    partitions by time only, ``[day(bucket_ts)]``: a (day, source)
    partition of a 64-source store holds at most 1,440 tier-1 rows, 24
    tier-2 rows and one tier-3 row, each in a file of its own, and every
    file costs a fixed write and open. Layouts that add ``source`` (or
    ``bucket(N, source)``) still work.

    ``changed``: a relation carrying the rows FOLDED this run — any
    (source, some timestamp column) shape, e.g. the incremental batch's
    events. With it (and an already-published store), each tier's
    publish is a DYNAMIC PARTITION OVERWRITE touching only the batch's
    partitions. One job works out the batch's partition tuples through
    the spec's own transforms (the batch rows as (source, bucket_ts)
    proxies); then, per tier, the hive tier is read with the serving
    table's manifest schema (no schema-inference job), the delta is
    every tier row whose tuple matches — a literal predicate, no join —
    and ``overwrite_partitions(partitions=)`` replaces exactly those
    tuples. The delta is tuple-correct for any spec: with ``bucket(64,
    source)`` a partition holds MANY sources, so the delta carries the
    untouched bucket-mates' rows too (pinned in tests). day()/month()
    scoping is sound for every tier granularity because 1m/1h/1d
    buckets truncate WITHIN the event's calendar unit. Any other field
    of ``bucket_ts`` — hour(), identity, a truncate — would not cover
    the coarser tiers' floored buckets (the proxies carry raw event
    times), so it forces a full republish. Tuples match null-safely, so
    a batch touching the null-source partition republishes it.
    """
    import functools

    from pyspark.sql.types import StructType

    from workbook_exporter_fe_spark.sources.partitioning import (
        parse_spec,
        partition_columns,
        partition_expr,
    )
    from workbook_exporter_fe_spark.sources.snapshots import (
        SnapshotTable,
        load_manifest_raw,
    )

    proxy = None
    if changed is not None:
        ts_col = "event_ts" if "event_ts" in changed.columns else "bucket_ts"
        proxy = changed.select(
            F.col("source"),
            F.col(ts_col).cast("timestamp").alias("bucket_ts"),
        )
    tuples_of: dict = {}  # the batch's tuples, one probe job per spec
    info: dict = {}
    for name in tier_names:
        src = f"{out}/{name}"
        if not os.path.exists(src):
            continue
        root = f"{out}/snapshot_tiers/{name}"
        table = SnapshotTable(spark, root)
        seq = table.current_sequence()
        if seq == 0:
            table.set_properties(**{"partition.spec": list(spec)})
        fields = parse_spec(
            list(table.properties().get("partition.spec") or [])
        )
        scoped = (
            proxy is not None
            and seq > 0
            and fields
            and all(f.transform in ("day", "month")
                    for f in fields if f.source == "bucket_ts")
        )
        if not scoped:
            seq = table.commit(
                spark.read.parquet(src), mode="overwrite",
                summary={"published_from": src},
            )
            info[name] = {
                "root": root,
                "sequence": seq,
                "files": len(table.snapshot()["files"]),
            }
            continue
        key = tuple(fields)
        if key not in tuples_of:
            # one task dedupes the batch's tuples: a single input
            # partition needs no exchange, so the probe is one job
            tuples_of[key] = [
                tuple(r) for r in proxy.select(*partition_columns(proxy, fields))
                .coalesce(1).distinct().collect()
            ]
        tuples = tuples_of[key]
        rows = spark.read.schema(
            StructType.fromJson(load_manifest_raw(root, seq)["schema"])
        ).parquet(src)
        exprs = [partition_expr(f, rows) for f in fields]
        match = functools.reduce(
            lambda a, b: a | b,
            [
                functools.reduce(
                    lambda a, b: a & b,
                    [e.eqNullSafe(F.lit(v)) for e, v in zip(exprs, t)],
                )
                for t in tuples
            ],
            F.lit(False),
        )
        rep = table.overwrite_partitions(
            rows.filter(match), summary={"published_from": src},
            partitions=tuples,
        )
        info[name] = {
            "root": root,
            "sequence": rep["sequence"],
            "files": len(table.snapshot()["files"]),
            "partitions_replaced": rep["partitions"],
            "files_replaced": rep["files_replaced"],
        }
    return info
