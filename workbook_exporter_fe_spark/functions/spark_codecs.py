"""Spark wrappers for the Gorilla / delta-of-delta codecs.

Tier rows are compressed per (source, segment) group — segment = day of
bucket_ts — into chunk rows
``(source, segment_start, n_points, codec_version, ts_payload, v_payload)``
(FIXTURES.md F3). One numpy kernel, ``encode_segment``, encodes a group's
timestamps+values vectorized over the whole segment, and runs where the
caller's row bound puts it (``compress_tier``):

- on the driver, when the caller knows, without a job, that the input
  holds at most ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows
  (10,000 by default) — the pipeline takes that bound from the tier-1
  table's parquet footers. The rows travel to the driver in one collect,
  and no Python worker starts: a session's first one costs seconds, far
  more than encoding a few thousand rows on the driver;
- on the executors otherwise, grouped by (source, segment) through
  ``applyInPandas``.

The cap is not a measured crossover: the driver encode was the faster
at every size tried, up to 160,000 rows (4 vCPUs, warm or cold session).
It bounds what the driver collects and holds to the rows of one Arrow
batch, whatever the store's size. (``applyInPandas`` is not split by it:
each group reaches its Python worker whole.)

Scale design: grouping key (source, segment) bounds chunk size (one day of
1m buckets = 1440 points), so executor memory per group is constant; the
shuffle that forms groups is the only shuffle and it is keyed the same way
as the tier table's layout, so with a source-partitioned tier table the
exchange is cheap. Decompression uses the same grouped shape.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import (
    CODEC_VERSION,
    CODEC_VERSION_V2,
    dod_decode,
    dod_decode_v2,
    dod_encode,
    dod_encode_v2,
    gorilla_decode,
    gorilla_decode_v2,
    gorilla_encode,
    gorilla_encode_v2,
)

# v1 = paper-faithful interleaved bitstream (sequential decode);
# v2 = split-stream layout, vectorized decode (~3.6×), ~6% larger values
# payload. Chunk rows carry their version, so tables mix freely and the
# reader dispatches per row — format evolution without rewrites.
_ENCODERS = {
    CODEC_VERSION: (dod_encode, gorilla_encode),
    CODEC_VERSION_V2: (dod_encode_v2, gorilla_encode_v2),
}
_DECODERS = {
    CODEC_VERSION: (dod_decode, gorilla_decode),
    CODEC_VERSION_V2: (dod_decode_v2, gorilla_decode_v2),
}

CHUNK_SCHEMA = (
    "source string, segment_start timestamp, n_points int, "
    "codec_version int, ts_payload binary, v_payload binary"
)


def encode_segment(pdf: pd.DataFrame, value_col: str,
                   codec_version: int) -> tuple[int, bytes, bytes]:
    """One (source, segment) group's rows -> ``(n_points, ts_payload,
    v_payload)``: the numpy kernel of both encode paths. ``bucket_ts``
    holds the session's wall clock as ``datetime64[ns]``, the form a
    pandas UDF receives it in."""
    enc_ts, enc_v = _ENCODERS[codec_version]
    pdf = pdf.sort_values("bucket_ts")
    ts = (pdf["bucket_ts"].astype("int64") // 1_000_000_000).to_numpy()
    vals = pdf[value_col].to_numpy(dtype="float64")
    return len(ts), enc_ts(ts), enc_v(vals)


def encode_segments(pdf: pd.DataFrame, value_col: str,
                    codec_version: int) -> pa.Table:
    """Chunk rows of every (source, segment) group of ``pdf``, in key
    order, ``segment_start`` as the session's wall clock. A null source
    is a group of its own, as ``applyInPandas`` keeps it."""
    rows = []
    for _, g in pdf.groupby(["source", "segment_start"], dropna=False):
        head = g.iloc[0]
        rows.append((head["source"], head["segment_start"],
                     *encode_segment(g, value_col, codec_version)))
    cols = list(zip(*rows)) or [()] * 5
    return pa.table({
        "source": pa.array(cols[0], pa.string()),
        "segment_start": pa.array(cols[1], pa.timestamp("us")),
        "n_points": pa.array(cols[2], pa.int32()),
        "codec_version": pa.array([codec_version] * len(rows), pa.int32()),
        "ts_payload": pa.array(cols[3], pa.binary()),
        "v_payload": pa.array(cols[4], pa.binary()),
    })


def encodes_on_driver(spark, rows: int | None) -> bool:
    """Whether ``compress_tier`` encodes an input of at most ``rows``
    rows on the driver: ``rows`` is known and within a positive
    ``spark.sql.execution.arrow.maxRecordsPerBatch``."""
    cap = int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
    return rows is not None and 0 < cap and rows <= cap


def compress_tier(
    tier: DataFrame, value_col: str = "avg_v",
    codec_version: int = CODEC_VERSION_V2, rows: int | None = None,
) -> DataFrame:
    """tier(source, bucket_ts, <value_col>, ...) -> compressed chunk rows.

    ``rows`` is an upper bound of the tier's rows that the caller knows
    without running a job (parquet footers). When it is within the Arrow
    batch cap (``encodes_on_driver``), the tier is collected and the
    driver encodes it at call time (``encode_segments``) into a
    one-partition DataFrame, and no Python worker starts. Otherwise, or
    without a bound, the rows are grouped by (source, segment) and
    encoded on the executors (``applyInPandas``). Both paths run
    ``encode_segment`` over the same wall-clock timestamps, so they give
    the same chunk rows."""
    spark = tier.sparkSession
    seg = F.date_trunc("day", F.col("bucket_ts")).alias("segment_start")
    if encodes_on_driver(spark, rows):
        # timestamp_ntz carries the session's wall clock, as a pandas UDF
        # sees it, whatever the session time zone
        local = tier.select(
            "source", seg.cast("timestamp_ntz").alias("segment_start"),
            F.col("bucket_ts").cast("timestamp_ntz").alias("bucket_ts"),
            value_col,
        ).toArrow()
        pdf = local.to_pandas(coerce_temporal_nanoseconds=True)
        chunks = spark.createDataFrame(
            encode_segments(pdf, value_col, codec_version),
            CHUNK_SCHEMA.replace("timestamp", "timestamp_ntz"),
        )
        # a local relation spreads over every core; one partition
        # writes one file
        return chunks.withColumn(
            "segment_start", F.col("segment_start").cast("timestamp")
        ).coalesce(1)

    def encode_group(pdf: pd.DataFrame) -> pd.DataFrame:
        n, ts_payload, v_payload = encode_segment(pdf, value_col, codec_version)
        return pd.DataFrame(
            {
                "source": [pdf["source"].iloc[0]],
                "segment_start": [pdf["segment_start"].iloc[0]],
                "n_points": [n],
                "codec_version": [codec_version],
                "ts_payload": [ts_payload],
                "v_payload": [v_payload],
            }
        )

    return (
        tier.select("source", seg, "bucket_ts", value_col)
        .groupBy("source", "segment_start")
        .applyInPandas(encode_group, schema=CHUNK_SCHEMA)
    )


def decompress_chunks(chunks: DataFrame, value_col: str = "avg_v") -> DataFrame:
    """chunk rows -> (source, bucket_ts, <value_col>) point rows."""

    out_schema = f"source string, bucket_ts timestamp, {value_col} double"

    def decode_batch(it):
        for pdf in it:
            frames = []
            for row in pdf.itertuples(index=False):
                n = int(row.n_points)
                dec_ts, dec_v = _DECODERS[int(row.codec_version)]
                ts = dec_ts(bytes(row.ts_payload), n)
                vals = dec_v(bytes(row.v_payload), n)
                frames.append(
                    pd.DataFrame(
                        {
                            "source": row.source,
                            "bucket_ts": pd.to_datetime(ts, unit="s"),
                            value_col: vals,
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    return chunks.mapInPandas(decode_batch, schema=out_schema)


def encode_ratio(chunks: DataFrame) -> DataFrame:
    """Per-source compression metrics: raw vs encoded bytes (16B/point raw)."""
    return chunks.groupBy("source").agg(
        F.sum("n_points").alias("points"),
        F.sum(F.octet_length("ts_payload") + F.octet_length("v_payload")).alias(
            "encoded_bytes"
        ),
        (
            F.sum(F.octet_length("ts_payload") + F.octet_length("v_payload"))
            / (F.sum("n_points") * 16.0)
        ).alias("ratio"),
    )
