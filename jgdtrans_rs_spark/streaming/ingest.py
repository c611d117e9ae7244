"""Structured Streaming ingest (batch parity first — north rule is a
batch spark-submit job; the stream path keeps the door open).

``stream_events`` builds a file-source stream over the events table
with a watermark on ``ts`` and a tumbling 1-hour aggregation — the
streaming twin of plans/webops.events_window_sql; the batch query is
the correctness oracle for it.

``stream_pages_transform`` shows the transform kernel in a stream:
readStream -> extract -> mapInPandas(forward) -> writeStream is the
same narrow stage as the batch plan, so the broadcast-grid design
carries over unchanged (state-free, watermark only for the windowed
metrics aggregation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import Engine


def stream_events_window(spark: SparkSession, events_dir: str, schema) -> DataFrame:
    """Watermarked tumbling-window aggregation over a file stream."""
    src = spark.readStream.schema(schema).parquet(events_dir)
    # watermarks need an instant (TIMESTAMP_LTZ); parquet may carry NTZ
    src = src.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        src.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100.0).cast("long")).alias("value_cents"),
        )
    )


def stream_pages_transform(engine: Engine, pages_stream: DataFrame,
                           lat: str = "lat", lon: str = "lon") -> DataFrame:
    """Forward-transform a streaming pages source (stateless map —
    identical plan shape to batch).

    EVERY row flows through — rows failing ``Point::new`` bounds
    (NULL/NaN/out-of-range coordinates) come out as dead-letter rows
    (status = 1, NULL outputs) instead of being silently dropped: a
    stream consumer must be able to SEE extraction degrade (the
    engine-wide error contract — 'dead-letter columns, never task
    failures').  The kernels are total over invalid inputs, so no
    validate-gate is needed; batch pipelines that want the split use
    ``engine.validate`` explicitly (scripts/run_pipeline.py)."""
    return engine.forward(pages_stream, lat, lon, None)


def _event_time(ts_col: str):
    """Event-time column for the watermark-stateful streams: a NULL
    timestamp (warc.read_warc NULLs unparseable WARC-Dates) would put
    the row in a NULL window group the watermark can never close, so
    exactly the records most likely to be dead letters would vanish
    from the output.  Arrival time is the honest proxy when the true
    event time is unknown — the row keeps flowing and its window
    closes normally."""
    return F.coalesce(F.col(ts_col).cast("timestamp"),
                      F.current_timestamp())


def _surrogate_key(prefix: str, cols) -> "F.Column":
    """NULL-safe, delimiter-safe per-row key for dedup dead letters.
    concat_ws SKIPS null arguments (two rows differing only in a NULL
    field would collide) and a ':' separator is injectable from url
    text, so every part is null-marked and joined on unit-separator
    \\x1f, which no legitimate url/timestamp contains."""
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
             for c in cols]
    return F.concat_ws("\x1f", F.lit(prefix), *parts)


def stream_transform_tile_counts(engine: Engine, pages_stream: DataFrame,
                                 lat: str = "lat", lon: str = "lon",
                                 ts_col: str = "warc_ts",
                                 watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the fused batch chain: forward transform +
    tile assignment (one Arrow hop, same Engine kernel as batch), then
    a watermarked tumbling-window count per mesh tile — the live
    corpus-coverage monitor for an ingesting crawl.

    Plan shape: the kernel stage is stateless and narrow (identical to
    batch — the broadcast grid carries over unchanged); the only
    stateful operator is the windowed aggregation, whose state is
    bounded by (watermark horizon x distinct tiles).  At 100 TB-rate
    ingest the aggregation key (window, meshcode) is the shuffle key;
    tile skew (Tokyo) is the same skew the batch salted join handles,
    and AQE handles it here.

    Failed rows are NOT dropped: transform/extraction failures
    aggregate under meshcode -1 (their outputs are NaN) and every
    bucket reports ``n_failed`` — a coverage monitor that silently
    discarded bad rows would undercount exactly when extraction
    degrades."""
    src = pages_stream.withColumn(ts_col, _event_time(ts_col))
    # genuinely ONE Arrow hop (r06): this previously chained
    # engine.forward -> engine.assign_tiles, i.e. TWO Python stages
    # with a full Arrow (de)serialization between them — the exact
    # cost transform_and_tile exists to avoid (engine.py docstring);
    # the fused kernel computes the identical columns in the same
    # order (tile bounds and float ops unchanged, batch-parity test)
    tiled = engine.transform_and_tile(src, lat, lon, None)
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, "1 hour"), "meshcode")
        .agg(
            F.count("*").alias("n_pages"),
            F.sum(F.when(F.col("status") != 0, 1).otherwise(0))
            .cast("long").alias("n_failed"),
        )
    )


def stream_dedup_exact(pages_stream: DataFrame, text_col: str = "text",
                       ts_col: str = "warc_ts",
                       watermark: str = "24 hours",
                       id_cols: tuple = ("url",)) -> DataFrame:
    """Streaming dedup-on-arrival: the streaming twin of
    plans/webops.dedup_exact_sql.  ``dropDuplicatesWithinWatermark`` on
    the content digest keeps state only for the watermark horizon —
    bounded state at corpus scale (a plain dropDuplicates would grow
    state forever on an unbounded crawl)."""
    # NULL text (extraction dead letters) would md5 to NULL, and
    # dropDuplicates* treats NULL as ONE grouping value — every dead
    # letter after the first would be swallowed; the surrogate keeps
    # each distinct dead-letter row alive
    key = F.coalesce(F.md5(F.col(text_col)),
                     _surrogate_key("dead", [*id_cols, ts_col]))
    return (
        pages_stream
        .withColumn(ts_col, _event_time(ts_col))
        .withColumn("digest", key)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["digest"])
    )
