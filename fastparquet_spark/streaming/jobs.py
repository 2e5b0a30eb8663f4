from __future__ import annotations

from fastparquet_spark.engine.commit import u_join


def encode_stream(spark, stream_df, out_dir: str, checkpoint_dir: str, *,
                  compression: str = "ZSTD", partition_cols=("lang",),
                  num_partitions: int = 4, available_now: bool = True,
                  layout: str = "flat", fmt: str = "parquet"):
    """Stream -> encode engine, one epoch directory per micro-batch.

    foreachBatch hands us a normal DataFrame per epoch; we run the same
    salted-repartition + mapInArrow encode as the batch path.  If Spark
    replays an epoch after a crash, resume=True makes the replay a no-op
    for already-committed partitions (manifest rename = commit).

    ``fmt``: 'parquet' (default) or 'fpsc' — one sink API over both
    output formats (the container epoch uses encode_dataset_fpsc with
    the same manifest/resume idempotence).
    """
    from fastparquet_spark.engine import encode_dataset
    from fastparquet_spark.engine.fpsc_job import encode_dataset_fpsc

    if fmt not in ("parquet", "fpsc"):
        raise ValueError("fmt must be 'parquet' or 'fpsc'")
    if fmt == "fpsc" and layout != "flat":
        raise ValueError(
            "layout is parquet-only; the fpsc epoch sink writes flat "
            "containers (silently ignoring layout hid the mismatch)")
    from fastparquet_spark.io import get_fs

    get_fs(out_dir).makedirs(out_dir)  # fs seam: URI sinks work too

    def handle(batch_df, epoch_id: int):
        epoch_dir = u_join(out_dir, f"epoch={epoch_id:08d}")
        if fmt == "fpsc":
            encode_dataset_fpsc(batch_df.sparkSession, batch_df, epoch_dir,
                                compression=compression,
                                partition_cols=partition_cols,
                                num_partitions=num_partitions,
                                resume=True).collect()
            return
        encode_dataset(batch_df.sparkSession, batch_df, epoch_dir,
                       compression=compression, partition_cols=partition_cols,
                       num_partitions=num_partitions, layout=layout,
                       resume=True).collect()

    writer = (stream_df.writeStream
              .foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(spark, stream_df, *, window: str = "1 hour",
                          watermark: str = "2 hours"):
    """Watermarked tumbling-window counts per event_type — the standard
    late-data-tolerant streaming aggregation (bounded state: windows
    older than the watermark are finalized and dropped)."""
    from pyspark.sql import functions as F

    # Watermarks REQUIRE TIMESTAMP (Spark rejects NTZ event time).  A
    # bare cast interprets the wall clock in the SESSION timezone, so
    # hourly buckets land at :30 under a +05:30 offset and shift across
    # DST transitions.  Composing the cast with to_utc_timestamp maps
    # the NTZ wall clock onto UTC instants exactly (any fixed offset),
    # so buckets align with the input wall clock — matching Spark's own
    # batch window() over NTZ; the inherently ambiguous DST-transition
    # hour is the one residual.
    ntz = dict(stream_df.dtypes).get("ts") == "timestamp_ntz"
    if ntz:
        stream_df = stream_df.withColumn(
            "ts", F.to_utc_timestamp(F.col("ts").cast("timestamp"),
                                     F.expr("current_timezone()")))
    start = F.col("w.start")
    if ntz:
        # render the UTC instant's UTC wall clock back as NTZ, so the
        # output type matches the input column's
        start = F.convert_timezone(
            F.expr("current_timezone()"), F.lit("UTC"),
            F.col("w.start").cast("timestamp_ntz"))
    return (stream_df
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", window).alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 F.sum("value").alias("total_value"))
            .select(start.alias("window_start"),
                    "event_type", "n_events", "total_value"))


def running_user_totals(spark, stream_df):
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-user running (event count, value total) maintained ACROSS
    micro-batches — the arbitrary-state API the built-in windowed aggs
    can't express (e.g. lifetime counters, sessionization).  Emits the
    updated cumulative row for every user seen in the batch."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ])
    state_schema = StructType([
        StructField("n", LongType()),
        StructField("total", DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n],
                            "total_value": [total]})

    return (stream_df.select("user_id", "value")
            .groupBy("user_id")
            .applyInPandasWithState(update, out_schema, state_schema,
                                    "update", GroupStateTimeout.NoTimeout))
