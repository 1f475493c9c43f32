"""Streaming event-time rates (SURVEY.md ST4/ST5).

Batch form: ``floor(TIME / 25)`` binning (cosmo dark rate,
ref: cosmo/monitors/dark_monitors.py:60-93).  Streaming form: tumbling
event-time windows with a watermark bounding state for late events — the
strict analog the reference lacks (its lag tolerance is the silent inner-join
drop noted in SURVEY.md ST5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_rates(
    events: DataFrame,
    time_col: str = "ts",
    window: str = "25 seconds",
    watermark: str = "2 minutes",
    group_cols: tuple[str, ...] = ("event_type",),
) -> DataFrame:
    """Tumbling-window event counts + per-second rates.

    Works on both batch and streaming DataFrames (same code path — the
    batch twin of the q21 catalog query); on a stream the watermark drops
    events later than ``watermark`` and lets Spark evict window state.

    The per-second divisor is DERIVED from each window's own bounds
    (end − start), never passed separately — a caller changing ``window``
    cannot silently desynchronize the rate denominator.
    """
    if events.isStreaming:
        events = events.withWatermark(time_col, watermark)
    return (
        events.groupBy(*group_cols, F.window(time_col, window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            *group_cols,
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n",
            (
                F.col("n")
                / (
                    F.unix_timestamp("win.end")
                    - F.unix_timestamp("win.start")
                )
            ).alias("rate_per_sec"),
        )
    )


def stream_rollup_cascade(
    spark,
    source_dir: str,
    schema,
    target_dir: str,
    checkpoint_dir: str,
    fmt: str = "json",
    trigger_once: bool = True,
):
    """Incrementally-maintained minute→hour→day rollup cascade — the
    streaming twin of q78 (the continuous-aggregate / hypertable refresh):
    each micro-batch's events fold ADDITIVELY into the stored minute grain,
    and only the hour/day buckets the batch touched are re-derived from the
    finer grain.

    Mechanics per batch: aggregate the batch to minute partials (counts +
    exact integer cents, q78's bit-exact discipline), additively merge into
    ``target_dir/minute`` keyed by (event_type, bucket_s) — existing and
    new partials SUM, which is correct for any associative measure and
    makes re-aggregation order-free — then recompute ONLY the affected
    hour buckets from the merged minute rows and the affected day buckets
    from the merged hour rows.  The untouched history is never read beyond
    the keyed anti-join; at 100 TB the three grain tables are partitioned
    by day so the rewrite touches a handful of partition directories
    (the partitioned ``merge_into_path`` shape: only affected partitions
    get new generations).

    Late data needs no special case: a late event lands in its (old)
    minute bucket and the cascade re-derives that bucket's hour/day —
    exactly what a watermark-windowed aggregate cannot do once state is
    dropped, and why the stored-grain formulation is the right one for
    unbounded lateness.
    """
    import os

    from pyspark.sql import functions as F

    from cosmo_spark.sources.files import atomic_overwrite, fs_exists

    def grain_path(g):
        return os.path.join(target_dir, g)

    def additive_merge(ss, path, updates, key_cols):
        """SUM-merge updates into the stored grain (atomic swap rewrite)."""
        if fs_exists(ss, path):
            current = ss.read.parquet(path)
            merged = (
                current.unionByName(updates)
                .groupBy(*key_cols)
                .agg(F.sum("n_events").alias("n_events"), F.sum("sc").alias("sc"))
            )
        else:
            merged = updates
        atomic_overwrite(merged, path)

    def rederive(ss, src_path, dst_path, factor, touched):
        """Recompute only the coarser buckets ``touched`` from the finer grain."""
        src = ss.read.parquet(src_path).withColumn(
            "cb", F.expr(f"(bucket_s div {factor}) * {factor}")
        )
        affected = src.join(
            F.broadcast(touched.withColumnRenamed("bucket_s", "cb").distinct()),
            ["event_type", "cb"],
        )
        coarse = affected.groupBy(
            "event_type", F.col("cb").alias("bucket_s")
        ).agg(F.sum("n_events").alias("n_events"), F.sum("sc").alias("sc"))
        if fs_exists(ss, dst_path):
            current = ss.read.parquet(dst_path)
            keep = current.join(
                F.broadcast(coarse.select("event_type", "bucket_s").distinct()),
                ["event_type", "bucket_s"],
                "left_anti",
            )
            coarse = keep.unionByName(coarse)
        atomic_overwrite(coarse, dst_path)

    def refresh(batch_df, batch_id):
        ss = batch_df.sparkSession
        mins = (
            batch_df.select(
                "event_type",
                F.expr(
                    "((unix_micros(ts) div 1000000) div 60) * 60"
                ).alias("bucket_s"),
                F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
            )
            .groupBy("event_type", "bucket_s")
            .agg(F.count(F.lit(1)).alias("n_events"), F.sum("cents").alias("sc"))
            .persist()
        )
        additive_merge(ss, grain_path("minute"), mins, ["event_type", "bucket_s"])
        touched_h = mins.select(
            "event_type", F.expr("(bucket_s div 3600) * 3600").alias("bucket_s")
        )
        rederive(ss, grain_path("minute"), grain_path("hour"), 3600, touched_h)
        touched_d = mins.select(
            "event_type", F.expr("(bucket_s div 86400) * 86400").alias("bucket_s")
        )
        rederive(ss, grain_path("hour"), grain_path("day"), 86400, touched_d)
        mins.unpersist()

    stream = (
        spark.readStream.format(fmt)
        .schema(schema)
        .option("maxFilesPerTrigger", 1000)
        .load(source_dir)
    )
    writer = stream.writeStream.foreachBatch(refresh).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
