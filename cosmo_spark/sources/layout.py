"""Table layout at rest: partitioning and bucketing (docs/SCALE.md).

The reference's layout is one subdirectory per 5-digit program id, scanned
with a subdir glob (ref: cosmo_config.yml:1-3,
cosmo/monitors/data_models.py:28,97; cosmo/filesystem.py:285-286) — a manual
partition-pruning scheme.  Spark-first equivalents:

- ``write_partitioned``: Hive-style partition directories; filters on the
  partition key prune at planning time (no file even listed).
- ``write_bucketed`` / ``read_bucketed``: pre-shuffle both sides of a
  recurring join by the same key into the same bucket count — the join
  becomes a zipped per-bucket merge with NO exchange at query time.  At
  100 TB this converts the dominant repeated shuffle into a one-time cost
  paid at write.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_cols: str | Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Write with Hive-style partition directories (partition pruning)."""
    cols = [partition_cols] if isinstance(partition_cols, str) else list(partition_cols)
    df.write.mode(mode).partitionBy(*cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: str | Sequence[str],
    num_buckets: int = 32,
    sort_cols: str | Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Both sides of a recurring equi-join written with the SAME bucket spec
    join without any Exchange (verified in tests/test_layout.py).
    """
    bucket_cols = [bucket_cols] if isinstance(bucket_cols, str) else list(bucket_cols)
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        sort_cols = [sort_cols] if isinstance(sort_cols, str) else list(sort_cols)
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def zorder_value(cols: Sequence, bits: int = 16):
    """Z-order (Morton) key: interleave the low ``bits`` bits of each
    column's rank-quantized value.

    Rows close in EVERY dimension land close on the z-curve, so sorting by
    this key clusters multi-dimensional locality into the same files /
    row groups — parquet min/max stats then skip most of the table for
    conjunctive range predicates on any prefix of the dimensions, which
    one-dimensional sorting only achieves for its leading column.

    Inputs must already be non-negative integers in [0, 2^bits) — callers
    quantize (rank, epoch-bucket, geo-cell) first.  The interleave is a
    chain of shift/or expressions — pure codegen, no UDF.
    """
    from pyspark.sql import functions as F

    z = F.lit(0).cast("long")
    for i in range(bits):
        for d, c in enumerate(cols):
            c = F.col(c) if isinstance(c, str) else c
            bit = F.call_function(
                "shiftright", c.cast("long"), F.lit(i)
            ).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(
                F.call_function(
                    "shiftleft", bit, F.lit(i * len(cols) + d)
                )
            )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: Sequence[str],
    bits: int = 16,
    num_files: int = 32,
    mode: str = "overwrite",
    quantize: str = "minmax",
) -> None:
    """Write ``df`` clustered along the z-curve of ``zorder_cols``.

    Each dimension is quantized to [0, 2^bits), the Morton key is
    range-partitioned into ``num_files`` output files and sorted within
    each, so every file owns a compact z-range — a small hyper-rectangle
    of the data space — and parquet footer stats on the ORIGINAL columns
    become selective for conjunctive range predicates on any subset of
    the dimensions (1-D sorting only achieves that for its leading
    column).

    This is the multi-dimensional complement to ``write_bucketed``: use
    bucketing for recurring equi-joins, z-ordering for conjunctive range
    scans (time x user, x/y detector coordinates — the dark-monitor
    region predicates, ref: cosmo/monitors/dark_monitors.py).

    ``quantize="minmax"`` (default) maps values linearly between the
    per-dimension min/max, attached as a BROADCAST scalar aggregate — one
    tiny extra pass, everything stays distributed; right for roughly
    uniform keys (timestamps, sequential ids).  ``quantize="ntile"`` uses
    exact global ranks instead — distribution-robust for heavily skewed
    dimensions, but each rank is a global-sort window: acceptable for
    one-time layout jobs, not for a recurring path.  At 100 TB prefer
    minmax, or pre-bin skewed dimensions yourself (approxQuantile edges)
    before calling this.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    n_bins = 1 << bits
    tmp = df
    qcols = []
    if quantize == "ntile":
        for c in zorder_cols:
            qc = f"__q_{c}"
            tmp = tmp.withColumn(qc, F.ntile(n_bins).over(Window.orderBy(c)) - 1)
            qcols.append(qc)
    elif quantize == "minmax":
        stats = df.agg(
            *[
                f(c).alias(f"__{nm}_{c}")
                for c in zorder_cols
                for nm, f in (("mn", F.min), ("mx", F.max))
            ]
        )
        tmp = tmp.crossJoin(F.broadcast(stats))
        for c in zorder_cols:
            qc = f"__q_{c}"
            mn, mx = F.col(f"__mn_{c}"), F.col(f"__mx_{c}")
            span = (mx.cast("double") - mn.cast("double")) + 1e-12
            tmp = tmp.withColumn(
                qc,
                F.least(
                    F.lit(n_bins - 1),
                    F.floor(
                        (F.col(c).cast("double") - mn.cast("double"))
                        / span * n_bins
                    ),
                ),
            )
            qcols.append(qc)
        tmp = tmp.drop(*[f"__{nm}_{c}" for c in zorder_cols for nm in ("mn", "mx")])
    else:  # pragma: no cover
        raise ValueError(f"unknown quantize mode: {quantize}")
    tmp = tmp.withColumn("__z", zorder_value(qcols, bits)).drop(*qcols)
    (
        tmp.repartitionByRange(num_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
) -> int:
    """Compact a small-file parquet table to ~``target_file_bytes`` files;
    returns the new file count.

    Streaming/micro-batch ingest (stream_ingest_merge, stream_ingest_dedup)
    appends one file set per trigger; after a day of 1-minute batches a
    table is thousands of KB-sized files whose open/footer overhead
    dominates scans.  Compaction = read, repartition to
    ceil(total_bytes/target), atomic-swap rewrite (the merge_into_path
    discipline).  Sizing reads the filesystem's content summary through
    the Hadoop FS API, so it works on any supported scheme, and the
    repartition is a round-robin exchange — the ONLY shuffle, carrying
    each byte once.  At 100 TB you compact per partition directory
    (compact only partitions whose file count exceeds a threshold), which
    is this operation applied per partition generation of the versioned
    store (sources/versioned) instead of the whole-table swap.
    """
    import math

    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    # partition guard through the SAME filesystem handle as the sizing —
    # a local-glob check would silently never match on hdfs:// or
    # object-store schemes, letting a partitioned table be rewritten with
    # its partition columns flattened into data files
    for status in fs.listStatus(hpath):
        if status.isDirectory() and "=" in status.getPath().getName():
            raise ValueError(
                f"{path} is Hive-partitioned: whole-table compaction would "
                "flatten the partition columns into data files. Compact each "
                "partition directory instead (or rewrite with partitionBy)."
            )
    total = fs.getContentSummary(hpath).getLength()
    from cosmo_spark.sources.files import atomic_overwrite

    n_files = max(1, math.ceil(total / target_file_bytes))
    atomic_overwrite(spark.read.parquet(path).repartition(n_files), path)
    return n_files
