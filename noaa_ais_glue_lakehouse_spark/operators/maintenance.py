"""Table-maintenance operators: parquet footer auditing and small-file
compaction planning.

Lakehouse tables degrade operationally long before they degrade
logically — thousands of small files from streaming commits, row groups
too small for effective column-stat skipping. These operators turn the
maintenance decision into data: footer stats collected scale-out (the
executors read footers, never the driver), and a deterministic
bin-packing plan built with the same two-phase prefix scan the query
layer uses.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.sources.readers import empty_frame

FOOTER_SCHEMA = (
    "path string, rg_idx int, n_rows long, n_cols int, "
    "compressed_bytes long, uncompressed_bytes long"
)


def parquet_footer_stats(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Per-row-group parquet footer statistics, read ON THE EXECUTORS via
    Arrow-batched ``mapInPandas`` over a path list — the driver never
    opens a file, so auditing a 100k-file table parallelizes like any
    scan. One output row per (file, row group): row count, column
    count, compressed/uncompressed byte sizes — the raw material for
    compaction and row-group-sizing decisions.
    """
    if not paths:  # a brand-new table has no files yet; audit is empty
        return empty_frame(spark, FOOTER_SCHEMA)
    src = spark.createDataFrame([(p,) for p in paths], "path string")
    # many small footer reads per task: spread paths across tasks
    src = src.repartition(min(len(paths), 32))

    def _stats(batches: Iterator) -> Iterator:
        import pandas as pd
        import pyarrow.parquet as pq

        def _footer(p: str):
            # URI-schemed paths (s3://, hdfs://, gs://) resolve through a
            # pyarrow FileSystem on the EXECUTOR — plain paths open
            # locally. from_uri returns (fs, fs-relative path).
            if "://" in p:
                from pyarrow import fs as pafs

                filesystem, rel = pafs.FileSystem.from_uri(p)
                with filesystem.open_input_file(rel) as f:
                    return pq.ParquetFile(f).metadata
            return pq.ParquetFile(p).metadata

        for pdf in batches:
            rows = []
            for p in pdf["path"]:
                md = _footer(p)
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    # compressed size is tracked per column chunk
                    comp = sum(
                        rg.column(c).total_compressed_size
                        for c in range(rg.num_columns)
                    )
                    rows.append(
                        (p, i, rg.num_rows, md.num_columns, comp, rg.total_byte_size)
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "path",
                    "rg_idx",
                    "n_rows",
                    "n_cols",
                    "compressed_bytes",
                    "uncompressed_bytes",
                ],
            )

    return src.mapInPandas(_stats, schema=FOOTER_SCHEMA)


def plan_compaction(
    stats: DataFrame,
    target_bytes: int,
    path_col: str = "path",
    bytes_col: str = "compressed_bytes",
) -> DataFrame:
    """Deterministic next-fit compaction plan: files in path order are
    packed into output groups of roughly ``target_bytes`` — a file
    starts a new group when the running total before it crosses a
    target boundary. Returns one row per group: bin, n_files,
    total_bytes, files (sorted array).

    The group assignment is an exclusive-prefix-sum bucket —
    bin = floor(exclusive_cum / target) — computed with the two-phase
    parallel prefix scan, so planning a million-file table never
    single-tasks. Next-fit (not best-fit) is the point: it is
    order-deterministic, needs one pass, and its groups are within 2x
    of optimal, which is what table-maintenance jobs actually need.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    per_file = stats.groupBy(F.col(path_col).alias("path")).agg(
        F.sum(F.col(bytes_col)).alias("bytes")
    )
    run = global_running_sum(per_file, ["path"], "bytes", out_col="cum")
    binned = run.select(
        "path",
        "bytes",
        F.floor((F.col("cum") - F.col("bytes")) / F.lit(target_bytes)).alias(
            "bin"
        ),
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.sum("bytes").cast("long").alias("total_bytes"),
        F.array_sort(F.collect_list("path")).alias("files"),
    )
