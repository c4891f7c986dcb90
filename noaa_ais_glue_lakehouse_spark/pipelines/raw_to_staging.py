"""Raw→staging pipeline (SURVEY §3.1): the cleaning chain as one pure
function plus a thin runner that owns IO.

Chain order preserves the reference exactly
(``pipelines/raw_to_staging.py:79-143``): normalize → schema-align →
empty→null → timestamp parse + partition derive → coordinate split →
clamp → content dedup → movement flag. Two deliberate departures, both
SURVEY §7.4 resolutions:

- partition columns year/month/day are cast to INT before the write
  (the reference wrote strings against an int-declared schema);
- quarantine rows keep their own year/month/day (partition-aware sink)
  instead of stamping the whole spill with ``df.first()``'s values.

Scale: the chain is a single narrow projection pipeline — no shuffle
until the dedup groupBy, and the partitioned write reuses the dedup
shuffle's layout when AQE is on. The runner scans the CSV exactly twice,
once per sink: the quarantine write (its row count observed during the
write, its per-day files formed by a rebalance shuffle, so the scan keeps
its full parallelism) and the staging write (counters observed the same
way). At 100 TB the input is a partitioned table root; Catalyst prunes
the day window from the filter, replacing the reference's driver-side
path enumeration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from noaa_ais_glue_lakehouse_spark.operators.cleaning import (
    clean_coordinates,
    clean_sog_cog_heading,
    dedup_by_content_hash,
    derive_movement_flag,
    normalize_columns,
    parse_base_datetime,
    replace_empty_with_null,
    align_schema,
)
from noaa_ais_glue_lakehouse_spark.schemas import AIS_RAW_SCHEMA
from noaa_ais_glue_lakehouse_spark.sources.readers import read_csv_with_header
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    write_partitioned_parquet,
    write_quarantine,
)

PARTITION_COLS = ["year", "month", "day"]


def transform_raw_to_staging(
    df: DataFrame, schema: T.StructType | None = None
) -> tuple[DataFrame, DataFrame]:
    """P1→P7 + D1 over a raw-zone DataFrame → (staging, quarantine).

    Pure function: no IO, no session access — unit-testable on literal
    DataFrames exactly like the reference's integration slice
    (``tests/integration/test_integration_pipeline.py:11-35``).
    """
    out = normalize_columns(df)
    out = align_schema(out, schema or AIS_RAW_SCHEMA)
    out = replace_empty_with_null(out)
    out = parse_base_datetime(out)  # derives year/month/day strings
    valid, invalid = clean_coordinates(out)
    valid = clean_sog_cog_heading(valid)
    valid = dedup_by_content_hash(valid)
    valid = derive_movement_flag(valid)
    # SURVEY §7.4.4 resolution: INT partition columns
    for c in PARTITION_COLS:
        valid = valid.withColumn(c, F.col(c).cast("int"))
        invalid = (
            invalid.withColumn(c, F.col(c).cast("int"))
            if c in invalid.columns
            else invalid
        )
    return valid, invalid


def run_raw_to_staging(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    quarantine_path: str | None = None,
    schema: T.StructType | None = None,
) -> dict[str, int]:
    """Read raw CSV, clean, write partitioned staging parquet (+quarantine).

    Returns counters. The reference's per-day driver loop
    (``raw_to_staging.py:233-236``) is unnecessary: dynamic partition
    overwrite scopes the write to whatever days the input contains.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        with_row_observations,
    )

    raw = read_csv_with_header(spark, input_path)
    staging, quarantine = transform_raw_to_staging(raw, schema)
    n_quarantined = (
        write_quarantine(quarantine, quarantine_path, PARTITION_COLS)
        if quarantine_path
        else 0
    )
    # A7: row counters ride along with the write job (observe()), replacing
    # the reference's extra count() jobs behind LOG_COUNTS
    staging, obs = with_row_observations(staging, null_check_cols=["MMSI"])
    write_partitioned_parquet(staging, output_path, PARTITION_COLS)
    metrics = obs.get
    return {
        "rows_written": metrics["n_rows"],
        "null_mmsi": metrics["n_null_MMSI"],
        "quarantined": n_quarantined,
    }
