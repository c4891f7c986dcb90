"""The daily ETL does each piece of work once: the empty-snapshot fallback
has no Python leaf, the quarantine write keeps its scan parallel, the
state snapshot read back from the sampled window equals one built from
the unsampled trajectory, and the table-driven geohash matches bisection.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.spatial import geohash_expr
from noaa_ais_glue_lakehouse_spark.operators.sessionize import latest_per_entity
from noaa_ais_glue_lakehouse_spark.pipelines.raw_to_staging import transform_raw_to_staging
from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
    compute_trajectory,
    run_trajectory_window,
)
from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA
from noaa_ais_glue_lakehouse_spark.sources.readers import read_csv_with_header
from noaa_ais_glue_lakehouse_spark.sources.writers import (
    read_state_snapshot_by_date,
    write_quarantine,
)

ROOT = Path(__file__).resolve().parents[1]


def test_missing_snapshot_fallback_is_an_exact_empty_leaf(spark, tmp_path):
    empty = read_state_snapshot_by_date(
        spark, str(tmp_path / "state"), "1999-01-01", STATE_SNAPSHOT_SCHEMA
    )
    assert empty.schema == STATE_SNAPSHOT_SCHEMA
    assert not empty.schema["MMSI"].nullable
    assert empty.rdd.getNumPartitions() == 0
    assert empty.count() == 0


# Runs in a fresh session, so that no earlier test's Python worker daemon
# hides whether this plan starts one. Prints the daemons under this process
# after a union over the fallback, then after a union over createDataFrame([]).
_DAEMON_PROBE = textwrap.dedent(
    """
    import os, sys
    from pyspark.sql import SparkSession, functions as F
    from noaa_ais_glue_lakehouse_spark.schemas import STATE_SNAPSHOT_SCHEMA
    from noaa_ais_glue_lakehouse_spark.sources.writers import read_state_snapshot_by_date

    def daemons():
        me, found = os.getpid(), 0
        for pid in filter(str.isdigit, os.listdir("/proc")):
            p = int(pid)
            try:
                argv = open(f"/proc/{pid}/cmdline", "rb").read().split(b"\\0")
                while p > 1 and p != me:
                    p = int(open(f"/proc/{p}/stat").read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            found += p == me and int(pid) != me and b"pyspark.daemon" in argv
        return found

    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false").getOrCreate())
    jvm_rows = spark.range(3).select(
        F.col("id").cast("int").alias("MMSI"),
        F.timestamp_seconds("id").alias("BaseDateTime"),
        F.col("id").cast("double").alias("LAT"),
        F.col("id").cast("double").alias("LON"),
        F.col("id").alias("VoyageID"),
    )
    empty = read_state_snapshot_by_date(spark, sys.argv[1], "1999-01-01", STATE_SNAPSHOT_SCHEMA)
    assert jvm_rows.unionByName(empty).count() == 3
    print("fallback", daemons())
    assert jvm_rows.unionByName(spark.createDataFrame([], STATE_SNAPSHOT_SCHEMA)).count() == 3
    print("python_leaf", daemons())
    spark.stop()
    """
)


@pytest.mark.skipif(not os.path.isdir("/proc/self"), reason="needs /proc")
def test_union_over_fallback_starts_no_python_daemon(tmp_path):
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([str(ROOT), os.environ.get("PYTHONPATH", "")]))
    res = subprocess.run(
        [sys.executable, "-c", _DAEMON_PROBE, str(tmp_path / "state")],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    counts = dict(line.split() for line in res.stdout.splitlines() if line.count(" ") == 1)
    assert counts["fallback"] == "0"
    # the probe does see a daemon once a Python leaf runs
    assert counts["python_leaf"] != "0"


def _staging_rows():
    """Vessel 1: a voyage crossing midnight at 1-minute cadence (fast, so
    sampling thins it), then a new voyage after a 4 h gap ending anchored.
    Vessel 2: same shape, offset. Vessel 3: day 1 only, silent on day 2."""
    rows = []
    for mmsi, off in ((1, 0), (2, 7)):
        t0 = dt.datetime(2024, 1, 1, 22, off)
        for i in range(150):  # 22:00 → 00:30, across midnight
            rows.append((mmsi, t0 + dt.timedelta(minutes=i), 10.0 + i * 1e-3, 20.0 + mmsi, 12.0))
        t1 = dt.datetime(2024, 1, 2, 4, 40 + off)  # > 3 h after the last point
        for i in range(60):
            rows.append((mmsi, t1 + dt.timedelta(minutes=i), 11.0, 21.0 + i * 1e-3, 12.0 if i < 40 else 0.0))
    for i in range(90):
        rows.append((3, dt.datetime(2024, 1, 1, 6) + dt.timedelta(minutes=i), 30.0, 40.0 + i * 1e-3, 15.0))
    return rows


def test_sampled_window_snapshot_equals_unsampled_latest(spark, tmp_path):
    cols = ["MMSI", "BaseDateTime", "LAT", "LON", "SOG"]
    staging_df = spark.createDataFrame(_staging_rows(), cols)
    staging = str(tmp_path / "staging")
    staging_df.write.parquet(staging)
    state = str(tmp_path / "state")
    state_cols = [f.name for f in STATE_SNAPSHOT_SCHEMA.fields]
    for day in ("2024-01-01", "2024-01-02"):
        out = run_trajectory_window(
            spark, staging, str(tmp_path / "curated"), state, day, day,
            mode="incremental", sample=True,
        )
        # unsampled trajectory of everything up to the end of `day`
        end = dt.datetime.fromisoformat(day) + dt.timedelta(days=1)
        unsampled = compute_trajectory(staging_df.filter(F.col("BaseDateTime") < F.lit(end)))
        in_window = unsampled.filter(F.to_date("BaseDateTime") == F.lit(day).cast("date"))
        assert out.count() < in_window.count()  # sampling really thinned the window
        want = sorted(tuple(r) for r in latest_per_entity(unsampled, "MMSI", "BaseDateTime").select(*state_cols).collect())
        got = sorted(
            tuple(r)
            for r in read_state_snapshot_by_date(spark, state, day, STATE_SNAPSHOT_SCHEMA).collect()
        )
        assert got == want, day
    assert {r[0] for r in got} == {1, 2, 3}  # vessel 3 kept while silent


def _stage_metrics(spark, job_ids):
    store = spark.sparkContext._jsc.sc().statusStore()
    tracker = spark.sparkContext.statusTracker()
    out = []
    for j in job_ids:
        for sid in tracker.getJobInfo(j).stageIds:
            sd = store.lastStageAttempt(sid)
            out.append((sd.numTasks(), sd.inputBytes()))
    return out


def _plans(spark, job_ids):
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return [
        execs.apply(i).physicalPlanDescription()
        for i in range(execs.size())
        if any(execs.apply(i).jobs().contains(j) for j in job_ids)
    ]


def test_quarantine_write_keeps_scan_parallel(spark, tmp_path):
    header = "mmsi,base_date_time,latitude,longitude,sog,cog,heading\n"
    raw = tmp_path / "raw"
    raw.mkdir()
    (raw / "a.csv").write_text(header + "100,2024-01-01 10:00:00,95.0,20.0,5,90,91\n101,2024-01-02 10:00:00,10.0,20.0,5,90,91\n")
    (raw / "b.csv").write_text(header + "102,2024-01-01 11:00:00,95.0,20.0,1,1,1\n103,2024-01-02 11:00:00,-95.0,20.0,1,1,1\n")
    _, quarantine = transform_raw_to_staging(read_csv_with_header(spark, str(raw)))
    sc = spark.sparkContext
    sc.setJobGroup("quarantine-write", "quarantine write")
    try:
        assert write_quarantine(quarantine, str(tmp_path / "q")) == 3
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = list(sc.statusTracker().getJobIdsForGroup("quarantine-write"))
    scans = [tasks for tasks, input_bytes in _stage_metrics(spark, jobs) if input_bytes > 0]
    assert scans and min(scans) >= 2
    plans = _plans(spark, jobs)
    assert plans and all("Scan csv" in p and "Coalesce 1" not in p for p in plans)
    days = tmp_path / "q/year=2024/month=1"
    assert sorted(os.listdir(days)) == ["day=1", "day=2"]
    assert all(len(list((days / d).glob("part-*.csv"))) == 1 for d in ("day=1", "day=2"))


def _bisect_geohash(lat: float, lon: float, precision: int) -> str:
    """Textbook encoder: halve the lon, lat ranges alternately, one bit each."""
    b32 = "0123456789bcdefghjkmnpqrstuvwxyz"
    ranges, value, bits = {"lon": [-180.0, 180.0], "lat": [-90.0, 90.0]}, {"lon": lon, "lat": lat}, []
    for i in range(5 * precision):
        axis = "lon" if i % 2 == 0 else "lat"
        lo, hi = ranges[axis]
        mid = (lo + hi) / 2
        bits.append(value[axis] >= mid)
        ranges[axis] = [mid, hi] if bits[-1] else [lo, mid]
    return "".join(
        b32[int("".join("1" if b else "0" for b in bits[k : k + 5]), 2)] for k in range(0, len(bits), 5)
    )


def test_geohash_matches_bisection_every_precision(spark):
    rng = random.Random(20240101)
    pts = [(round(rng.uniform(-90, 90), 6), round(rng.uniform(-180, 180), 6)) for _ in range(1000)]
    pts += [(90.0, 180.0), (-90.0, -180.0), (0.0, 0.0)]
    df = spark.createDataFrame(pts, "lat double, lon double")
    got = df.select(
        *[geohash_expr(F.col("lat"), F.col("lon"), p).alias(f"g{p}") for p in range(1, 13)]
    ).collect()
    for (lat, lon), row in zip(pts, got):
        assert list(row) == [_bisect_geohash(lat, lon, p) for p in range(1, 13)], (lat, lon)
