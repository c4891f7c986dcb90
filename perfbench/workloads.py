"""The benchmark's three workloads.

Each is a closed loop: one client thread issues the workload's calls one
after another, and a *pass* is one sweep through them. A workload writes
its inputs from the seed (``generate``), derives the expected answers
outside any timed region (``prepare``), runs passes (``run_pass``), and
checks outputs (``after_pass`` and ``final_checks``, untimed).

Why these three (each exercises layers the others bypass):

- ``ais_daily_etl`` is the paper's own daily job and the only one that
  writes: pipelines, sources (CSV reader, stage-then-swap partitioned
  writer, quarantine, state snapshots), cleaning/sessionize/sampling/state
  operators and the hashing/spatial functions. No catalog, dedup or cache
  registry.
- ``near_dup_dedup`` is the read- and shuffle/join-heavy dedup path: the
  minhash band join, exact and cosine dedup, and the cache registry.
  Writes nothing.
- ``events_analytics_mix`` is the window-, sort- and aggregate-heavy
  analyst path of sub-second queries, where driver-side plan build is a
  visible share, including the global prefix scan (q172). No writers, no
  dedup.
"""

from __future__ import annotations

import dataclasses
import shutil
import statistics
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

from perfbench import gen
from perfbench.tracing import Tracer

NOOP_SINK = "noop"


@dataclasses.dataclass
class Outcome:
    """Operations attempted and failed in one run, with what went wrong."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = dataclasses.field(default_factory=list)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


@dataclasses.dataclass
class Run:
    """State one benchmark process shares with the workload it runs."""

    spark: object
    tracer: Tracer
    data: Path  # generated inputs
    out: Path  # scratch for anything the workload writes
    outcome: Outcome
    live_max: int = 0

    def call(self, name: str, fn: Callable[[], object]) -> object:
        """One operation: a call into the package, in a job-group span."""
        from noaa_ais_glue_lakehouse_spark.operators._cache import live_cache_count

        self.outcome.attempted += 1
        try:
            with self.tracer.span(name, group=True):
                result = fn()
        except Exception as e:  # a failed operation is counted and reported, not fatal
            self.outcome.failed += 1
            self.outcome.problems.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        finally:
            self.live_max = max(self.live_max, live_cache_count())
        return result


def _table_stats(root: Path) -> tuple[int, int]:
    """Data files and their bytes under a table root (checksums and markers excluded)."""
    files = [
        p for p in root.rglob("*")
        if p.is_file() and not any(part.startswith((".", "_")) for part in p.relative_to(root).parts)
    ]
    return len(files), sum(p.stat().st_size for p in files)


class AisDailyEtl:
    name = "ais_daily_etl"
    vessels, days, points = 150, 2, 72
    sizes = f"{vessels} vessels x {days} days x {points} points"
    calls = (
        "pipelines.run_raw_to_staging",
        "pipelines.run_trajectory_window",
        "pipelines.run_voyage_summary_monthly",
    )
    tables = ("staging", "quarantine", "curated", "state", "partials", "summary")
    measures = (
        "wall_s", "jobs", "tasks", "executor_run_s", "gc_s", "input_bytes",
        "input_records", "shuffle_write_bytes", "spill_bytes", "output_bytes",
    )

    def generate(self, seed: int, dest: Path) -> gen.AisTruth:
        return gen.write_ais_days(seed, dest / "raw", self.vessels, self.days, self.points)

    def prepare(self, data: Path, truth: gen.AisTruth) -> None:
        self.truth = truth
        self.table_stats: list[dict[str, tuple[int, int]]] = []

    def _paths(self, run: Run, k: int) -> dict[str, str]:
        base = run.out / f"etl_pass{k}"
        return {t: str(base / t) for t in self.tables} | {"base": str(base)}

    def run_pass(self, run: Run, k: int) -> None:
        from noaa_ais_glue_lakehouse_spark.pipelines.raw_to_staging import run_raw_to_staging
        from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
            run_trajectory_window,
            run_voyage_summary_monthly,
        )

        p = self._paths(run, k)
        spark = run.spark
        self.counters = run.call(
            self.calls[0],
            lambda: run_raw_to_staging(
                spark, str(run.data / "raw"), p["staging"], p["quarantine"]
            ),
        )
        for day in self.truth.days:
            run.call(
                self.calls[1],
                lambda day=day: run_trajectory_window(
                    spark, p["staging"], p["curated"], p["state"], day, day,
                    mode="incremental", sample=True,
                ),
            )
        run.call(
            self.calls[2],
            lambda: run_voyage_summary_monthly(
                spark, p["curated"], p["partials"], p["summary"], self.truth.month
            ),
        )

    def after_pass(self, run: Run, k: int) -> None:
        c = self.counters or {}
        run.outcome.check(
            c.get("rows_written") == self.truth.staging_rows,
            f"staging rows {c.get('rows_written')} != {self.truth.staging_rows} unique valid rows",
        )
        run.outcome.check(
            c.get("quarantined") == self.truth.quarantined_rows,
            f"quarantined rows {c.get('quarantined')} != {self.truth.quarantined_rows} planted",
        )
        p = self._paths(run, k)
        self.table_stats.append({t: _table_stats(Path(p[t])) for t in self.tables})
        if k > 0:  # the latest pass is kept for final_checks
            shutil.rmtree(self._paths(run, k - 1)["base"], ignore_errors=True)

    def final_checks(self, run: Run, k: int) -> None:
        """Incremental voyage ids equal a full recompute; one summary row per voyage."""
        from pyspark.sql import functions as F

        from noaa_ais_glue_lakehouse_spark.pipelines.staging_to_curated import (
            run_trajectory_window,
        )

        p = self._paths(run, k)
        spark = run.spark
        full = run.call(
            "pipelines.run_trajectory_window",
            lambda: run_trajectory_window(
                spark, p["staging"], p["base"] + "/full_curated", p["base"] + "/full_state",
                self.truth.days[0], self.truth.days[-1], mode="full", sample=False,
            ),
        )
        if full is None:
            return
        want = full.select("MMSI", "BaseDateTime", F.col("VoyageID").alias("_full"))
        got = spark.read.parquet(p["curated"]).select("MMSI", "BaseDateTime", "VoyageID")
        bad = (
            got.join(want, ["MMSI", "BaseDateTime"], "left")
            .filter(F.col("_full").isNull() | (F.col("_full") != F.col("VoyageID")))
            .count()
        )
        run.outcome.check(bad == 0, f"{bad} curated rows whose incremental voyage id differs from a full recompute")
        n_summary = spark.read.parquet(p["summary"]).count()
        run.outcome.check(
            n_summary == self.truth.voyages,
            f"summary rows {n_summary} != {self.truth.voyages} planted voyages",
        )

    def layer_metrics(self, pass_counts) -> dict[str, float]:
        m = {
            f"{call}.{key}": median([_measure(row, key) for row in pass_counts(call)])
            for call in self.calls
            for key in self.measures
        }
        m[f"{self.calls[0]}.input_bytes_per_raw_byte"] = (
            m[f"{self.calls[0]}.input_bytes"] / self.truth.raw_bytes
        )
        for t in self.tables:
            m[f"sources.{t}.files"] = median([s[t][0] for s in self.table_stats])
            m[f"sources.{t}.bytes"] = median([s[t][1] for s in self.table_stats])
        m["sources.stored_bytes_per_input_byte"] = self.quality()["stored_bytes_per_input_byte"][0]
        return m

    def quality(self) -> dict[str, tuple[float, str]]:
        """Bytes under all output tables per raw CSV byte, median over passes."""
        stored = [sum(b for _, b in s.values()) / self.truth.raw_bytes for s in self.table_stats]
        return {"stored_bytes_per_input_byte": (median(stored), "ratio")}


class _CatalogWorkload:
    """A workload that builds catalog queries and runs each to completion.

    Timed passes write each result into Spark's noop sink, which executes
    the whole plan and keeps nothing; ``final_checks`` runs the queries
    once more, untimed, and collects the rows it checks.
    """

    queries: tuple[str, ...] = ()
    measures: tuple[str, ...] = ()

    def run_pass(self, run: Run, k: int) -> None:
        from noaa_ais_glue_lakehouse_spark.plans import catalog

        registry = catalog.queries()
        for q in self.queries:

            def build_and_run(fn=registry[q], q=q):
                with run.tracer.span(f"catalog.{q}.build"):
                    df = fn(run.spark, str(run.data))
                with run.tracer.span(f"catalog.{q}.exec"):
                    df.write.format(NOOP_SINK).mode("overwrite").save()

            run.call(f"catalog.{q}", build_and_run)

    def collect_results(self, run: Run) -> dict[str, tuple[list[tuple], list[str]]]:
        """Each query's rows and lowercased column names; a failed query is left out."""
        from noaa_ais_glue_lakehouse_spark.plans import catalog

        registry = catalog.queries()
        results = {}
        for q in self.queries:

            def build_and_collect(fn=registry[q]):
                df = fn(run.spark, str(run.data))
                return [tuple(r) for r in df.collect()], [c.lower() for c in df.columns]

            res = run.call(f"catalog.{q}", build_and_collect)
            if res is not None:
                results[q] = res
        return results

    def after_pass(self, run: Run, k: int) -> None:
        """Drop the operator caches the pass registered, so that every pass
        computes its answers rather than reusing the previous pass's indexes."""
        from noaa_ais_glue_lakehouse_spark.operators._cache import release_query_caches

        release_query_caches()

    def quality(self) -> dict[str, tuple[float, str]]:
        return {}

    def _oracle_hashes(self, data: Path, names: tuple[str, ...]) -> dict[str, str]:
        """Order-insensitive value hash of each query's DuckDB oracle over the same files."""
        import duckdb
        from selfcheck import value_hash

        from noaa_ais_glue_lakehouse_spark.plans import catalog

        sql = catalog.oracle_sql()
        con = duckdb.connect()
        try:
            con.execute("SET threads TO 2")
            for table in data.glob("*.parquet"):
                con.execute(f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')")
            hashes = {}
            for q in names:
                res = con.execute(sql[q])
                cols = [d[0].lower() for d in res.description]
                hashes[q] = value_hash(res.fetchall(), cols)
            return hashes
        finally:
            con.close()

    def _check_oracle(self, run: Run, results, q: str) -> None:
        from selfcheck import value_hash

        if q in results:
            rows, cols = results[q]
            run.outcome.check(
                value_hash(rows, cols) == self.oracle[q],
                f"catalog.{q}: value hash differs from its DuckDB oracle",
            )

    def layer_metrics(self, pass_counts) -> dict[str, float]:
        return {
            f"catalog.{q}.{key}": median([_measure(row, key) for row in pass_counts(f"catalog.{q}")])
            for q in self.queries
            for key in self.measures
        }


class NearDupDedup(_CatalogWorkload):
    name = "near_dup_dedup"
    docs, vectors = 4000, 800
    sizes = f"{docs} documents, {vectors} 64-d embeddings"
    queries = (
        "q27_minhash_near_dups",
        "q383_minhash_portable",
        "q25_dedup_exact",
        "q47_cosine_dup_lsh",
    )
    measures = ("build_s", "exec_s", "jobs", "executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes")
    jaccard_threshold = 0.8  # q27's
    cosine_threshold = 0.4  # q47's; it reports cosine rounded to 4 places

    def generate(self, seed: int, dest: Path) -> None:
        gen.write_catalog_tables(seed, dest, docs=self.docs, vectors=self.vectors)

    def prepare(self, data: Path, truth: None) -> None:
        docs = pq.read_table(data / "documents.parquet", columns=["doc_id", "text"])
        self.jaccard_pairs = gen.exact_jaccard_pairs(
            docs.column("doc_id").to_pylist(), docs.column("text").to_pylist(), self.jaccard_threshold
        )
        emb = pq.read_table(data / "embeddings.parquet")
        vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32)
        ids = emb.column("vec_id").to_numpy()
        self.cosine_pairs = gen.exact_cosine_pairs(ids, vecs, self.cosine_threshold - 1e-4)
        self.oracle = self._oracle_hashes(data, ("q25_dedup_exact", "q383_minhash_portable"))
        self.recall = 0.0

    def final_checks(self, run: Run, k: int) -> None:
        results = self.collect_results(run)
        self._check_oracle(run, results, "q25_dedup_exact")
        self._check_oracle(run, results, "q383_minhash_portable")
        if "q27_minhash_near_dups" in results:
            rows, cols = results["q27_minhash_near_dups"]
            got = {(r[cols.index("id_a")], r[cols.index("id_b")]) for r in rows}
            truth = self.jaccard_pairs
            self.recall = len(got & truth) / max(len(truth), 1)
            run.outcome.check(
                len(got) == len(rows) and got <= truth and 0 < len(rows),
                f"q27: {len(rows)} rows, {len(got - truth)} not exact pairs at Jaccard >= {self.jaccard_threshold}",
            )
            run.outcome.check(self.recall >= 0.9, f"q27 recall {self.recall:.4f} < 0.9")
        if "q47_cosine_dup_lsh" in results:
            rows, cols = results["q47_cosine_dup_lsh"]
            got = {(r[cols.index("id_a")], r[cols.index("id_b")]) for r in rows}
            run.outcome.check(
                0 < len(rows) == len(got) and got <= self.cosine_pairs,
                f"q47: {len(rows)} rows, {len(got - self.cosine_pairs)} not exact pairs at cosine >= {self.cosine_threshold}",
            )

    def layer_metrics(self, pass_counts) -> dict[str, float]:
        m = super().layer_metrics(pass_counts)
        m["catalog.q27_minhash_near_dups.recall"] = self.recall
        return m

    def quality(self) -> dict[str, tuple[float, str]]:
        """q27's recall against the exact pair set."""
        return {"recall": (self.recall, "ratio")}


class EventsAnalyticsMix(_CatalogWorkload):
    name = "events_analytics_mix"
    events, event_days = 30_000, 2
    sizes = f"{events} events over {event_days} days"
    queries = (
        "q11_sessionize",
        "q12_session_rollup",
        "q19_haversine_jumps",
        "q24_sample_trajectory",
        "q35_running_total",
        "q78_resample_hourly",
        "q88_hopping_window_counts",
        "q172_max_concurrent_sessions",
        "q186_ordered_funnel",
    )
    measures = ("build_s", "exec_s", "jobs", "tasks", "executor_run_s")

    def generate(self, seed: int, dest: Path) -> None:
        gen.write_catalog_tables(seed, dest, events=self.events, event_days=self.event_days)

    def prepare(self, data: Path, truth: None) -> None:
        self.oracle = self._oracle_hashes(data, self.queries)

    def final_checks(self, run: Run, k: int) -> None:
        results = self.collect_results(run)
        for q in self.queries:
            self._check_oracle(run, results, q)


WORKLOADS = {w.name: w for w in (AisDailyEtl, NearDupDedup, EventsAnalyticsMix)}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric a traced run reports: name -> (unit, better).

    A traced run of one workload reports all of them; a layer that
    workload bypasses reads 0.
    """
    out: dict[str, tuple[str, str]] = {}
    for call in AisDailyEtl.calls:
        for key in AisDailyEtl.measures:
            out[f"{call}.{key}"] = (_unit(key), "lower")
    out[f"{AisDailyEtl.calls[0]}.input_bytes_per_raw_byte"] = ("ratio", "lower")
    for t in AisDailyEtl.tables:
        out[f"sources.{t}.files"] = ("count", "lower")
        out[f"sources.{t}.bytes"] = ("B", "lower")
    out["sources.stored_bytes_per_input_byte"] = ("ratio", "lower")
    for w in (NearDupDedup, EventsAnalyticsMix):
        for q in w.queries:
            for key in w.measures:
                out[f"catalog.{q}.{key}"] = (_unit(key), "lower")
    out["catalog.q27_minhash_near_dups.recall"] = ("ratio", "higher")
    out["operators._cache.live_max"] = ("count", "lower")
    for name in WORKLOADS:
        out[f"{name}.busy_share"] = ("ratio", "higher")
    out["trace.run_s"] = ("s", "lower")
    return out


def _unit(key: str) -> str:
    if key.endswith("_s"):
        return "s"
    return "count" if key in ("jobs", "tasks", "input_records") else "B"


def _measure(row: dict[str, float], key: str) -> float:
    """One measure of one batch, from its span times and event-log sums."""
    ms = {"executor_run_s": "executor_run_ms", "gc_s": "gc_ms"}
    if key in ms:
        return row[ms[key]] / 1000
    return row["disk_spill_bytes" if key == "spill_bytes" else key]


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
