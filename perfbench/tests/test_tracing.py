"""Event-log aggregation per job group, and event-log file discovery."""

from __future__ import annotations

import json
from pathlib import Path

from perfbench.tracing import COUNTS, Tracer, aggregate_event_log, event_log_files

RECORDED = Path(__file__).parent / "data" / "eventlog_small.jsonl"


def test_recorded_log_sums_per_group():
    """A Spark 4.1 event log, reduced to the fields the aggregator reads.

    Recorded from: an ungrouped parquet write of range(1000) in 2
    partitions; group ``g-shuffle``: a 10-key groupBy count over
    range(1000) (2 map tasks + 2 reduce tasks); group ``g-read``: a
    filtered read of that parquet table; then one ungrouped count.
    """
    got = aggregate_event_log([RECORDED])
    assert set(got) == {"g-shuffle", "g-read"}  # ungrouped jobs are not attributed
    shuffle, read = got["g-shuffle"], got["g-read"]
    assert (shuffle["jobs"], shuffle["tasks"]) == (1, 4)
    assert shuffle["input_records"] == 1000 and shuffle["shuffle_write_bytes"] == 364
    assert (read["jobs"], read["tasks"]) == (2, 3)
    assert read["input_records"] == 1000 and read["input_bytes"] == 2858
    assert read["shuffle_write_bytes"] == 0 and read["output_bytes"] == 0
    assert shuffle["executor_run_ms"] == 624 and read["gc_ms"] == 10


def _write(path: Path, events: list[dict]) -> Path:
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    return path


def _job(job_id, stages, group=None):
    props = {"spark.jobGroup.id": group} if group else {}
    return {"Event": "SparkListenerJobStart", "Job ID": job_id, "Stage IDs": stages, "Properties": props}


def _stage(stage_id, tasks, **metrics):
    names = {"run_ms": "internal.metrics.executorRunTime", "spill": "internal.metrics.diskBytesSpilled"}
    accs = [{"ID": i, "Name": names[k], "Value": v} for i, (k, v) in enumerate(metrics.items())]
    accs.append({"ID": 99, "Name": "number of output rows", "Value": "123"})  # SQL metrics are ignored
    return {
        "Event": "SparkListenerStageCompleted",
        "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0, "Number of Tasks": tasks, "Accumulables": accs},
    }


def test_shared_skipped_and_retried_stages(tmp_path):
    log = _write(tmp_path / "events_1_app", [
        _job(0, [0, 1], "a"),
        _stage(0, 4, run_ms=100),
        _stage(1, 2, run_ms="50"),  # values may be strings
        _job(1, [1, 2], "b"),  # stage 1 is reused: it stays with group a, and is skipped here
        _stage(2, 3, run_ms=7, spill=4096),
        _stage(2, 3, run_ms=5),  # a retried attempt adds its work too
        _job(2, [3], None),
        _stage(3, 8, run_ms=1000),
    ])
    got = aggregate_event_log([log])
    assert got["a"]["jobs"] == 1 and got["a"]["tasks"] == 6 and got["a"]["executor_run_ms"] == 150
    assert got["b"]["jobs"] == 1 and got["b"]["tasks"] == 6 and got["b"]["executor_run_ms"] == 12
    assert got["b"]["disk_spill_bytes"] == 4096
    assert set(got) == {"a", "b"} and set(got["a"]) == set(COUNTS)


def test_event_log_files_in_roll_order(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    for name in ("events_10_local-1", "events_2_local-1", "appstatus_local-1", "events_1_local-1"):
        (app / name).write_text("")
    assert [p.name for p in event_log_files(tmp_path)] == [
        "events_1_local-1", "events_2_local-1", "events_10_local-1",
    ]


def test_disabled_tracer_records_nothing():
    tracer = Tracer("r", enabled=False)
    with tracer.span("x", group=True) as s:
        assert s is None
    assert tracer.spans == []


class _FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}

    def setJobGroup(self, group, description):
        self.props["spark.jobGroup.id"] = group

    def setLocalProperty(self, key, value):
        self.props[key] = value


def test_spans_nest_and_tag_job_groups(tmp_path):
    tracer = Tracer("run7", enabled=True)
    tracer.sc = _FakeContext()
    with tracer.span("pass"):
        with tracer.span("layer.call", group=True) as call:
            assert tracer.sc.props["spark.jobGroup.id"] == "run7.1"
            with tracer.span("layer.call.build"):
                pass
        assert tracer.sc.props["spark.jobGroup.id"] is None
    assert [(s.name, s.parent) for s in tracer.spans] == [("pass", None), ("layer.call", 0), ("layer.call.build", 1)]
    assert call.group == "run7.1" and all(s.end >= s.start for s in tracer.spans)
    assert [s.name for s in tracer.descendants(0)] == ["layer.call", "layer.call.build"]
    tracer.write(tmp_path / "spans.json")
    assert json.loads((tmp_path / "spans.json").read_text())[1]["run_id"] == "run7"
