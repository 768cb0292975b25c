"""Tests of the benchmark's own checkers and generators.

Run with: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import eventlog
import tables
from loadgen import CLASSES, EnvelopeGen


def _write_lake(lake: str, ledger, stage_ids: list[int]) -> None:
    """A lake whose sinks hold what ``ledger`` says, with ``stage_ids``
    as the stage table's packet ids."""
    for cls in CLASSES:
        d = os.path.join(lake, "raw", cls, "year=2026", "month=10", "day=16")
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.json"), "w") as fh:
            fh.writelines(json.dumps({"n": i}) + "\n" for i in range(ledger.generated[cls]))
    os.makedirs(os.path.join(lake, "error"))
    with open(os.path.join(lake, "error", "part-00000.json"), "w") as fh:
        fh.writelines('{"recordId": "x"}\n' for _ in range(ledger.malformed_soh))
    for sink, ids in (("stage", stage_ids), ("alerts", list(range(ledger.alerts)))):
        d = os.path.join(lake, sink, "year=2023", "month=11", "day=15")
        os.makedirs(d)
        pq.write_table(pa.table({"packetid": pa.array(ids, pa.int64())}),
                       os.path.join(d, "part-00000.parquet"))


@pytest.fixture
def ledger(tmp_path):
    _, led = EnvelopeGen(7).write_files(str(tmp_path / "gen"), "t", 3, 400)
    assert led.malformed_soh > 0 and led.alerts > 0
    return led


def test_ingest_check_passes_on_matching_sinks(tmp_path, ledger):
    lake = str(tmp_path / "lake")
    _write_lake(lake, ledger, list(range(ledger.valid_soh)))
    assert checks.ingest_problems(checks.sink_counts(lake), ledger) == []


def test_ingest_check_fails_on_duplicate_stage_row(tmp_path, ledger):
    lake = str(tmp_path / "lake")
    ids = list(range(ledger.valid_soh - 1)) + [0]  # same count, one duplicate
    _write_lake(lake, ledger, ids)
    problems = checks.ingest_problems(checks.sink_counts(lake), ledger)
    assert problems == ["stage: 1 duplicate packetid rows"]


def test_ingest_check_fails_on_missing_stage_row(tmp_path, ledger):
    lake = str(tmp_path / "lake")
    _write_lake(lake, ledger, list(range(ledger.valid_soh - 1)))
    problems = checks.ingest_problems(checks.sink_counts(lake), ledger)
    assert len(problems) == 1 and problems[0].startswith("stage:")


def test_oracle_compare_fails_on_perturbed_result():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None), (3, 1.25)]
    assert checks.compare(cols, rows, ["V", "K"], [(0.5, 1), (None, 2), (1.25, 3)]) is None
    perturbed = [(1, 0.5), (2, None), (3, 1.2500001)]
    assert "value hash" in checks.compare(cols, rows, cols, perturbed)
    assert "rowcount" in checks.compare(cols, rows, cols, rows[:2])


def _landing_files(tmp_path, name: str, seed: int) -> list[str]:
    paths, _ = EnvelopeGen(seed).write_files(str(tmp_path / name), "f", 3, 200)
    return paths


def test_landing_files_depend_only_on_seed(tmp_path):
    a = _landing_files(tmp_path, "a", 11)
    b = _landing_files(tmp_path, "b", 11)
    c = _landing_files(tmp_path, "c", 12)
    assert all(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, b))
    assert not any(filecmp.cmp(x, y, shallow=False) for x, y in zip(a, c))


def test_tables_depend_only_on_seed():
    a, b, c = (tables.build_tables(s, 0.001) for s in (3, 3, 4))
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_event_log_attributes_writes_to_sinks(tmp_path):
    plan = ("== Physical Plan ==\nExecute InsertIntoHadoopFsRelationCommand (2)\n\n"
            "(2) Execute InsertIntoHadoopFsRelationCommand\nInput: []\n"
            "Arguments: file:/x/lake/raw/soh, false, JSON, [path=/x/lake/raw/soh]\n")
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "executionId": 4, "physicalPlanDescription": plan},
        {"Event": "SparkListenerJobStart", "Job ID": 9, "Submission Time": 1000,
         "Stage IDs": [5, 6], "Properties": {"spark.sql.execution.id": "4",
                                              "streaming.sql.batchId": "2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {
            "Stage ID": 6, "Number of Tasks": 4, "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Value": 1500},
                {"Name": "internal.metrics.diskBytesSpilled", "Value": 10}]}},
        {"Event": "SparkListenerJobEnd", "Job ID": 9, "Completion Time": 1250},
    ]
    path = tmp_path / "log"
    path.write_text("".join(json.dumps(e) + "\n" for e in events))
    log = eventlog.read(str(path))
    job = log.jobs[9]
    assert job.batch_id == 2
    assert eventlog.sink_of(log.output_path(job), "/x/lake") == "raw"
    assert log.summarize([job]) == {
        "jobs": 1, "stages": 1, "tasks": 4, "executor_run_s": 1.5,
        "shuffle_write_bytes": 0, "spill_bytes": 10, "job_s": 0.25}
