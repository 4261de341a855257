"""Tests of the benchmark itself: seeded inputs, the oracle check and
the tracing that reads Spark's event log.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import types

import pytest

from mistral_ocr_pipeline_spark.extractors.dispatch import extract_turn
from perfbench import check, inputs
from perfbench.trace import PHASE_PROPERTY, EventLog, Tracer

N_TURNS = 300


def _table_bytes(out_dir: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(out_dir)):
        with open(os.path.join(out_dir, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.mark.parametrize("workload", inputs.WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    a = inputs.build_slice(workload, 7, 0, N_TURNS, str(tmp_path / "a"))
    b = inputs.build_slice(workload, 7, 0, N_TURNS, str(tmp_path / "b"))
    other = inputs.build_slice(workload, 8, 0, N_TURNS, str(tmp_path / "c"))
    assert _table_bytes(str(tmp_path / "a")) == _table_bytes(str(tmp_path / "b"))
    assert a[0]["sha256"] == b[0]["sha256"] != other[0]["sha256"]
    assert a[1].turns == b[1].turns and a[1].convs == b[1].convs


def test_skewed_slice_has_a_hot_split():
    rows = inputs.slice_rows("extract_skewed", 3, 0, 2000)
    files = inputs._files_for("extract_skewed", rows)
    assert max(len(f) for f in files) / len(rows) > 0.5
    mixed = inputs._files_for("extract_mixed", inputs.slice_rows("extract_mixed", 3, 0, 2000))
    assert len(mixed) == inputs.SPLIT_FILES


def _engine_output(rows):
    """Columns shaped like the committed extraction table and the
    assembled conversations, computed the way the engine should."""
    turns = {c: [] for c in check.TURN_COLUMNS}
    for conv_id, turn_idx, _role, text, tool, _ts in rows:
        rec = extract_turn(text, tool)
        turns["conv_id"].append(conv_id)
        turns["turn_idx"].append(turn_idx)
        for k in ("payload_kind", "extracted_text", "md", "error"):
            turns[k].append(rec[k])
        turns["spans"].append(
            [{"start": s[0], "end": s[1], "kind": s[2], "ref": s[3]} for s in rec["spans"]]
        )
    return turns


def _assemble(turns):
    """``assemble_conversations`` over the turn columns: md in turn order,
    nulls dropped, joined by a blank line."""
    by_conv: dict[str, list] = {}
    for conv_id, idx, md in zip(turns["conv_id"], turns["turn_idx"], turns["md"]):
        by_conv.setdefault(conv_id, []).append((idx, md))
    convs = {c: [] for c in check.CONV_COLUMNS}
    for conv_id, items in by_conv.items():
        items.sort(key=lambda t: t[0])
        convs["conv_id"].append(conv_id)
        convs["conv_md"].append("\n\n".join(m for _i, m in items if m is not None))
        convs["n_turns"].append(len(items))
    return convs


def _check(oracle, turns):
    return check.compare(oracle.turns, check.turn_pairs(turns)) + check.compare(
        oracle.convs, check.conversation_pairs(_assemble(turns))
    )


@pytest.fixture(scope="module")
def mixed():
    rows = inputs.slice_rows("extract_mixed", 5, 0, N_TURNS)
    return rows, inputs.oracle(rows)


def test_faithful_output_passes(mixed):
    rows, oracle = mixed
    res = _check(oracle, _engine_output(rows))
    assert res.failed == 0 and res.mismatch_frac == 0.0
    assert res.attempted == len(rows) + len(oracle.convs)


def _drop(turns, i):
    return {k: v[:i] + v[i + 1 :] for k, v in turns.items()}


def test_dropped_row_is_caught(mixed):
    rows, oracle = mixed
    res = _check(oracle, _drop(_engine_output(rows), 10))
    # the turn is missing and its conversation no longer matches
    assert res.missing == 1 and res.mismatched == 1
    assert res.mismatch_frac > 0


def test_duplicated_row_is_caught(mixed):
    rows, oracle = mixed
    turns = _engine_output(rows)
    turns = {k: v + [v[10]] for k, v in turns.items()}
    res = check.compare(oracle.turns, check.turn_pairs(turns))
    assert res.duplicated == 1 and res.mismatch_frac > 0


def test_swapped_turn_order_is_caught(mixed):
    rows, oracle = mixed
    turns = _engine_output(rows)
    # the first two turns of one conversation, with distinct markdown
    i = next(
        i
        for i in range(len(rows) - 1)
        if turns["conv_id"][i] == turns["conv_id"][i + 1]
        and turns["md"][i] and turns["md"][i + 1]
        and turns["md"][i] != turns["md"][i + 1]
    )
    idx = turns["turn_idx"]
    idx[i], idx[i + 1] = idx[i + 1], idx[i]
    res = _check(oracle, turns)
    assert res.mismatched == 3  # both turns and their conversation
    assert res.mismatch_frac > 0


def test_unexpected_row_is_caught(mixed):
    rows, oracle = mixed
    turns = _engine_output(rows)
    turns = {k: v + [v[0]] for k, v in turns.items()}
    turns["turn_idx"][-1] = 10_000
    res = check.compare(oracle.turns, check.turn_pairs(turns))
    assert res.unexpected == 1


def test_event_log_ties_stages_to_phases(tmp_path):
    def task(stage, rows, run_ms):
        return {
            "Event": "SparkListenerTaskEnd", "Stage ID": stage, "Stage Attempt ID": 0,
            "Task Metrics": {
                "Executor Run Time": run_ms, "JVM GC Time": 1,
                "Memory Bytes Spilled": 0, "Disk Bytes Spilled": 0,
                "Input Metrics": {"Records Read": rows},
                "Shuffle Read Metrics": {
                    "Total Records Read": 0, "Local Bytes Read": 0, "Remote Bytes Read": 0,
                },
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 0},
            },
        }

    plan = {
        "nodeName": "WriteFiles", "metrics": [],
        "children": [{
            "nodeName": "MapInPandas", "children": [],
            "metrics": [{"name": "time to run Python workers", "accumulatorId": 7}],
        }],
    }
    events = [
        {"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
         "sparkPlanInfo": plan},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0},
         "Properties": {PHASE_PROPERTY: "pass"}},
        task(0, 100, 1000), task(0, 100, 1000), task(0, 400, 3000),
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0,
                        "Accumulables": [{"ID": 7, "Value": "4500"}]}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0},
         "Properties": {PHASE_PROPERTY: "readback"}},
        task(1, 5, 10),
    ]
    path = tmp_path / "app"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    log = EventLog(str(path))
    assert log.python_metric({"pass"}, "time to run Python workers") == 4500
    assert log.python_metric({"readback"}, "time to run Python workers") == 0
    m = log.task_metrics({"pass"})
    assert m["tasks"] == 3 and m["executor_run_s"] == 5.0
    assert m["task_rows_max_over_median"] == 4.0
    assert m["task_s_max_over_median"] == 3.0


def test_tracer_records_nested_spans_and_restores():
    ns = types.SimpleNamespace(inner=lambda x: x + 1)
    ns.outer = lambda x: ns.inner(x) * 2
    tracer = Tracer("run-1")
    tracer.wrap(ns, "inner", "inner")
    tracer.wrap(ns, "outer", "outer")
    original_inner = tracer._patches[0][2]
    assert ns.outer(1) == 4
    tracer.restore()
    assert ns.inner is original_inner
    outer, inner = tracer.spans[0], tracer.spans[1]
    assert (outer.name, inner.name) == ("outer", "inner")
    assert inner.parent == 0 and outer.parent is None and inner.run_id == "run-1"
    assert tracer.count("inner") == 1 and tracer.total_s("outer") >= tracer.total_s("inner")
