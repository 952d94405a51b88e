"""Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.

The unit tests are pure Python. ``test_smoke`` runs all three workloads at
tiny size through the real entry point (about three minutes on 4 cores).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from harness import tail_latency  # noqa: E402
from spans import (  # noqa: E402
    Tracer,
    attribute_events,
    layer_self_times,
    self_times,
    sum_counts,
)


def _span(sid, name, start, end, parent=None):
    return {"id": sid, "name": name, "start": start, "end": end,
            "parent": parent, "op": None, "tid": None}


def test_self_times_split_parallel_children_and_sum_to_root():
    spans = [
        _span(1, "bench.run", 0.0, 10.0),
        _span(2, "streaming.add_batch", 1.0, 9.0, 1),
        _span(3, "streaming.cusum", 2.0, 6.0, 2),
        _span(4, "streaming.rolling", 4.0, 8.0, 2),
        _span(5, "sources.layout.snapshot_overwrite", 5.0, 6.0, 3),
    ]
    st = self_times(spans, 1)
    assert abs(sum(st.values()) - 10.0) < 1e-9
    assert abs(st[1] - 2.0) < 1e-9  # root minus its child
    assert abs(st[2] - 2.0) < 1e-9  # add_batch alone: [1,2) and [8,9)
    # [4,5) is shared by cusum and rolling; [5,6) by layout and rolling
    assert abs(st[3] - 2.5) < 1e-9
    assert abs(st[4] - 3.0) < 1e-9
    assert abs(st[5] - 0.5) < 1e-9
    layers = layer_self_times(spans, 1)
    assert abs(layers["sources"] - 0.5) < 1e-9
    assert abs(layers["streaming"] - 7.5) < 1e-9


def test_child_is_clamped_into_parent():
    spans = [_span(1, "bench.run", 0.0, 4.0),
             _span(2, "plans.build", 3.0, 4.5, 1)]
    st = self_times(spans, 1)
    assert abs(st[2] - 1.0) < 1e-9 and abs(sum(st.values()) - 4.0) < 1e-9


def test_events_follow_the_innermost_span_open_at_job_submission():
    spans = [_span(1, "bench.run", 0.0, 10.0),
             _span(2, "plans.build", 1.0, 3.0, 1),
             _span(3, "plans.action", 3.0, 6.0, 1)]
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Submission Time": 2000, "Stage IDs": [0]},
        {"Event": "SparkListenerJobStart", "Job ID": 1,
         "Submission Time": 4000, "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 1}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Metrics": {
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
            "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
            "Input Metrics": {"Bytes Read": 40}}},
        {"Event": "SparkListenerJobStart", "Job ID": 2,
         "Submission Time": 8000, "Stage IDs": [3]},
    ]
    counts = attribute_events(events, spans)
    assert counts[2]["jobs"] == 1
    assert counts[3]["jobs"] == 1 and counts[3]["stages"] == 1
    assert counts[3]["shuffle_write_bytes"] == 100
    assert counts[3]["spill_bytes"] == 12 and counts[3]["input_bytes"] == 40
    assert counts[1]["jobs"] == 1
    assert sum_counts(counts, [1, 2, 3])["jobs"] == 3


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("plans.build") as sid:
        assert sid is None
    assert tr.spans == []


def test_tail_latency():
    assert tail_latency([3.0, 1.0, 2.0]) == (3.0, 100.0)
    xs = [float(i) for i in range(1, 101)]
    assert tail_latency(xs) == (90.0, 90.0)  # 10 samples above p90


def test_generator_is_a_function_of_the_seed():
    a = gen.device_frame(3, 1, 2)
    b = gen.device_frame(3, 1, 2)
    c = gen.device_frame(4, 1, 2)
    assert a.equals(b) and not a.equals(c)
    assert len(a) == 2 * 1440
    assert set(a["tstate"]) <= set(gen.STAGES)
    want = gen.expected_labels(0)
    assert want["issues"]["heating_stage_2"] == ["low_cycle_count"]
    assert gen.expected_labels(1)["variance"]["heating_stage_1"] == "High"


def test_catalog_pins_the_registry():
    from catalog import pinned

    from meshinsights_data_pipeline_spark.plans.queries import QUERIES

    cat = pinned()
    assert len(cat["names"]) == 203 and cat["names"] == sorted(cat["names"])
    assert set(cat["sample"]) <= set(cat["names"]) <= set(QUERIES)
    assert all(QUERIES[n].oracle for n in cat["sample"])


def test_smoke():
    root = os.path.dirname(HERE)
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
                       cwd=root, capture_output=True, text=True, timeout=900)
    assert p.returncode == 0, p.stdout[-3000:] + p.stderr[-3000:]
    assert json.loads(p.stdout.strip().splitlines()[-1]) == {"correct": True}
    for w in ("query_catalog", "power_fleet", "telemetry_stream"):
        assert f"# {w}:" in p.stdout
