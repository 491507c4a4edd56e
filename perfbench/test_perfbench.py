"""Tests of the benchmark's own machinery (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import csv
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen_docs  # noqa: E402
import gen_lmo  # noqa: E402
import gen_tables  # noqa: E402
from tracing import (  # noqa: E402
    Span,
    fold_event_log,
    layer_rollup,
    self_times,
    union_length,
)
from workloads import dir_digest  # noqa: E402

LMO_FILES = [
    "employment.csv",
    "job_openings.csv",
    "Occupational Characteristics 2024.csv",
    "clusters.csv",
]


def _rows(path):
    with open(path, newline="") as fh:
        return list(csv.reader(fh))


def test_lmo_generator_same_seed_same_bytes(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen_lmo.generate(str(a), seed=5, n_nocs=6, n_industries=3)
    gen_lmo.generate(str(b), seed=5, n_nocs=6, n_industries=3)
    gen_lmo.generate(str(c), seed=6, n_nocs=6, n_industries=3)
    assert sorted(os.listdir(a)) == sorted(LMO_FILES)
    assert dir_digest(str(a)) == dir_digest(str(b))
    assert dir_digest(str(a)) != dir_digest(str(c))


def test_lmo_generator_matches_fixture_schemas_and_warts(tmp_path):
    from lmo_data_catalog_spark.plans import fixtures

    fixtures.generate(str(tmp_path / "fx"))
    data = gen_lmo.generate(str(tmp_path / "gen"), seed=1, n_nocs=30, n_industries=4)
    for name in LMO_FILES:
        fx = _rows(tmp_path / "fx" / name)
        gen = _rows(tmp_path / "gen" / name)
        skip = 0 if name == "clusters.csv" else 3
        assert gen[skip] == fx[skip], name  # header row after the banner
        if skip:
            assert [len(r) for r in gen[:3]] == [len(r) for r in fx[:3]]
    emp = _rows(tmp_path / "gen" / "employment.csv")
    assert emp[3][-1] == ""  # the all-empty trailing column
    assert any(all(v == "" for v in r) for r in emp[4:])  # the all-empty row
    occ = _rows(tmp_path / "gen" / "Occupational Characteristics 2024.csv")
    assert "x" in {r[-1] for r in occ[4:]}
    clusters = _rows(tmp_path / "gen" / "clusters.csv")[1:]
    assert all(r[0][:5].isdigit() and r[0][5:7] == ": " for r in clusters)
    assert len(clusters) < len(data.nocs) - 1  # the join filters
    # 3 + header + 31 NOCs x 4 industries x 10 areas + the empty row
    assert len(emp) == 4 + 31 * 4 * 10 + 1


def test_docs_generator_same_seed_same_bytes(tmp_path):
    p1, p2, p3 = (str(tmp_path / f"{n}.parquet") for n in "abc")
    gen_docs.generate(p1, seed=3, n_docs=200)
    gen_docs.generate(p2, seed=3, n_docs=200)
    gen_docs.generate(p3, seed=4, n_docs=200)
    read = lambda p: open(p, "rb").read()  # noqa: E731
    assert read(p1) == read(p2) != read(p3)


def test_expected_funnel_counts_each_stage():
    base = " ".join(gen_docs.VOCAB[:40])
    near = base.replace("spark", "graph", 1)
    other = " ".join(reversed(gen_docs.VOCAB[:40]))
    rows = [
        (1, base), (2, base.upper()),  # exact pair: 1 survives
        (3, near),  # near-dup of 1
        (4, other),
        (5, "too short"),  # gate reject
        (6, "a b " * 20),  # bigram-repetitive reject
    ]
    assert gen_docs.expected_funnel(rows) == {
        "raw": 6,
        "quality_gated": 4,
        "exact_deduped": 3,
        "near_deduped": 2,
    }


def test_docs_generator_plants_every_funnel_stage(tmp_path):
    rows = gen_docs.generate(str(tmp_path / "d.parquet"), seed=9, n_docs=400)
    f = gen_docs.expected_funnel(rows)
    assert f["raw"] > f["quality_gated"] > f["exact_deduped"] > f["near_deduped"]
    assert len({r[0] for r in rows}) == len(rows)


def test_tables_generator_same_seed_same_bytes(tmp_path):
    import pyarrow.parquet as pq

    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen_tables.generate(str(a), seed=5, n_orders=200)
    gen_tables.generate(str(b), seed=5, n_orders=200)
    gen_tables.generate(str(c), seed=6, n_orders=200)
    assert dir_digest(str(a)) == dir_digest(str(b))
    assert dir_digest(str(a)) != dir_digest(str(c))
    li = pq.read_table(str(a / "lineitem.parquet")).to_pydict()
    years = {d.year for d in li["l_shipdate"]}
    assert years <= set(range(1995, 2002)) and len(years) >= 6
    assert set(li["l_returnflag"]) == {"A", "N", "R"}
    types = pq.read_table(str(a / "part.parquet")).column("p_type").to_pylist()
    assert any(t.endswith("BRASS") for t in types)
    assert not all(t.endswith("BRASS") for t in types)


def test_union_and_self_time_arithmetic():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    spans = [
        Span("root", "pass", None, 0.0, 10.0),
        Span("a", "ingest", "root", 1.0, 4.0),
        Span("b", "build", "root", 4.0, 9.0),
        Span("c", "count", "b", 5.0, 6.0),
        Span("d", "count", "b", 7.0, 8.5),
    ]
    st = self_times(spans)
    assert st == {"root": 2.0, "a": 3.0, "b": 2.5, "c": 1.0, "d": 1.5}
    assert sum(st.values()) == spans[0].duration


CANNED_LOG = [
    {"Event": "SparkListenerApplicationStart", "Timestamp": 0},
    {
        "Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 2000,
        "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "ingest#1"},
    },
    {
        "Event": "SparkListenerTaskEnd", "Stage ID": 0,
        "Task End Reason": {"Reason": "Success"},
        "Task Info": {
            "Launch Time": 2100, "Finish Time": 2600, "Getting Result Time": 0,
            "Failed": False,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Update": 400},
                {"Name": "internal.metrics.executorCpuTime", "Update": 300000000},
                {"Name": "internal.metrics.executorDeserializeTime", "Update": 50},
                {"Name": "internal.metrics.jvmGCTime", "Update": 10},
                {"Name": "internal.metrics.resultSize", "Update": 2000},
                {"Name": "internal.metrics.shuffle.write.bytesWritten", "Update": 1000},
            ],
        },
    },
    {
        "Event": "SparkListenerTaskEnd", "Stage ID": 1,
        "Task End Reason": {"Reason": "ExceptionFailure"},
        "Task Info": {
            "Launch Time": 2600, "Finish Time": 2800, "Failed": True,
            "Accumulables": [
                {"Name": "internal.metrics.executorRunTime", "Update": 150},
                {"Name": "internal.metrics.shuffle.read.localBytesRead", "Update": 1000},
                {"Name": "internal.metrics.diskBytesSpilled", "Update": 64},
            ],
        },
    },
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0, "Stage Attempt ID": 0}},
    {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 1, "Stage Attempt ID": 0}},
    {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
    {
        "Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 6000,
        "Stage IDs": [2], "Properties": {},
    },
    {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 6500},
]


def test_event_log_fold_on_canned_log(tmp_path):
    from tracing import event_log_lines

    (tmp_path / "local-1").write_text("\n".join(json.dumps(e) for e in CANNED_LOG) + "\n")
    jobs = fold_event_log(event_log_lines(str(tmp_path)))
    j = jobs[0]
    assert (j.group, j.start, j.end) == ("ingest#1", 2.0, 3.0)
    assert (j.tasks, j.failed_tasks, len(j.stages)) == (2, 1, 2)
    assert abs(j.task_s - 0.55) < 1e-9
    assert abs(j.task_cpu_s - 0.3) < 1e-9
    assert (j.deser_s, j.gc_s) == (0.05, 0.01)
    assert (j.result_bytes, j.shuffle_write_bytes, j.shuffle_read_bytes) == (2000, 1000, 1000)
    assert j.spill_bytes == 64
    # 0.5 s - 0.4 run - 0.05 deser, and 0.2 s - 0.15 run
    assert abs(j.sched_delay_s - 0.1) < 1e-9
    assert jobs[1].group is None

    spans = [
        Span("pass#0", "pass", None, 1.0, 7.0),
        Span("ingest#1", "ingest", "pass#0", 1.5, 4.0, py4j_calls=[(1.6, 1.8), (2.5, 3.5)]),
    ]
    roll = layer_rollup(spans, jobs, spans[0])
    ing = roll["by_name"]["ingest"]
    assert ing["jobs"] == 1 and ing["stages"] == 2
    assert abs(ing["nojob_s"] - 1.5) < 1e-9  # 2.5 s span, job covers 2.0-3.0
    assert ing["py4j_calls"] == 2
    assert abs(ing["py4j_s"] - 0.7) < 1e-9  # 0.2 s + the 0.5 s after the job
    assert roll["total"]["jobs"] == 1  # job 1 ran under no span of the pass
    assert abs(roll["root_self"] - 3.5) < 1e-9  # 6 s pass, 2.5 s of it in ingest
