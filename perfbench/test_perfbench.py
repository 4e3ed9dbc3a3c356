"""Self-tests of the benchmark's own logic; no Spark session needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import envinfo, eventlog, gen, stats, trace  # noqa: E402
from perfbench.run import (END_TO_END, layer_unit,  # noqa: E402
                           per_layer_names)
from perfbench.workloads import RUNNERS, rows_digest  # noqa: E402


def _bench_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


# ---- generator --------------------------------------------------------------

def test_generator_is_deterministic_per_seed():
    c = gen.Corpus(seed=7, stream="base", isolates=(0, 300))
    a, b = gen.generate(c, 0, 80), gen.generate(c, 0, 80)
    assert a.equals(b)
    other = gen.generate(gen.Corpus(seed=8, stream="base",
                                    isolates=(0, 300)), 0, 80)
    assert not a["content"].equals(other["content"])


def test_generator_slices_are_reproducible():
    c = gen.Corpus(seed=3, stream="s", isolates=(0, 100))
    whole = gen.generate(c, 0, 30)
    tail = gen.generate(c, 10, 20).reset_index(drop=True)
    assert whole.iloc[10:].reset_index(drop=True).equals(tail)


def test_generator_covers_all_formats_and_checksums():
    df = gen.generate(gen.Corpus(seed=1, stream="s", isolates=(0, 500)),
                      0, 200)
    assert set(df["lang"]) == set(gen.FORMATS)
    assert df["path"].is_unique
    import hashlib

    for content, sha in zip(df["content"], df["content_sha256"]):
        assert hashlib.sha256(content.encode()).hexdigest() == sha


def test_gisaid_pairs_each_epi_with_one_genbank_id():
    """The property that keeps sameAs components at two nodes."""
    df = gen.generate(gen.Corpus(seed=2, stream="s", isolates=(0, 50),
                                 mix={"gisaid": 1.0}), 0, 60)
    pair: dict[str, str] = {}
    for content in df["content"]:
        lines = content.split("\n")
        head = lines[0].split("\t")
        for row in lines[1:]:
            cells = dict(zip(head, row.split("\t")))
            for seg in gen.SEGMENTS:
                epi = cells[f"{seg} Segment_Id"].split(" | ")[0]
                gb = cells[f"{seg} INSDC_Upload"]
                if epi:
                    assert pair.setdefault(epi, gb) == gb
    assert len(set(pair.values())) == len(pair)


def test_overlap_draws_from_the_reuse_range():
    c = gen.Corpus(seed=5, stream="b", isolates=(1000, 1040),
                   reuse=(0, 500), overlap=1.0, mix={"ids": 1.0})
    text = "\n".join(gen.generate(c, 0, 20)["content"])
    barcodes = [int(m) - 1000000 for m in re.findall(r"A0(\d{7})", text)]
    assert barcodes and all(k < 500 for k in barcodes)


def test_corpus_rejects_bad_parameters():
    with pytest.raises(ValueError):
        gen.Corpus(seed=1, stream="s", isolates=(0, gen.MAX_ISOLATES + 1))
    with pytest.raises(ValueError):
        gen.Corpus(seed=1, stream="s", isolates=(0, 10), overlap=1.5)
    with pytest.raises(ValueError):
        gen.Corpus(seed=1, stream="s", isolates=(0, 10), mix={"xml": 1.0})


# ---- statistics -------------------------------------------------------------

@pytest.mark.parametrize("n,q,ok", [
    (20, 50, True), (19, 50, False), (100, 90, True), (99, 90, False),
    (1000, 99, True), (999, 99, False),
])
def test_percentile_sample_count_rule(n, q, ok):
    assert stats.reportable(n, q) is ok


def test_percentile_and_slope():
    xs = [float(i) for i in range(1, 11)]
    assert stats.percentile(xs, 50) == pytest.approx(5.5)
    assert stats.percentile(xs, 90) == pytest.approx(9.1)
    assert stats.slope([1.0, 2.0, 3.0, 4.0]) == pytest.approx(1.0)
    assert stats.slope([5.0]) == 0.0


# ---- self time --------------------------------------------------------------

def _span(i, start, end, parent=None, op=None, name="x"):
    return trace.Span(i, name, start, end, parent, op)


def test_self_time_subtracts_covered_child_time():
    spans = [
        _span(0, 0.0, 10.0, name="op"),
        _span(1, 1.0, 4.0, parent=0, name="a"),
        _span(2, 3.0, 6.0, parent=0, name="b"),  # overlaps a
        _span(3, 8.0, 9.0, parent=0, name="a"),
        _span(4, 1.5, 2.0, parent=1, name="c"),  # grandchild
    ]
    st = trace.self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert trace.totals_by_name(spans, self_only=True)["a"] == \
        pytest.approx(2.5 + 1.0)
    assert trace.subtree(spans, 1) == {1, 4}


def test_recorder_nests_spans_and_tags_ops():
    rec = trace.Recorder()
    rec.op = 3
    with rec.span("outer") as o:
        with rec.span("inner") as i:
            pass
    assert i.parent == o.id and o.parent is None
    assert {s.op for s in rec.spans} == {3}
    assert o.start <= i.start <= i.end <= o.end


def test_patches_wrap_and_undo():
    class Owner:
        def f(self, table, x=1):
            return table, x

    rec = trace.Recorder()
    p = trace.Patches()
    p.span(rec, Owner, "f", lambda a: f"f:{a['table']}")
    assert Owner().f("t", x=2) == ("t", 2)
    assert [s.name for s in rec.spans] == ["f:t"]
    p.undo()
    Owner().f("u")
    assert len(rec.spans) == 1


# ---- event log --------------------------------------------------------------

def test_event_log_attributes_tasks_to_spans(tmp_path):
    sql = "org.apache.spark.sql.execution.ui."
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0,
         "Properties": {"spark.job.description": "pb:4",
                        "spark.sql.execution.id": "9"}},
        {"Event": "SparkListenerStageSubmitted",
         "Stage Info": {"Stage ID": 2},
         "Properties": {"spark.job.description": "pb:4"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Info": {"Launch Time": 1000, "Finish Time": 3000},
         "Task Metrics": {"Executor CPU Time": 5e8, "JVM GC Time": 100,
                          "Input Metrics": {"Bytes Read": 2**20},
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 2**21},
                          "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 2**20}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,  # unattributed
         "Task Info": {"Launch Time": 0, "Finish Time": 1},
         "Task Metrics": {"Executor CPU Time": 1e9}},
        {"Event": sql + "SparkListenerSQLExecutionStart", "executionId": 9,
         "sparkPlanInfo": {"metrics": [], "children": [{"metrics": [
             {"name": "number of files read", "accumulatorId": 55}]}]}},
        {"Event": sql + "SparkListenerDriverAccumUpdates",
         "executionId": 9, "accumUpdates": [[55, 3], [56, 100]]},
    ]
    log = tmp_path / "local-1"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    assert eventlog.find_log(str(tmp_path)) == str(log)
    s = eventlog.parse(str(log))
    assert set(s) == {4}
    st = s[4]
    assert (st.jobs, st.tasks) == (1, 1)
    assert st.task_cpu_s == pytest.approx(0.5)
    assert st.gc_s == pytest.approx(0.1)
    assert (st.input_mb, st.shuffle_write_mb, st.spill_mb) == (1.0, 2.0, 1.0)
    assert st.files_read == 3
    assert st.task_intervals == [(1.0, 3.0)]


# ---- RSS sampling -----------------------------------------------------------

def test_rss_tree_skips_a_jvm_fork_that_has_not_exec_d():
    # 1 driver -> 2 JVM -> {3 spawn helper (java), 4 python daemon -> 5}
    kids = {1: [2], 2: [3, 4], 4: [5]}
    java = {2, 3}
    rss = {1: 100, 2: 1000, 3: 1000, 4: 50, 5: 60}
    parts = envinfo.tree_parts(1, kids, java.__contains__, rss.__getitem__)
    assert parts == {"driver": 100, "jvm": 1000, "workers": 110}


# ---- digests ----------------------------------------------------------------

def test_rows_digest_ignores_row_and_array_order():
    a = [("x", ["b", "a"]), ("y", [])]
    b = [("y", []), ("x", ["a", "b"])]
    assert rows_digest(a) == rows_digest(b)
    assert rows_digest(a) != rows_digest([("x", ["a"]), ("y", [])])


# ---- BENCHMARK.json ---------------------------------------------------------

def test_metric_names_match_benchmark_json():
    bj = _bench_json()
    assert [w["name"] for w in bj["workloads"]] == list(RUNNERS)
    assert {m["name"]: m["unit"] for m in bj["end_to_end"]} == END_TO_END
    assert [(m["name"], m["unit"]) for m in bj["per_layer"]] == \
        [(n, layer_unit(n)) for n in per_layer_names()]
    assert bj["paths"] == ["perfbench"]
    assert bj["command"] == ["python3", "perfbench/run.py"]


def test_benchmark_json_limits():
    bj = _bench_json()
    names = [m["name"] for k in ("workloads", "end_to_end", "per_layer")
             for m in bj[k]]
    assert len(names) == len(set(names))
    for n in names:
        assert re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n)
    bounds = {m["name"]: m["bound"] for m in bj["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= bj["run_seconds"] <= 60
    assert all(len(w["why"]) <= 200 for w in bj["workloads"])
