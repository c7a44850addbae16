"""Self-tests of the benchmark's generators, output checks and metric
parsing, at small sizes and without Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import checks
import gen
import procmem
import run
import spans
import spread

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ---------------------------------------------------------------- generators


def test_catalog_is_seeded_and_shaped(tmp_path):
    a = gen.write_catalog(str(tmp_path / "a"), seed=7, widths=[6, 3], days=30)
    b = gen.write_catalog(str(tmp_path / "b"), seed=7, widths=[6, 3], days=30)
    c = gen.write_catalog(str(tmp_path / "c"), seed=8, widths=[6, 3], days=30)
    assert a == b and a["tables"] == ["t00", "t01"] and a["series"] == 9
    assert a["metrics"] == {"t00": ["m0", "m1", "m2", "m3", "m4", "m5"], "t01": ["m0", "m1", "m2"]}
    ta = pq.read_table(tmp_path / "a" / "t00.parquet")
    assert ta.equals(pq.read_table(tmp_path / "b" / "t00.parquet"))
    assert not ta.equals(pq.read_table(tmp_path / "c" / "t00.parquet"))
    assert ta.column_names == ["date", "m0", "m1", "m2", "m3", "m4", "m5", "region"]
    assert str(ta.schema.field("region").type) == "string"
    assert ta.num_rows == 30
    assert pq.read_table(tmp_path / "a" / "t01.parquet").column_names == ["date", "m0", "m1", "m2", "region"]


def test_corpus_plants_duplicates():
    texts, truth = gen.corpus_texts(seed=3, docs=200, exact_groups=5, near_pairs=10, far_pairs=10)
    again, _ = gen.corpus_texts(seed=3, docs=200, exact_groups=5, near_pairs=10, far_pairs=10)
    assert texts == again and len(texts) == 200
    for src, copy in truth["exact"]:
        assert texts[src] != texts[copy]
        assert checks.shingles(texts[src]) == checks.shingles(texts[copy])
    for kind, (lo, hi) in (("near", gen.NEAR_JACCARD), ("far", gen.FAR_JACCARD)):
        assert len(truth[kind]) == 10
        for src, copy in truth[kind]:
            assert lo <= checks.jaccard(texts[src], texts[copy]) <= hi
            assert len(texts[src].split(" ")) == len(texts[copy].split(" "))
    assert gen.FAR_JACCARD[1] < 0.8 < gen.NEAR_JACCARD[0]
    # unplanted documents are far apart
    assert checks.jaccard(texts[0], texts[1]) < 0.3


# -------------------------------------------------------------------- checks


def _forecast_table(days=3, horizon=2):
    n = days + horizon
    return pd.DataFrame(
        {
            "date": [dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(n)],
            "m": np.arange(n, dtype=float),
            "m_min": np.arange(n, dtype=float) - 1,
            "m_max": np.arange(n, dtype=float) + 1,
        }
    )


def test_check_forecast_table():
    good = _forecast_table()
    assert checks.check_forecast_table(good, ["m"], 3, 2) == []
    assert checks.check_forecast_table(good.iloc[:-1], ["m"], 3, 2)  # a row short
    nulls = good.assign(m=np.nan)
    assert "all NULL" in checks.check_forecast_table(nulls, ["m"], 3, 2)[0]
    outside = good.assign(m_max=good["m"] - 0.5)
    assert "band" in checks.check_forecast_table(outside, ["m"], 3, 2)[0]
    assert checks.check_forecast_table(good[["date", "m_min", "m", "m_max"]], ["m"], 3, 2)


def test_check_curation():
    texts, truth = gen.corpus_texts(seed=5, docs=100, exact_groups=3, near_pairs=6, far_pairs=4)
    exact_groups = [(src, 2) for src, _ in truth["exact"]]
    pairs = [(a, b, checks.jaccard(texts[a], texts[b])) for a, b in truth["exact"] + truth["near"]]
    dropped = {b for _, b, _ in pairs}
    kept = np.array([i for i in range(len(texts)) if i not in dropped])
    quality = np.full(len(kept), 0.5)

    def run_check(**over):
        args = dict(exact_groups=exact_groups, pairs=pairs, kept_ids=kept, kept_quality=quality)
        args.update(over)
        return checks.check_curation(texts, truth["exact"], truth["near"], truth["far"], threshold=0.8, **args)

    assert run_check() == []
    assert run_check(exact_groups=exact_groups[1:])  # a planted group missed
    assert run_check(pairs=pairs[: len(truth["exact"])])  # near-duplicate recall 0
    assert run_check(pairs=pairs + [(0, 1, 0.9)])  # a pair that is not similar
    # verification without its threshold: planted pairs below it reported
    below = [(a, b, checks.jaccard(texts[a], texts[b])) for a, b in truth["far"]]
    errs = run_check(pairs=pairs + below, kept_ids=np.setdiff1d(kept, [b for _, b, _ in below]))
    assert any("below the threshold" in e for e in errs)
    assert run_check(kept_ids=kept[1:])  # a document lost
    assert run_check(kept_quality=quality + 1)  # score out of range


# ------------------------------------------------------------ metric parsing


def test_result_line_round_trip():
    line = run.result_line(True, 5, 0, {"pass_s": 1.25, "x": 3}, {"pass_s": "s", "x": "count"})
    res = run.parse_result("noise\n" + line + "\n")
    assert res == {
        "correct": True,
        "attempted": 5,
        "failed": 0,
        "metrics": {"pass_s": {"value": 1.25, "unit": "s"}, "x": {"value": 3.0, "unit": "count"}},
    }
    with pytest.raises(ValueError):
        run.parse_result(json.dumps({"info": {}}))


def test_spread_matches_statistics_quantiles():
    assert spread.spread([10.0] * 5) == 0.0
    q1, q2, q3 = __import__("statistics").quantiles([1.0, 2.0, 3.0, 4.0, 10.0], n=4)
    assert spread.spread([1.0, 2.0, 3.0, 4.0, 10.0]) == pytest.approx((q3 - q1) / q2)


def test_units_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in bench["workloads"]] == ["catalog_nightly", "corpus_curation"]


def test_status_parser():
    text = "Name:\tpython3\nVmPeak:\t  900 kB\nVmHWM:\t  131072 kB\nVmRSS:\t 1024 kB\n"
    assert procmem.parse_status_kb(text, "VmHWM") == 131072
    with pytest.raises(ValueError):
        procmem.parse_status_kb(text, "VmSwap")
    assert procmem.vmhwm_mb(os.getpid()) > 0


def test_event_log_groups():
    scope = json.dumps({"id": "4", "name": "MapInPandas"})
    lines = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Properties": {"spark.jobGroup.id": "pass-1/fit"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Properties": {}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Properties": {"spark.jobGroup.id": "pass-1/probe-x"}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "pass-1/fit"},
         "Stage Info": {"Stage ID": 3, "Number of Tasks": 4, "RDD Info": [{"Scope": scope}]}},
        {"Event": "SparkListenerStageSubmitted", "Properties": {"spark.jobGroup.id": "pass-10/fit"},
         "Stage Info": {"Stage ID": 5, "Number of Tasks": 2, "RDD Info": []}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Metrics": {
            "Executor CPU Time": 2_000_000_000, "JVM GC Time": 30, "Memory Bytes Spilled": 5,
            "Disk Bytes Spilled": 6, "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 5, "Task Metrics": {"Executor CPU Time": 1}},
    ]
    ev = spans.EventLog(json.dumps(x) + "\n" for x in lines)
    total = spans.EventLog.total
    assert total(ev.jobs, "pass-1/") == 1 and ev.jobs[""] == 1  # the probe's job left out
    assert total(ev.stages, "pass-1/") == 1 and total(ev.stages, "pass-10/") == 1
    assert total(ev.python_tasks, "pass-1/") == 4 and total(ev.python_tasks, "pass-10/") == 0
    assert total(ev.tasks, "pass-1/") == 1
    assert total(ev.cpu_ns, "pass-1/") == 2_000_000_000
    assert total(ev.gc_ms, "pass-1/") == 30 and total(ev.spill, "pass-1/") == 11
    assert total(ev.shuffle_write, "pass-1/") == 1024


def test_tracer_spans_and_wrapping():
    class Ctx:
        def setJobGroup(self, *a):
            self.last = a

    class Thing:
        def work(self):
            return self.inner()

        def inner(self):
            return 42

    tr = spans.Tracer(Ctx())
    tr.wrap(Thing, "work", "layer.work_s")
    tr.wrap(Thing, "inner", "layer.work_s")  # nested, same name: counted once
    assert Thing().work() == 42  # outside a pass: not recorded
    tr.begin_pass()
    with tr.group("g"):
        assert tr.sc.last == ("pass-1/g", "pass-1/g")
        Thing().work()
    assert tr.sc.last == ("", "")
    tr.end_pass(ok=True)
    Thing().work()  # between passes: not recorded
    tr.begin_pass()
    Thing().work()
    tr.end_pass(ok=False)  # a failed pass is dropped
    assert tr.labels == ["pass-1/"] and len(tr.passes) == 1
    assert list(tr.passes[0]) == ["layer.work_s"]
    assert spans.median_span(tr.passes, "layer.work_s") == tr.passes[0]["layer.work_s"] > 0
    assert spans.median_span(tr.passes, "other_s") == 0.0


def test_tracer_probe_runs_only_in_traced_passes():
    class Ctx:
        groups: list = []

        def setJobGroup(self, group, _):
            self.groups.append(group)

    class Thing:
        def plan(self):
            return "df"

    forced = []
    tr = spans.Tracer(Ctx())
    tr.wrap(Thing, "plan", "layer.plan_s", force=forced.append)
    assert Thing().plan() == "df" and forced == []  # outside a pass: no probe
    tr.begin_pass()
    with tr.group("pipeline"):
        Thing().plan()
    tr.end_pass(ok=True)
    assert forced == ["df"]
    assert tr.sc.groups == ["pass-1/pipeline", "pass-1/probe-plan", "pass-1/pipeline", ""]
