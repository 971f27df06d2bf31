"""Tests of the benchmark's own pure code (no Spark):

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import time
from concurrent.futures import ThreadPoolExecutor

import pytest

import inputs
from spans import Tracer
from stats import (
    NAME_RE,
    check_names,
    describe,
    percentile,
    reportable_percentile,
    self_time,
    summarize,
    union_length,
)
from workloads import END_TO_END, PER_LAYER, WORKLOADS

BENCH = os.path.join(os.path.dirname(__file__), "..", "..", "BENCHMARK.json")


def _bench():
    with open(BENCH) as fh:
        return json.load(fh)


# -- self time ---------------------------------------------------------------

def test_self_time_subtracts_union_of_overlapping_children():
    # two commit-pool children overlap on [3, 4): their union is 5 s, their
    # sum 6 s; a third child adds 1 s
    kids = [(1.0, 4.0), (3.0, 6.0), (8.0, 9.0)]
    assert union_length(kids) == pytest.approx(6.0)
    assert self_time(0.0, 10.0, kids) == pytest.approx(4.0)
    assert self_time(0.0, 10.0, kids) != pytest.approx(10.0 - 7.0)


def test_self_time_clips_children_to_the_span():
    assert self_time(2.0, 5.0, [(0.0, 3.0), (4.0, 9.0)]) == pytest.approx(1.0)
    assert self_time(2.0, 5.0, [(6.0, 7.0)]) == pytest.approx(3.0)


def test_union_of_nested_and_empty_intervals():
    assert union_length([]) == 0.0
    assert union_length([(0.0, 10.0), (2.0, 3.0), (4.0, 4.0)]) == 10.0


def test_tracer_attributes_pool_threads_to_the_submitting_span():
    tr = Tracer()
    root = tr.open("plans.crawl.run_round")

    def child(name):
        i = tr.open(name)
        time.sleep(0.05)
        tr.close(i)

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(child, "catalog.append.fetched"),
                  pool.submit(child, "catalog.append.seen")]:
            f.result()
    tr.close(root)
    assert [s.parent for s in tr.spans[1:]] == [root, root]
    spans = tr.spans
    kids = [(s.start, s.end) for s in spans[1:]]
    want = (spans[0].end - spans[0].start) - union_length(kids)
    assert tr.self_total("plans.crawl.run_round") == pytest.approx(want)
    # the children ran concurrently, so subtracting their sum would
    # undercount the round's own time
    assert tr.self_total("plans.crawl.run_round") > (
        spans[0].end - spans[0].start) - sum(e - s for s, e in kids)


# -- input cache ---------------------------------------------------------------

def test_input_cache_keeps_the_newest_entries_of_each_workload(tmp_path):
    built = []

    def build(d):
        built.append(d)

    other = inputs._cached(str(tmp_path), "corpus_select-s1-n10", build)
    os.utime(other, (0, 0))
    for i in range(inputs._KEEP_ENTRIES + 1):
        out = inputs._cached(str(tmp_path), f"wide_crawl-s{i}-n10-h2", build)
        os.utime(out, (i + 1, i + 1))
    kept = sorted(os.listdir(tmp_path / "inputs"))
    # the oldest wide_crawl entry went; the older corpus_select one did not
    assert "wide_crawl-s0-n10-h2" not in kept
    assert "corpus_select-s1-n10" in kept
    assert len(kept) == inputs._KEEP_ENTRIES + 1
    n = len(built)
    assert inputs._cached(str(tmp_path), "corpus_select-s1-n10", build) == other
    assert len(built) == n  # a hit does not rebuild


# -- percentile reporting ------------------------------------------------------

@pytest.mark.parametrize("n,p", [
    (1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
    (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9),
])
def test_percentile_needs_ten_samples_beyond_it(n, p):
    assert reportable_percentile(n) == p
    if p is not None:
        assert round(n * (100 - p) / 100, 9) >= 10


def test_summary_reports_sample_count_and_median():
    s = summarize([3.0, 1.0, 2.0])
    assert s == {"n": 3, "p50": 2.0}
    s = summarize([float(i) for i in range(1, 101)])
    assert s["n"] == 100 and s["p"] == 90.0 and s["value"] == 90.0
    line = describe("step_s", [1.0, 2.0, 3.0], "s")
    assert "3 samples" in line and "p50 2.0000 s" in line


def test_nearest_rank_percentile():
    vals = list(range(1, 101))
    assert percentile(vals, 50) == 50
    assert percentile(vals, 99.9) == 100
    with pytest.raises(ValueError):
        percentile([], 50)


# -- metric names --------------------------------------------------------------

def test_every_emitted_name_is_declared_and_well_formed():
    b = _bench()
    assert [m["name"] for m in b["end_to_end"]] == list(END_TO_END)
    assert [m["name"] for m in b["per_layer"]] == list(PER_LAYER)
    for name in END_TO_END + PER_LAYER:
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", name), name
        assert NAME_RE.match(name), name
    assert len(set(END_TO_END + PER_LAYER)) == len(END_TO_END + PER_LAYER)


def test_check_names_flags_undeclared_and_malformed():
    assert check_names({"a.b"}, {"a.b"}) == []
    assert check_names({"a.b", "zz"}, {"a.b"}) == ["undeclared metric zz"]
    assert check_names({"bad name"}, {"bad name"}) == ["bad metric name bad name"]


def test_benchmark_file_follows_the_contract():
    b = _bench()
    assert set(b) == {"command", "paths", "run_seconds", "workloads",
                      "end_to_end", "per_layer"}
    assert b["command"][:2] == ["python3", "perfbench/run.py"]
    assert [w["name"] for w in b["workloads"]] == list(WORKLOADS)
    for w in b["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200
    unit_re = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and unit_re.match(m["unit"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"} and unit_re.match(m["unit"])
        assert m["better"] in ("higher", "lower")
