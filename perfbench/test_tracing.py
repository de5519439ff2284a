"""Tests of the traced-run tooling. Run: python -m pytest perfbench/test_tracing.py"""

from __future__ import annotations

import os
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from tracing import Tracer, by_phase, fold_event_log  # noqa: E402

FRAGMENT = os.path.join(HERE, "fixtures", "eventlog_fragment.jsonl")


class FakeContext:
    def __init__(self):
        self.props: dict[str, str | None] = {}
        self.history: list[str | None] = []

    def setLocalProperty(self, key, value):
        self.props[key] = value
        if key == "spark.jobGroup.id":
            self.history.append(value)


def test_self_time_is_span_minus_children():
    tr = Tracer("t")
    with tr.span("outer") as outer:
        time.sleep(0.02)
        with tr.span("child"):
            time.sleep(0.03)
        with tr.span("child"):
            time.sleep(0.01)
    kids = tr.children(outer)
    assert [k.name for k in kids] == ["child", "child"]
    assert all(k.parent == outer.id and k.run_id == "t" for k in kids)
    covered = sum(k.seconds for k in kids)
    assert abs(tr.self_seconds(outer) + covered - outer.seconds) < 1e-9
    assert tr.self_seconds(outer) >= 0.02
    assert abs(tr.total("child") - covered) < 1e-9


def test_job_group_follows_the_innermost_span():
    sc = FakeContext()
    tr = Tracer("t", sc=sc)
    tr.phase = "sync"
    with tr.span("a") as a:
        with tr.span("b") as b:
            pass
    assert sc.history == [f"sync|a|{a.id}", f"sync|b|{b.id}", f"sync|a|{a.id}", None]


def test_wrap_patches_aliases_and_unwraps():
    home = types.ModuleType("pkgx.home")
    user = types.ModuleType("pkgx.user")

    def work(x):
        return x * 2

    home.work = work
    user.work = work  # a `from pkgx.home import work`
    sys.modules["pkgx.home"], sys.modules["pkgx.user"] = home, user
    try:
        tr = Tracer("t")
        seen = []
        tr.wrap(home, "work", "home.work", on_result=lambda rec, out: seen.append(out),
                alias_prefix="pkgx.")
        assert user.work(3) == 6 and home.work(4) == 8
        assert [s.name for s in tr.spans] == ["home.work", "home.work"]
        assert seen == [6, 8]
        tr.unwrap_all()
        assert home.work is work and user.work is work
    finally:
        del sys.modules["pkgx.home"], sys.modules["pkgx.user"]


def test_fold_event_log_groups_tasks_by_job_group():
    # captured from a local Spark 4 run: a two-stage job under one group,
    # a job under a second group whose map stage is skipped (its shuffle
    # output is reused), and a job with no group
    with open(FRAGMENT, encoding="utf-8") as f:
        folded = fold_event_log(f)
    sync = folded["sync|pipeline.run_pipeline|3"]
    assert sync["jobs"] == 1 and sync["tasks"] == 4
    assert abs(sync["executor_run_s"] - 3.885) < 1e-9
    assert abs(sync["executor_cpu_s"] - 0.431854841) < 1e-9
    assert abs(sync["gc_s"] - 0.024) < 1e-9
    assert abs(sync["shuffle_write_mb"] - 373 / 2**20) < 1e-12
    assert sync["spill_mb"] == 0
    search = folded["search|cli.search|9"]
    assert search["jobs"] == 1 and search["tasks"] == 2
    assert abs(search["executor_run_s"] - 0.376) < 1e-9
    assert folded[""]["jobs"] == 1 and folded[""]["tasks"] == 2
    phases = by_phase(folded)
    assert phases["sync"]["tasks"] == 4 and phases["search"]["tasks"] == 2
    assert phases["untraced"]["jobs"] == 1


def test_benchmark_json_lists_every_layer_metric():
    import json

    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        bench = json.load(f)
    listed = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert listed == run.layer_units()
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
