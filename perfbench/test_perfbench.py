"""Self-tests of the benchmark at tiny input sizes.

    python3 -m pytest perfbench -q

The tests that need Spark share one session; the end-to-end command tests
run last because the command stops the session it used.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import run  # noqa: E402
import workloads  # noqa: E402
from tracer import NullTracer, Span, self_times  # noqa: E402

TINY_LAKE = dict(n_sessions=40, messages_per=3, events_per=12, giant_events=60)


@pytest.fixture(autouse=True)
def tiny(monkeypatch):
    monkeypatch.setattr(workloads, "ANALYTICS_SF", 0.001)
    monkeypatch.setattr(workloads, "SESSION_LAKE", TINY_LAKE)
    monkeypatch.setattr(workloads, "INGEST_LAKE", TINY_LAKE)


@pytest.fixture(scope="module")
def work():
    os.makedirs(os.path.join(ROOT, ".perfbench-work"), exist_ok=True)
    d = tempfile.mkdtemp(prefix="test-", dir=os.path.join(ROOT, ".perfbench-work"))
    run.prepare_env(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)
    if not os.listdir(os.path.dirname(d)):
        os.rmdir(os.path.dirname(d))


@pytest.fixture(scope="module")
def spark(work):
    return run.start_spark(work)


# -- span arithmetic ------------------------------------------------------------


def test_self_time_subtracts_children_once():
    spans = [
        Span("op", 0.0, 10.0),
        Span("api.x", 1.0, 5.0, parent=0),
        Span("mutation.read", 2.0, 3.0, parent=1),
        Span("mutation.read", 2.5, 4.0, parent=1),  # overlaps its sibling
        Span("spark.action", 6.0, 9.0, parent=0),
        Span("late", 8.0, 12.0, parent=4),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([3.0, 2.0, 1.0, 1.5, 2.0, 4.0])


def test_self_times_of_nested_spans_add_up_to_wall_time():
    spans = [
        Span("op", 0.0, 10.0),
        Span("queries.build", 0.5, 4.0, parent=0),
        Span("io.load_table", 1.0, 2.0, parent=1),
        Span("io.load_table", 2.0, 2.5, parent=1),
        Span("spark.action", 4.0, 9.5, parent=0),
    ]
    st = self_times(spans)
    assert st == pytest.approx([1.0, 2.0, 1.0, 0.5, 5.5])
    assert sum(st) == pytest.approx(10.0)


def test_percentiles():
    assert run.pct([1.0, 2.0, 3.0, 4.0, 5.0], 50) == 3.0
    assert run.pct([float(i) for i in range(1, 102)], 90) == pytest.approx(91.0)


def test_interleaving_traces_every_label_once_in_two_decks():
    labels = [f"q{i}" for i in range(16)]
    mixed = run.Interleaved(None, labels, None)
    decks = [[lab for lab in labels if mixed.traced_next(lab)] for _ in range(2)]
    assert len(decks[0]) == len(decks[1]) == 8
    assert sorted(decks[0] + decks[1]) == sorted(labels)


# -- checks inside the loop -----------------------------------------------------


def test_planted_wrong_hash_counts_as_failure(spark, work):
    wl = workloads.Analytics(spark, os.path.join(work, "analytics"), seed=1)
    wl.generate()
    wl.use(wl.setup(0)())
    wl.expected["flagship_pricing_summary"] = "0" * 64  # planted wrong oracle
    samples: list[run.Sample] = []
    run.warm_up(wl, samples)
    bad = [s for s in samples if s.error]
    assert [s.label for s in bad] == ["flagship_pricing_summary"]
    assert len(samples) == len(wl.queries)


def test_replayed_sink_batch_is_skipped(spark, work):
    wl = workloads.IngestMutate(spark, os.path.join(work, "ingest"), seed=1)
    wl.generate()
    wl.use(wl.setup(0)())
    import numpy as np

    r = np.random.default_rng(0)
    t = NullTracer()
    first = wl._append(r, replay=False)
    assert first.check(first.run(t)) is None
    rows = wl.lake.events.read().count()
    version = wl.lake.events.current_version()
    again = wl._append(r, replay=True)
    assert again.check(again.run(t)) is None
    assert wl.lake.events.read().count() == rows
    assert wl.lake.events.current_version() == version
    assert wl.replays == wl.replays_skipped == 1
    assert wl.final_check() == []


# -- the command ----------------------------------------------------------------


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_declared_metric_is_emitted_with_its_unit(capsys, spark, trace, section):
    code = run.main(["--workload", "session_api", "--seed", "3",
                     "--seconds", "0.1", "--trace", str(trace)])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0 and last["correct"] and last["failed"] == 0
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        want = {m["name"]: m["unit"] for m in json.load(f)[section]}
    assert {k: v["unit"] for k, v in last["metrics"].items()} == want
    assert all(isinstance(v["value"], float) for v in last["metrics"].values())
