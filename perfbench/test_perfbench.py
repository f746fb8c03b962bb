"""The benchmark's own unit tests (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import enginetrace, eventlog  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")


def load_benchmark() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_tiny_event_log_gives_named_layer_metrics():
    led = eventlog.ledger(eventlog.read_events(
        os.path.join(HERE, "testdata", "tiny_eventlog.jsonl")))
    assert list(led["passes"]) == ["cold", "warm0"]
    m = led["metrics"]
    # set-up job + cold pass Python worker start/init: task-time sums
    assert m["pyworker.start_s"] == pytest.approx(2.2)
    assert m["pyworker.init_s"] == pytest.approx(1.1)
    # warm pass: both jobs, the skipped stage 2 never ran
    assert m["spark.jobs"] == 2
    assert m["spark.stages"] == 2
    assert m["spark.tasks"] == 4
    assert m["spark.tasks_failed"] == 1
    assert m["spark.canonical.jobs"] == 1
    assert m["pyworker.run_s"] == pytest.approx(3.7)
    assert m["pyworker.bytes_to_python"] == 210
    assert m["pyworker.bytes_from_python"] == 410
    assert m["spark.tagger.stage_s"] == pytest.approx(3.0)
    assert m["spark.tagger.tasks"] == 2
    assert m["spark.tagger.task_p50_s"] == pytest.approx(2.0)
    assert m["spark.tagger.task_max_s"] == pytest.approx(3.0)
    assert m["spark.executor_run_s"] == pytest.approx(4.9)
    assert m["spark.executor_cpu_s"] == pytest.approx(4.1)
    assert m["spark.jvm_gc_s"] == pytest.approx(0.04)
    assert m["spark.shuffle_write_bytes"] == 1000
    assert m["spark.shuffle_read_bytes"] == 500
    assert m["spark.spill_bytes"] == 64


def test_benchmark_json_names_and_metric_sets():
    from perfbench.run import E2E_UNITS, PER_LAYER_UNITS
    from perfbench.workloads import WORKLOADS

    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    names += [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    for n in names:
        assert NAME.fullmatch(n) and len(n) <= 64, n
    assert len(names) == len(set(names))
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"]
            for m in bench["per_layer"]} == PER_LAYER_UNITS


def test_recursive_call_is_timed_once():
    tr = enginetrace.Tracer()

    class Engine:
        def run(self, n):
            return self.run(n - 1) if n else self.leaf()

        def leaf(self):
            return 1

    with enginetrace.wrapped(tr, [(Engine, "run", "run"),
                                  (Engine, "leaf", "leaf")]):
        Engine().run(3)
    assert tr.calls["run"] == 1 and tr.calls["leaf"] == 1
    assert tr.self_s["run"] == pytest.approx(
        tr.total["run"] - tr.total["leaf"])
    assert Engine.run.__name__ == "run"  # originals restored


def test_tagger_batches_follow_partitions():
    texts = [str(i) for i in range(10)]
    got = list(enginetrace.batches(texts, cores=4, max_rows=2))
    assert [len(b) for b in got] == [2, 1, 2, 1, 2, 1, 1]
    assert sum(got, []) == texts


STOP_SCRIPT = r"""
import os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
from perfbench import procs
assert procs.become_subreaper()
# the session's shell orphans a sleeper that moved to its own process
# group, as PySpark's python-worker daemon does
p = subprocess.Popen(
    ["bash", "-c", "set -m; sleep 30 >/dev/null & echo $!"],
    stdout=subprocess.PIPE, start_new_session=True)
orphan = int(p.stdout.read())
p.wait()
assert os.getpgid(orphan) == orphan != p.pid
table = procs.process_table()
assert table[orphan][1] == p.pid and table[orphan][0] == os.getpid()
assert procs.stop(procs.in_session(p.pid)) == []
assert orphan not in procs.process_table()
print("ok")
"""


def test_stop_kills_and_reaps_orphans_of_a_session():
    import subprocess
    out = subprocess.run([sys.executable, "-c", STOP_SCRIPT,
                          os.path.dirname(HERE)],
                         capture_output=True, text=True, timeout=60)
    assert out.stdout.strip() == "ok", out.stderr
