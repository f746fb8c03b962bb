#!/usr/bin/env python3
"""lacspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload docs_kg --seed 1 --seconds 16 --trace 0

Run from the root of a checkout.  The inputs are generated from
``--seed`` and written to parquet, and the expected outputs computed,
before any timing.  Then Spark sessions run on local[<cpus>], each in
its own process started with the checkout on PYTHONPATH and every
scratch directory under ``.perfbench_work/``:

- ``--trace 0``: one session that sets up, makes one cold pass, one
  warm-up pass and then warm passes (at least two) until ``--seconds``
  have passed since the warm-up started.  Prints the end-to-end metrics.
- ``--trace 1``: an untraced and a traced session, each with a cold
  pass and warm passes (at least one) for a quarter of ``--seconds``;
  the traced one writes Spark's event log and tags jobs by layer.  Then
  the tagger's batches are replayed through the engine with its
  functions wrapped.  Prints the per-layer metrics.

Every pass's output is checked (untimed).  The last stdout line is one
JSON object: {"correct", "attempted", "failed", "metrics"}.  The full
record of the run goes to ``.perfbench_work/record.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from statistics import median

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import procs  # noqa: E402
from perfbench.hostmon import cpu_ticks, steal_adjusted  # noqa: E402

WORK = os.path.join(ROOT, ".perfbench_work")
# a run must end within 180 s: children share this budget
RUN_BUDGET_S = 170
# the first warm pass still runs JIT-cold code and is not reported;
# warm_s and cpu_s are medians over at least this many later passes
MIN_MEASURED = 2
T_START = time.monotonic()

E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s", "cpu_s": "CPU-s",
             "triples_per_s": "1/s", "peak_rss_mb": "MB"}


def session_conf(traced: bool) -> dict:
    conf = {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file in /tmp: everything stays in the checkout
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
    }
    if traced:
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 defaults to zstd, which stdlib cannot read
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + os.path.join(WORK, "eventlog"),
        })
    return conf


def child_env() -> dict:
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    env["TMPDIR"] = os.path.join(WORK, "tmp")
    env["LACSPARK_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    env.pop("OMP_NUM_THREADS", None)
    return env


def launch(name: str, req: dict) -> dict:
    """Run child.py as its own process (and session); return its record.
    Whatever the session started is killed and reaped once the child has
    exited or, if it overruns, together with it."""
    req_path = os.path.join(WORK, f"{name}.request.json")
    res_path = os.path.join(WORK, f"{name}.result.json")
    log_path = os.path.join(WORK, f"{name}.log")
    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "child.py"),
           req_path, res_path]
    with open(log_path, "w") as log:
        req["launch_t"] = t0 = time.monotonic()
        req["launch_ticks"] = cpu_ticks()
        with open(req_path, "w") as fh:
            json.dump(req, fh)
        proc = subprocess.Popen(cmd, cwd=ROOT, env=child_env(), stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            proc.wait(timeout=max(
                5.0, RUN_BUDGET_S - (time.monotonic() - T_START)))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        finally:
            left = procs.stop(procs.in_session(proc.pid))
            if left:
                print(f"perfbench: session {name} left {left} running",
                      file=sys.stderr)
    try:
        with open(res_path) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        rec = {"passes": [], "errors": [f"{name}: no result (exit "
                                        f"{proc.returncode})"]}
    rec["wall_s"] = time.monotonic() - t0
    if rec["errors"]:
        with open(log_path) as fh:
            tail = fh.read()[-3000:]
        print(f"perfbench: session {name} failed:\n"
              + "\n".join(rec["errors"]) + tail, file=sys.stderr)
    return rec


def quantile_note(name: str, values: list[float], unit: str) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, if the count allows one."""
    n = len(values)
    s = f"{name}: median {median(values):.4g} {unit} (n={n}"
    if n > 10:
        k = n - 10  # ten samples lie above the k-th smallest
        s += f", p{100 * k // n} {sorted(values)[k - 1]:.4g} {unit}"
    return s + ")"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "lacspark", "spark",
                                       "session.py")):
        print(f"perfbench: no lacspark sources under {ROOT}; run from the "
              "root of a full checkout", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]

    shutil.rmtree(WORK, ignore_errors=True)
    for d in ("tmp", "spark-local", "eventlog", "input"):
        os.makedirs(os.path.join(WORK, d))
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

    t0 = time.monotonic()
    inp = workload.generate(args.seed, WORK)
    t1 = time.monotonic()
    exp = workload.expected(inp)
    phases = {"generate_s": t1 - t0, "expected_s": time.monotonic() - t1}
    cores = len(os.sched_getaffinity(0))
    base = {"root": ROOT, "workload": workload.name, "cores": cores,
            "input": {"paths": inp["paths"]}}

    record: dict = {"workload": workload.name, "seed": args.seed,
                    "cores": cores, "trace": args.trace,
                    "input_stats": inp["stats"], "phases": phases}
    # one session per run is all the run budget allows: a JVM start
    # costs 13-20 s on a 4-vCPU host, so setup_s is one sample per run
    if args.trace == 0:
        sessions = {"main": launch("main", {
            **base, "traced": False, "seconds": args.seconds,
            "min_warm": 1 + MIN_MEASURED, "conf": session_conf(False)})}
        timed = sessions["main"]
    else:
        # a quarter each: with their set-ups and cold passes the two
        # sessions fit a run's time budget
        quarter = args.seconds / 4
        sessions = {
            name: launch(name, {**base, "traced": traced, "seconds": quarter,
                                "min_warm": 1, "conf": session_conf(traced)})
            for name, traced in (("untraced", False), ("traced", True))}
        timed = sessions["untraced"]

    # output checks: every pass of every session must have produced the
    # same output, and that output must pass the workload's check
    attempted = failed = 0
    problems: list[str] = []
    for name, rec in sessions.items():
        problems += [f"{name}: session error" for _ in rec["errors"]]
        passes = rec["passes"]
        attempted += max(len(passes), 1)
        bad = [] if "outputs" not in rec else workload.check(
            inp, exp, rec["outputs"])
        problems += [f"{name}: {b}" for b in bad]
        ref = passes[0].get("digest") if passes and not bad else None
        for p in passes:
            if not p["ok"] or ref is None or p["digest"] != ref:
                failed += 1
        if not passes:
            failed += 1
    correct = not problems and failed == 0
    record.update({"sessions": sessions, "problems": problems,
                   "attempted": attempted, "failed": failed})

    metrics: dict = {}
    warm = [p for p in timed["passes"]
            if p["ok"] and p["label"].startswith("warm")
            and p["label"] != "warm0"]
    cold = [p for p in timed["passes"] if p["ok"] and p["label"] == "cold"]
    if args.trace == 0 and warm and cold:
        # times are steal-adjusted (hostmon.steal_adjusted); raw wall
        # times are in the record and the lines printed below
        def adj(p):
            return steal_adjusted(p["sec"], p)

        warm_s = median(map(adj, warm))
        e2e = {
            "setup_s": steal_adjusted(timed["setup_s"], timed["setup_host"]),
            "cold_s": adj(cold[0]),
            "warm_s": warm_s,
            "cpu_s": median(p["cpu_s"] for p in warm),
            "triples_per_s": warm[0]["triples"] / warm_s,
            "peak_rss_mb": timed["peak_rss_mb"],
        }
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in e2e.items()}
        for k, vals in (("warm_s", [adj(p) for p in warm]),
                        ("warm_s raw wall", [p["sec"] for p in warm]),
                        ("cpu_s", [p["cpu_s"] for p in warm]),
                        ("warm steal_pct", [p["steal_pct"] for p in warm])):
            print(f"{workload.name} " + quantile_note(k, vals, E2E_UNITS.get(
                k, "%" if "pct" in k else "s")))
        print(f"{workload.name} setup_s: {e2e['setup_s']:.4g} s "
              f"(raw {timed['setup_s']:.4g} s, n=1)  "
              f"cold_s: {e2e['cold_s']:.4g} s (raw {cold[0]['sec']:.4g} s, "
              f"n=1)  "
              f"triples_per_s: {e2e['triples_per_s']:.4g} 1/s  "
              f"peak_rss_mb: {e2e['peak_rss_mb']:.4g} MB  "
              f"failed_ratio: {failed}/{attempted}")
    elif args.trace == 1:
        metrics = per_layer(workload, inp, sessions, cores)
        record["ledger"] = metrics.pop("_ledger", None)
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                   for k, v in metrics.items()}
        for k, v in metrics.items():
            print(f"{workload.name} {k}: {v['value']:.6g} {v['unit']}")
    record["metrics"] = metrics
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)
    with open(os.path.join(WORK, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    if not metrics:
        correct = False
    print(json.dumps({"correct": correct, "attempted": max(attempted, 1),
                      "failed": failed, "metrics": metrics}))
    return 0


# -- traced run ---------------------------------------------------------------

PER_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "pyworker.start_s": "s", "pyworker.init_s": "s", "pyworker.run_s": "s",
    "pyworker.bytes_to_python": "bytes",
    "pyworker.bytes_from_python": "bytes",
    "spark.tagger.stage_s": "s", "spark.tagger.tasks": "count",
    "spark.tagger.task_p50_s": "s", "spark.tagger.task_max_s": "s",
    "engine.init_s": "s", "engine.rows": "count",
    "engine.unique_rows": "count", "engine.tokens": "count",
    "engine.run_batch_self_s": "s", "engine.extract_s": "s",
    "segmenter.cut_s": "s", "segmenter.calls": "count",
    "encoding.encode_s": "s", "net.decode_s": "s", "net.rank_s": "s",
    "spark.canonical.s": "s", "spark.canonical.forms": "count",
    "spark.canonical.band_rows": "count",
    "spark.canonical.candidate_pairs": "count",
    "spark.canonical.verified_pairs": "count",
    "spark.canonical.cap_dropped_rows": "count",
    "spark.canonical.jobs": "count",
    "spark.graph.vertices_s": "s", "spark.graph.edges_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.tasks_failed": "count", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "CPU-s", "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "cache.persisted_rdds": "count",
    "trace.overhead_s": "s",
}
# engine replay size: tagger batches run through the wrapped engine
REPLAY_BATCHES = 2


def per_layer(workload, inp: dict, sessions: dict, cores: int) -> dict:
    from perfbench.eventlog import ledger, read_events

    tr, un = sessions["traced"], sessions["untraced"]
    out = dict.fromkeys(PER_LAYER_UNITS, 0.0)
    out["session.get_spark_s"] = tr.get("get_spark_s", 0.0)
    logs = os.path.join(WORK, "eventlog")
    if os.listdir(logs):
        led = ledger(read_events(logs))
        out.update(led["metrics"])
        out["_ledger"] = led["passes"]
    warm_t = [p for p in tr["passes"] if p["ok"] and p["label"] != "cold"]
    warm_u = [p for p in un["passes"] if p["ok"] and p["label"] != "cold"]
    if warm_t:
        for key, layer in (("spark.canonical.s", "canonical"),
                           ("spark.graph.vertices_s", "graph.vertices"),
                           ("spark.graph.edges_s", "graph.edges")):
            out[key] = median(p["layer_s"].get(layer, 0.0) for p in warm_t)
        out["cache.persisted_rdds"] = max(p["persisted_rdds"]
                                          for p in tr["passes"])
        if warm_u:
            out["trace.overhead_s"] = (median(p["sec"] for p in warm_t)
                                       - median(p["sec"] for p in warm_u))
    for k, v in tr.get("canonical", {}).items():
        out[f"spark.canonical.{k}"] = v
    if workload.tagger:
        from perfbench.enginetrace import replay
        out.update(replay(inp["texts"], cores, REPLAY_BATCHES))
    return out


def stop_everything() -> list[int]:
    """Stop the multiprocessing resource tracker the reference pool
    started, then kill and reap every process left below this one."""
    from multiprocessing import resource_tracker
    try:
        resource_tracker._resource_tracker._stop()
    except (AttributeError, OSError):
        pass  # older Pythons: the sweep below kills the tracker
    return procs.stop(procs.descendants_of(os.getpid()))


if __name__ == "__main__":
    procs.become_subreaper()
    try:
        code = main()
    finally:
        left = stop_everything()
    if left:
        print(f"perfbench: could not stop {left}", file=sys.stderr)
        code = code or 1
    sys.exit(code)
