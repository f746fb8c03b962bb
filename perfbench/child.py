"""One Spark session of a benchmark run; run.py starts it as its own
process so that set-up includes the Python start, the JVM and the
python-worker daemon.

    python3 perfbench/child.py <request.json> <result.json>

The request names the workload, the warm-pass window ``seconds`` (and
``min_warm`` passes at least), whether the session is traced, and
``launch_t``/``launch_ticks``: the parent's ``time.monotonic()`` and
/proc/stat reading just before it started this process.  The session sets up, makes one cold pass, then warm
passes.
"""

from __future__ import annotations

import json
import os
import sys
import time
import traceback
from contextlib import contextmanager


def _digest(out: dict) -> str:
    import hashlib
    return hashlib.sha256(
        json.dumps(out, sort_keys=True).encode()).hexdigest()


class Layers:
    """``layer(label)(name)``: a context manager around one call into a
    layer.  Traced, it tags the Spark jobs with ``label:name`` and times
    the layer from the driver; untraced, it does nothing."""

    def __init__(self, sc, traced: bool):
        self.sc, self.traced = sc, traced

    def __call__(self, label: str):
        times: dict[str, float] = {}

        @contextmanager
        def layer(name: str):
            if not self.traced:
                yield
                return
            self.sc.setJobDescription(f"{label}:{name}")
            t0 = time.monotonic()
            try:
                yield
            finally:
                times[name] = times.get(name, 0.0) + time.monotonic() - t0
                self.sc.setJobDescription(None)

        layer.times = times
        return layer


def canonical_counters(spark, workload, inp: dict) -> dict:
    """Work counts of canonical_map's banded path on this input, from the
    module's public functions: band rows, candidate pairs (verification
    threshold 0 keeps every candidate), verified pairs, and the rows the
    bucket cap dropped (cap_audit_rows).  Untimed; traced runs only."""
    from pyspark.sql import functions as F

    from lacspark.spark.canonical import (candidate_pairs, minhash_bands,
                                          surface_forms)
    from lacspark.spark.dedup import cap_audit_rows

    if workload.tagger:
        from lacspark.spark.tagger import explode_mentions, tag_and_extract
        docs = spark.read.parquet(inp["paths"]["documents"])
        mentions = explode_mentions(tag_and_extract(docs, "text"),
                                    ["doc_id"])
    else:
        mentions = spark.read.parquet(inp["paths"]["mentions"])
    forms = surface_forms(mentions).persist()
    banded = minhash_bands(forms).persist()
    try:
        out = {
            "band_rows": banded.count(),
            "candidate_pairs": candidate_pairs(banded, 0.0).count(),
            "verified_pairs": candidate_pairs(banded).count(),
        }
        audit = [r for r in cap_audit_rows()
                 if r["op"] == "canonical_candidate_pairs"]
        out["cap_dropped_rows"] = sum(r["n_rows_dropped"] for r in audit)
        out["forms"] = forms.agg(F.count(F.lit(1))).collect()[0][0]
    finally:
        banded.unpersist()
        forms.unpersist()
    return out


def main(req_path: str, res_path: str) -> int:
    with open(req_path) as fh:
        req = json.load(fh)
    rec: dict = {"traced": req["traced"], "passes": [], "errors": []}
    spark = None
    try:
        t0 = time.monotonic()
        from lacspark.spark.session import get_spark

        spark = get_spark(app_name="perfbench", cores=req["cores"],
                          extra_conf=req["conf"])
        rec["get_spark_s"] = time.monotonic() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        # first trivial job: starts the python-worker daemon and forks
        # the workers the passes reuse
        n = req["cores"]
        if req["traced"]:
            sc.setJobDescription("setup:session")
        spark.range(n).repartition(n).mapInPandas(
            lambda it: it, "id long").count()
        sc.setJobDescription(None)
        rec["setup_s"] = time.monotonic() - req["launch_t"]
        from perfbench.hostmon import cpu_span, cpu_ticks
        rec["setup_host"] = cpu_span(req["launch_ticks"], cpu_ticks())
        run_passes(spark, req, rec)
    except Exception:
        rec["errors"].append(traceback.format_exc())
    finally:
        if spark is not None:
            spark.stop()
        with open(res_path, "w") as fh:
            json.dump(rec, fh)
    return 0


def run_passes(spark, req: dict, rec: dict) -> None:
    sys.path.insert(0, req["root"])
    from perfbench.hostmon import RssSampler, cpu_span, cpu_ticks
    from perfbench.workloads import WORKLOADS

    workload = WORKLOADS[req["workload"]]
    inp = req["input"]
    sc = spark.sparkContext
    layers = Layers(sc, req["traced"])

    def one_pass(label: str) -> None:
        layer = layers(label)
        c0, t0 = cpu_ticks(), time.monotonic()
        try:
            res = workload.run(spark, inp, layer)
            sec = time.monotonic() - t0
            host = cpu_span(c0, cpu_ticks())
            out = workload.outputs(res)
        except Exception:
            rec["passes"].append({"label": label, "ok": False})
            raise
        p = {"label": label, "ok": True, "sec": sec, **host,
             "layer_s": layer.times, "digest": _digest(out),
             "triples": workload.triples(out), "forms": out["forms"],
             "persisted_rdds": len(sc._jsc.getPersistentRDDs())}
        if label == "cold":
            rec["outputs"] = out
        rec["passes"].append(p)

    with RssSampler(os.getpid()) as rss:
        one_pass("cold")
        end = time.monotonic() + req["seconds"]
        i = 0
        while i < req["min_warm"] or time.monotonic() < end:
            one_pass(f"warm{i}")
            i += 1
    rec["peak_rss_mb"] = rss.peak / 2**20
    if req["traced"]:
        rec["canonical"] = canonical_counters(spark, workload, inp)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
