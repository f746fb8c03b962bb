"""The benchmark workloads: seeded inputs, one timed pass over the
program's public Spark API, and the untimed output check.

A workload object has these parts:

- ``generate(seed, work)`` writes the inputs to parquet and returns a
  description (paths, input stats, check data), before any timing;
- ``expected(inp)`` computes what a correct program must produce,
  without Spark, before any timing;
- ``run(spark, inp, layer)`` is one pass.  ``layer(name)`` is a context
  manager the pass wraps around each call into a layer; the traced run
  uses it to tag Spark jobs and time the layer from the driver;
- ``outputs(res)`` turns a pass's result into plain, sorted Python
  values (untimed) and releases what the pass persisted;
- ``triples(out)`` is the triple count behind ``triples_per_s``;
- ``check(inp, exp, out)`` returns a list of failures (empty = correct).
"""

from __future__ import annotations

import os
from collections import defaultdict

from . import inputs as gen

# docs_kg: 1,000 docs keep a warm pass near 4.5 s on 4 cores, 40% of it
# in the tagger stage; entity_canon: 6,000 forms over a lowered driver
# threshold keep a pass on the distributed path near 5 s.
DOCS = 1000
FORMS = 6000
CANON_DRIVER_THRESHOLD = 1000


def _graph_rows(vertices, edges) -> dict:
    return {
        "vertices": sorted(
            [r.entity_id, r.canonical, r.n_mentions, r.salience,
             list(r.aliases), r.n_tags, r.top_tag] for r in vertices),
        "edges": sorted(
            [r.subj_id, r.subj_canonical, r.pred, r.obj_id,
             r.obj_canonical, r.weight, r.salience, r.n_provenance]
            for r in edges),
    }


class DocsKg:
    """bench.py's KG chain over generated documents: tag_and_extract
    (rank) -> explode mentions/triples -> canonical_map ->
    build_vertices/build_edges."""

    name = "docs_kg"
    tagger = True

    def generate(self, seed: int, work: str) -> dict:
        cols = gen.gen_documents(seed, DOCS)
        path = os.path.join(work, "input", "documents.parquet")
        gen.write_table(cols, path)
        return {"paths": {"documents": path}, "texts": cols["text"],
                "stats": {"documents": gen.text_stats(cols["text"])}}

    def expected(self, inp: dict) -> dict:
        from .reference import docs_kg_expected
        return docs_kg_expected(inp["texts"])

    def run(self, spark, inp: dict, layer) -> dict:
        from lacspark.spark.canonical import canonical_map
        from lacspark.spark.graph import build_edges, build_vertices
        from lacspark.spark.tagger import (explode_mentions, explode_triples,
                                           tag_and_extract)

        with layer("scan"):
            docs = spark.read.parquet(inp["paths"]["documents"])
        with layer("tagger"):
            tagged = tag_and_extract(docs, "text", mode="rank").persist()
            n_docs = tagged.count()
        with layer("extract"):
            mentions = explode_mentions(tagged, ["doc_id"]).persist()
            triples = explode_triples(tagged, ["doc_id"])
            n_mentions = mentions.count()
            n_triples = triples.count()
        with layer("canonical"):
            cmap = canonical_map(mentions).persist()
        with layer("graph.vertices"):
            vertices = build_vertices(mentions, cmap).collect()
        with layer("graph.edges"):
            edges = build_edges(triples, cmap).collect()
        return {"counts": [n_docs, n_mentions, n_triples],
                "vertices": vertices, "edges": edges,
                "cmap": cmap, "persisted": [tagged, mentions, cmap]}

    def outputs(self, res: dict) -> dict:
        try:
            out = _graph_rows(res["vertices"], res["edges"])
            out["counts"] = res["counts"]
            out["forms"] = res["cmap"].count()
            return out
        finally:
            for df in res["persisted"]:
                df.unpersist()

    @staticmethod
    def triples(out: dict) -> int:
        return out["counts"][2]

    def check(self, inp: dict, exp: dict, out: dict) -> list[str]:
        bad = []
        for key in ("counts", "vertices", "edges"):
            if out[key] != exp[key]:
                bad.append(f"{key} differ from the pure-Python path "
                           f"(LacEngine + canonical_py)")
        return bad


class EntityCanon:
    """canonical_map on its distributed band -> cap -> self-join ->
    connected-components path, then build_vertices/build_edges, over
    generated mentions and triples."""

    name = "entity_canon"
    tagger = False

    def generate(self, seed: int, work: str) -> dict:
        ent = gen.gen_entities(seed, FORMS)
        paths = {}
        for table in ("mentions", "triples"):
            paths[table] = os.path.join(work, "input", f"{table}.parquet")
            gen.write_table(ent[table], paths[table])
        return {"paths": paths, "entities": ent,
                "stats": {"entities": ent["stats"]}}

    def expected(self, inp: dict) -> dict:
        """Invariants any correct canonicalization keeps: the form set,
        and totals the graph aggregates must preserve."""
        m, t = inp["entities"]["mentions"], inp["entities"]["triples"]
        return {
            "forms": sorted({f for f in map(gen.form_of, m["word"])
                             if len(f) >= 2}),
            "vertex_totals": [len(m["word"]), int(m["rank"].sum())],
            "edge_totals": [len(t["subj"]), int(t["sal"].sum()),
                            float((t["conf"] * (1 + t["sal"])).sum())],
        }

    def run(self, spark, inp: dict, layer) -> dict:
        from pyspark.sql import functions as F

        from lacspark.spark.canonical import canonical_map
        from lacspark.spark.graph import build_edges, build_vertices

        with layer("scan"):
            mentions = spark.read.parquet(inp["paths"]["mentions"])
            triples = spark.read.parquet(inp["paths"]["triples"])
        with layer("canonical"):
            cmap = canonical_map(
                mentions, driver_threshold=CANON_DRIVER_THRESHOLD).persist()
            n_forms = cmap.count()

        def summary(df, sums):
            # one row that depends on every output column: a count,
            # the invariant totals, and an order-free xor of row hashes
            return df.agg(F.count(F.lit(1)), *[F.sum(c) for c in sums],
                          F.bit_xor(F.xxhash64(*df.columns))).collect()[0]

        with layer("graph.vertices"):
            v = summary(build_vertices(mentions, cmap),
                        ["n_mentions", "salience"])
        with layer("graph.edges"):
            e = summary(build_edges(triples, cmap),
                        ["n_provenance", "salience", "weight"])
        return {"cmap": cmap, "n_forms": n_forms, "v": list(v),
                "e": list(e), "persisted": [cmap]}

    def outputs(self, res: dict) -> dict:
        try:
            rows = sorted([r.form, r.canonical, r.entity_id]
                          for r in res["cmap"].collect())
        finally:
            for df in res["persisted"]:
                df.unpersist()
        return {"cmap": rows, "forms": res["n_forms"],
                "vertices": res["v"], "edges": res["e"]}

    @staticmethod
    def triples(out: dict) -> int:
        return out["edges"][1]  # provenance rows = input triples

    def check(self, inp: dict, exp: dict, out: dict) -> list[str]:
        bad = []
        forms = [r[0] for r in out["cmap"]]
        if forms != exp["forms"]:
            bad.append("the map does not hold every surface form exactly "
                       "once")
        canon = {r[0]: r[1] for r in out["cmap"]}
        comps = defaultdict(list)
        for f, c in canon.items():
            comps[c].append(f)
        for c, members in comps.items():
            if canon.get(c) != c or min(members) != c:
                bad.append(f"canonical {c!r} is not its component minimum")
                break
        for cluster in inp["entities"]["clusters"]:
            if len({canon.get(f) for f in cluster}) != 1:
                bad.append(f"planted alias cluster {cluster[0]!r} is not "
                           f"merged")
                break
        n_v, sum_mentions, sum_rank, _ = out["vertices"]
        if [sum_mentions, sum_rank] != exp["vertex_totals"]:
            bad.append("vertex totals (mentions, salience) differ from "
                       "the input")
        n_e, sum_prov, sum_sal, sum_w, _ = out["edges"]
        if [sum_prov, sum_sal, sum_w] != exp["edge_totals"]:
            bad.append("edge totals (provenance, salience, weight) differ "
                       "from the input")
        return bad


WORKLOADS = {w.name: w for w in (DocsKg(), EntityCanon())}
