"""docs_kg's expected output from the pure-Python driver path: LacEngine
for tagging and extraction, lacspark.canonical_py for canonicalization,
and plain dict aggregation for vertices and edges (the semantics of
lacspark.spark.graph).  Tagging is spread over a spawn pool so the
check costs seconds, not the engine's single-core time."""

from __future__ import annotations

import multiprocessing
import os
from collections import defaultdict

_ENGINE = None


def _tag_chunk(texts: list[str]) -> tuple[list, list]:
    global _ENGINE
    if _ENGINE is None:
        from lacspark.engine import LacEngine
        _ENGINE = LacEngine(use_automaton=False)
    mentions, triples = [], []
    for r in _ENGINE.run_batch(texts, mode="rank"):
        m, t = _ENGINE.extract(r, window=8)
        mentions.extend((w, tag, rank) for w, tag, rank, _, _ in m)
        triples.extend(t)
    return mentions, triples


def tag_all(texts: list[str], procs: int) -> tuple[list, list]:
    step = -(-len(texts) // procs)
    chunks = [texts[i:i + step] for i in range(0, len(texts), step)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(chunks)) as pool:
        parts = pool.map(_tag_chunk, chunks)
    mentions = [m for ms, _ in parts for m in ms]
    triples = [t for _, ts in parts for t in ts]
    return mentions, triples


def docs_kg_expected(texts: list[str]) -> dict:
    from lacspark.canonical_py import canonical_map_py, md5int

    procs = max(1, min(len(os.sched_getaffinity(0)), 8))
    mentions, triples = tag_all(texts, procs)
    cmap = canonical_map_py([w for w, _, _ in mentions])

    def entity(word: str) -> tuple[int, str]:
        form = word.strip(" ").lower()
        canon, eid = cmap.get(form, (form, None))
        return (md5int(canon) if eid is None else eid), canon

    verts = defaultdict(lambda: [0, 0, set(), set()])
    for w, tag, rank in mentions:
        v = verts[entity(w)]
        v[0] += 1
        v[1] += rank
        v[2].add(w.strip(" ").lower())
        v[3].add(tag)
    edges = defaultdict(lambda: [0.0, 0, 0])
    for s, p, o, conf, sal in triples:
        e = edges[(*entity(s), p.strip(" ").lower(), *entity(o))]
        e[0] += conf * (1 + sal)
        e[1] += sal
        e[2] += 1
    return {
        "counts": [len(texts), len(mentions), len(triples)],
        "vertices": sorted(
            [eid, canon, n, sal, sorted(aliases)[:32], len(tags), max(tags)]
            for (eid, canon), (n, sal, aliases, tags) in verts.items()),
        "edges": sorted(
            [sid, scanon, p, oid, ocanon, w, sal, n]
            for (sid, scanon, p, oid, ocanon), (w, sal, n) in edges.items()),
    }
