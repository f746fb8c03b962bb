"""Engine replay: the tagger's Arrow-sized batches run through LacEngine
in this process, with its public functions wrapped in timing spans.

Spans nest: a span's self time is its duration minus the time of the
spans it encloses.  ``LacEngine.run_batch`` calls itself once when it
dedupes a batch; only the outermost call is a span, so the inner call's
work counts once.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.total: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self._stack: list[list] = []  # [name, t0, child_seconds]

    @contextmanager
    def span(self, name: str):
        frame = [name, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            self._stack.pop()
            dur = time.perf_counter() - frame[1]
            self.total[name] += dur
            self.self_s[name] += dur - frame[2]
            self.calls[name] += 1
            if self._stack:
                self._stack[-1][2] += dur

    def active(self, name: str) -> bool:
        return any(f[0] == name for f in self._stack)


@contextmanager
def wrapped(tracer: Tracer, targets: list[tuple[type, str, str]]):
    """Replace ``cls.attr`` by a spanned version for the duration."""
    saved = []
    for cls, attr, name in targets:
        fn = getattr(cls, attr)
        saved.append((cls, attr, fn))

        def make(fn=fn, name=name):
            @functools.wraps(fn)
            def inner(*a, **kw):
                if tracer.active(name):  # recursion: outermost only
                    return fn(*a, **kw)
                with tracer.span(name):
                    return fn(*a, **kw)
            return inner

        setattr(cls, attr, make())
    try:
        yield
    finally:
        for cls, attr, fn in saved:
            setattr(cls, attr, fn)


def batches(texts: list[str], cores: int, max_rows: int = 1024):
    """The batches the tagger stage hands the engine: ensure_parallelism
    spreads a small input over one partition per core, and Arrow cuts a
    partition into batches of at most maxRecordsPerBatch rows."""
    per_part = -(-len(texts) // cores)
    for p in range(0, len(texts), per_part):
        part = texts[p:p + per_part]
        for b in range(0, len(part), max_rows):
            yield part[b:b + max_rows]


def replay(texts: list[str], cores: int, n_batches: int) -> dict:
    """Run the first ``n_batches`` tagger batches through a fresh
    LacEngine (rank mode, with extraction) and return per-layer
    metrics."""
    from lacspark.encoding import Encoder
    from lacspark.engine import LacEngine
    from lacspark.net import BiGruCrf
    from lacspark.segmenter import DagSegmenter

    tr = Tracer()
    t0 = time.perf_counter()
    eng = LacEngine(use_automaton=False)
    init_s = time.perf_counter() - t0
    rows = unique = tokens = 0
    targets = [
        (LacEngine, "run_batch", "run_batch"),
        (LacEngine, "extract", "extract"),
        (DagSegmenter, "cut", "cut"),
        (Encoder, "encode_mixed", "encode"),
        (Encoder, "encode_chars", "encode"),
        (BiGruCrf, "decode", "decode"),
        (BiGruCrf, "rank", "rank"),
    ]
    with wrapped(tr, targets):
        for i, batch in enumerate(batches(texts, cores)):
            if i == n_batches:
                break
            results = eng.run_batch(batch, mode="rank")
            for r in results:
                eng.extract(r, window=8)
            rows += len(batch)
            unique += len(set(batch))
            tokens += sum(len(r.words) for r in results)
    return {
        "engine.init_s": init_s,
        "engine.rows": rows,
        "engine.unique_rows": unique,
        "engine.tokens": tokens,
        "engine.run_batch_self_s": tr.self_s["run_batch"],
        "engine.extract_s": tr.total["extract"],
        "segmenter.cut_s": tr.total["cut"],
        "segmenter.calls": tr.calls["cut"],
        "encoding.encode_s": tr.total["encode"],
        "net.decode_s": tr.total["decode"],
        "net.rank_s": tr.total["rank"],
    }
