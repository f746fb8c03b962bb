"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and writes parquet with
pyarrow, so inputs exist on disk before any Spark session starts and
the program under test only ever sees the generated files.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the sf0.1 `documents` table (lacspark.gen_fixtures.
# DOC_WORDS); "dup" is rare there (about 0.1% of tokens).
DOC_WORDS = [
    "join", "hash", "row", "batch", "scan", "customer", "column",
    "filter", "small", "slow", "merge", "order", "vector", "line",
    "data", "table", "agg", "value", "key", "stream", "window",
    "spark", "group", "part", "big", "sort", "query", "fast", "the",
    "dup", "a",
]
DOC_LANGS = ["en", "es", "zh", "de", "fr"]
DOC_LANG_P = [0.41, 0.15, 0.15, 0.14, 0.15]


def text_stats(texts: list[str]) -> dict:
    """rows, chars, share of distinct rows, distinct words."""
    n = len(texts)
    return {"rows": n, "chars": sum(len(t) for t in texts),
            "distinct_share": round(len(set(texts)) / max(n, 1), 4),
            "distinct_forms": len({w for t in texts for w in t.split()})}


def gen_documents(seed: int, n_docs: int) -> dict:
    """Documents shaped like the sf0.1 `documents` table: 10-100
    space-separated words from its 31-word vocabulary (about 300
    chars on average), five languages, twenty sources."""
    rng = np.random.default_rng([seed, 1])
    p = np.full(len(DOC_WORDS), 1.0)
    p[DOC_WORDS.index("dup")] = 0.03
    p /= p.sum()
    lens = rng.integers(10, 101, n_docs)
    words = rng.choice(len(DOC_WORDS), size=int(lens.sum()), p=p)
    texts, pos = [], 0
    for n in lens:
        texts.append(" ".join(DOC_WORDS[w] for w in words[pos:pos + n]))
        pos += n
    lang = rng.choice(len(DOC_LANGS), size=n_docs, p=DOC_LANG_P)
    src = rng.integers(0, 20, n_docs)
    return {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [DOC_LANGS[i] for i in lang],
        "source": [f"src{i}" for i in src],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


# -- entity_canon -----------------------------------------------------------
# Mirrors lacspark.canonical_py's arithmetic (forms, char-3-grams, md5
# minhash, band keys) so the generator knows which buckets the program
# will see; only the benchmark's own copy is used, so a change to the
# program's hashing cannot make the checks agree with it by accident.

NUM_HASHES, BAND_SIZE, MAX_BUCKET = 8, 2, 1000
# wide alphabet: Latin, Greek, Cyrillic and CJK letters plus digits
ALPHABET = ("abcdefghijklmnopqrstuvwxyz0123456789"
            "αβγδεζηθικλμνξοπρστυφχψω"
            "абвгдежзийклмнопрстуфхцчшщыэюя"
            "的一是在不了有和人这中大为上个国我以要他时来用们生到作地于出就分对成会可也你")
MENTION_TAGS = ["PER", "LOC", "ORG", "TIME", "nz", "nw"]
PREDS = ["uses", "owns", "calls", "links", "reads", "writes"]


def md5int(s: str) -> int:
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


def form_of(word: str) -> str:
    return word.strip(" ").lower()


def grams_of(form: str) -> frozenset[str]:
    ln = len(form)
    width = min(3, ln)
    return frozenset(form[i:i + width] for i in range(max(ln - 2, 1)))


def band_keys(form: str) -> list[str]:
    g = grams_of(form)
    sig = [min(md5int(f"c{i}:{x}") for x in g) for i in range(NUM_HASHES)]
    return [hashlib.md5(",".join(
        [str(b)] + [str(sig[b * BAND_SIZE + j]) for j in range(BAND_SIZE)]
    ).encode()).hexdigest() for b in range(NUM_HASHES // BAND_SIZE)]


def _hot_gram() -> str:
    """The ASCII 3-gram whose c0 and c1 hashes are both smallest, so
    nearly every form containing it shares band 0: the planted hot
    bucket."""
    alnum = ALPHABET[:36]
    return min((a + b + c for a in alnum for b in alnum for c in alnum),
               key=lambda g: max(md5int(f"c0:{g}"), md5int(f"c1:{g}")))


def _rand_word(rng, lo: int, hi: int) -> str:
    n = int(rng.integers(lo, hi + 1))
    return "".join(ALPHABET[i] for i in rng.integers(0, len(ALPHABET), n))


def gen_entities(seed: int, n_forms: int, n_hot: int = 1200) -> dict:
    """Mentions and triples over about ``n_forms`` distinct surface
    forms: random names, alias clusters whose members share one gram
    set (so any correct minhash/LSH canonicalization must merge them),
    single-edit near-aliases, and ``n_hot`` forms that share one band
    key (a bucket over the 1,000-row cap)."""
    rng = np.random.default_rng([seed, 3])
    hot = _hot_gram()
    forms: set[str] = set()
    clusters: list[list[str]] = []
    # alias clusters: a period-p base repeated / truncated keeps the
    # exact gram set, so every member has the same minhash signature
    while len(clusters) < n_forms // 32:
        base = _rand_word(rng, 3, 5)
        if hot in base * 3 or len(set(base)) < len(base):
            continue
        members = sorted({(base * k + base[:r])
                          for k in (2, 3, 4) for r in (0, 1)})
        if forms.isdisjoint(members):
            clusters.append(members)
            forms.update(members)
    hot_forms: set[str] = set()
    while len(hot_forms) < n_hot:
        w = _rand_word(rng, 3, 7) + hot + _rand_word(rng, 0, 4)
        if w not in forms:
            hot_forms.add(w)
    forms |= hot_forms
    near = []
    while len(forms) < n_forms:
        w = _rand_word(rng, 6, 14)
        if hot in w or w in forms:
            continue
        forms.add(w)
        if rng.random() < 0.15:  # single-substitution near-alias
            i = int(rng.integers(0, len(w)))
            v = w[:i] + ALPHABET[int(rng.integers(0, 36))] + w[i + 1:]
            if v not in forms and hot not in v:
                forms.add(v)
                near.append((w, v))
    forms_l = sorted(forms)
    # mentions: every form 1-3 times, some with case/space variants
    # (the program normalizes with lower(trim()))
    reps = rng.integers(1, 4, len(forms_l))
    words, tags, ranks, doc_ids = [], [], [], []
    for f, r in zip(forms_l, reps):
        for k in range(int(r)):
            u = rng.random()
            # upper-casing only ASCII forms: Java lower-cases a final
            # capital sigma to a different letter than Python does
            w = (f.upper() if u < 0.1 and f.isascii()
                 else f" {f} " if u < 0.2 else f)
            words.append(w)
            tags.append(MENTION_TAGS[int(rng.integers(0, 6))])
            ranks.append(int(rng.integers(0, 4)))
            doc_ids.append(int(rng.integers(0, 1 << 20)))
    n_m = len(words)
    mentions = {
        "doc_id": np.array(doc_ids, dtype=np.int64),
        "word": words,
        "tag": tags,
        "rank": np.array(ranks, dtype=np.int32),
        "word_idx": rng.integers(0, 100, n_m).astype(np.int32),
        "char_begin": rng.integers(0, 1000, n_m).astype(np.int32),
    }
    n_t = n_m
    si = rng.integers(0, n_m, n_t)
    oi = rng.integers(0, n_m, n_t)
    triples = {
        "doc_id": mentions["doc_id"][si],
        "subj": [words[i] for i in si],
        "pred": [PREDS[i] for i in rng.integers(0, len(PREDS), n_t)],
        "obj": [words[i] for i in oi],
        "conf": rng.integers(1, 5, n_t) / 4.0,
        "sal": rng.integers(0, 7, n_t).astype(np.int32),
    }
    # which forms sit in a bucket over the cap (any band): clusters
    # touching one are exempt from the "must be merged" check
    bucket_sizes: Counter = Counter()
    keys_of = {}
    for f in forms_l:
        if len(f) >= 2:
            keys_of[f] = band_keys(f)
            bucket_sizes.update(keys_of[f])
    capped = {k for k, n in bucket_sizes.items() if n > MAX_BUCKET}
    in_capped = {f for f, ks in keys_of.items()
                 if any(k in capped for k in ks)}
    checked = [c for c in clusters if not any(m in in_capped for m in c)]
    return {
        "mentions": mentions, "triples": triples,
        "clusters": checked,
        "stats": {
            "mention_rows": n_m, "triple_rows": n_t,
            "distinct_forms": len(forms_l),
            "alias_clusters": len(clusters),
            "alias_clusters_checked": len(checked),
            "near_aliases": len(near),
            "hot_forms": n_hot,
            "capped_buckets": len(capped),
            "forms_in_capped_buckets": len(in_capped),
            "chars": sum(len(w) for w in words),
            "distinct_share": round(len(set(words)) / max(n_m, 1), 4),
        },
    }


def write_table(cols: dict, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(cols), path)

