"""Pure-python twin of ``lacspark.spark.canonical`` — identical
arithmetic, single process, no Spark import.

Two consumers: the golden-parquet generator (``lacspark.gen_golden``)
uses it as the independent oracle, and ``spark.canonical.canonical_map``
uses it as the DRIVER FAST PATH when the distinct-form set is
broadcast-scale (collect the forms, canonicalize here, ship the map
back) — one Spark job instead of the window/self-join/CC chain whose
per-job overhead dominates at small cardinalities.  Equivalence of
the two paths is pinned by the golden-gated kg_entity_linking /
kg_vertices / kg_edges queries and test_canonical_fast_path_matches_
distributed.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

def md5int(s: str) -> int:
    """≡ Spark ``conv(substring(md5(x),1,15),16,10)`` and DuckDB
    ``('0x'||substring(md5(x),1,15))::BIGINT``."""
    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# python replica of lacspark.spark.canonical (same arithmetic,
# single-process): forms → grams → md5 minhash → bands → verified
# pairs → union-find → canonical + entity_id
# ---------------------------------------------------------------------------

def _form(word: str) -> str:
    return word.strip(" ").lower()  # ≡ lower(trim(word)): trim is 0x20-only


def _grams(form: str) -> frozenset[str]:
    # ≡ transform(sequence(1, greatest(len-2,1)), i -> substring(form,i,
    #   least(3,len))) |> array_distinct
    ln = len(form)
    width = min(3, ln)
    return frozenset(form[i:i + width] for i in range(max(ln - 2, 1)))


def band_keys(form: str, num_hashes: int = 8,
              band_size: int = 2) -> list[str]:
    """≡ ``minhash_bands``: the LSH band keys of one form's md5
    minhash signature, band 0 first."""
    grams = _grams(form)
    sig = [min(md5int(f"c{i}:{g}") for g in grams)
           for i in range(num_hashes)]
    return [hashlib.md5(
        ",".join([str(b)] + [str(sig[b * band_size + j])
                             for j in range(band_size)]).encode()
    ).hexdigest() for b in range(num_hashes // band_size)]


def canonical_map_py(words: list[str], num_hashes: int = 8,
                     band_size: int = 2, jaccard_threshold: float = 0.5,
                     max_bucket: int = 1000,
                     audit_out: dict | None = None
                     ) -> dict[str, tuple[str, int]]:
    """form → (canonical, entity_id) for every distinct form len>=2.
    ``audit_out``, if given, receives the same no-silent-caps counts
    the distributed path registers (n_units_capped buckets over
    max_bucket, n_rows_dropped member rows)."""
    forms = sorted({f for f in (_form(w) for w in words) if len(f) >= 2})
    grams = {f: _grams(f) for f in forms}
    buckets: dict[str, list[str]] = defaultdict(list)
    for f in forms:
        for key in band_keys(f, num_hashes, band_size):
            buckets[key].append(f)
    pairs: set[tuple[str, str]] = set()
    n_units_capped = n_rows_dropped = 0
    for members in buckets.values():
        if len(members) > max_bucket:
            # degenerate band — same cap as candidate_pairs()
            n_units_capped += 1
            n_rows_dropped += len(members)
            continue
        for i, a in enumerate(members):
            for b in members[i + 1:]:
                pairs.add((a, b) if a < b else (b, a))
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    if audit_out is not None:
        audit_out["n_units_capped"] = n_units_capped
        audit_out["n_rows_dropped"] = n_rows_dropped
    for a, b in sorted(pairs):
        ga, gb = grams[a], grams[b]
        jac = len(ga & gb) / len(ga | gb)
        if jac >= jaccard_threshold:
            ra, rb = find(a), find(b)
            if ra != rb:
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
    return {f: (find(f), md5int(find(f))) for f in forms}
