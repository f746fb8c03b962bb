"""K6/K7: alias canonicalization — deterministic minhash/LSH +
connected components, all JVM-side (no python in the hot path).

Minhash signatures are computed **without any shuffle**: char-3-gram
arrays per surface form, k hash functions as md5 of a per-function
salt + gram (first 15 hex digits as int64 — identical arithmetic is
reproducible in DuckDB and pure python, which is how the golden-
parquet oracles for the KG queries are generated), reduced with
``array_min`` inside a projection.  Candidates come from ONE pass
over the band table: a window counts every band bucket (oversized
buckets are dropped before anything is collected), the surviving
rows, already partitioned by band, are collected per bucket, and each
bucket emits its i<j pairs (bucket-local generation as in CPSJoin) —
no self-join, so the minhash projection runs once.  Pairs are
verified with exact n-gram Jaccard (array_intersect/array_union on
the carried gram arrays).  Everything is seeded/deterministic — no
rand(), no iteration-order dependence (SURVEY §4.2 custom work (d)).

Connected components: below a size threshold the edges are collected
and union-found on the driver, and the endpoint labels are broadcast-
joined back onto the vertices; above it, large-star/small-star rounds
to a verified fixpoint (GraphFrames not assumed).  Canonical id of a
component = lexicographic min surface form — deterministic under any
parallelism.  Frames built on the driver ship to the JVM as Arrow
batches, so the chain starts no Python worker.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def surface_forms(mentions: DataFrame, word_col: str = "word") -> DataFrame:
    """Distinct normalized surface forms with their char-3-gram sets."""
    forms = (mentions
             .select(F.lower(F.trim(F.col(word_col))).alias("form"))
             .filter(F.length("form") >= 2)
             .distinct())
    grams = F.array_distinct(F.expr(
        "transform(sequence(1, greatest(length(form) - 2, 1)), "
        "i -> substring(form, i, least(3, length(form))))"))
    return forms.withColumn("grams", grams)


MD5INT = "cast(conv(substring(md5({x}), 1, 15), 16, 10) as bigint)"


def minhash_bands(forms: DataFrame, num_hashes: int = 8,
                  band_size: int = 2) -> DataFrame:
    """Signature + LSH band keys, computed in one projection.
    Hash family: md5-int of 'c{i}:' || gram (pure-python replica:
    int(md5(f"c{i}:{gram}").hexdigest()[:15], 16))."""
    sig = F.array(*[
        F.array_min(F.expr(
            f"transform(grams, g -> "
            + MD5INT.format(x=f"concat('c{seed}:', g)") + ")"))
        for seed in range(num_hashes)])
    banded = forms.withColumn("sig", sig)
    n_bands = num_hashes // band_size
    bands = F.array(*[
        F.md5(F.concat_ws(
            ",", F.lit(str(b)),
            *[F.col("sig")[b * band_size + j].cast("string")
              for j in range(band_size)]))
        for b in range(n_bands)])
    from .dedup import explode_once

    # explode_once: a direct explode(bands) would inline the minhash
    # sig into the Generate and re-run it once per band
    return explode_once(
        banded.select("form", "grams", bands.alias("__bands")),
        ["form", "grams"], "__bands", "band").select("band", "form",
                                                     "grams")


def candidate_pairs(banded: DataFrame, jaccard_threshold: float = 0.5,
                    max_bucket: int = 1000) -> DataFrame:
    """Band buckets → verified similarity edges, in one pass over the
    band table (bucket-local candidate generation as in CPSJoin).

    The cap window counts every bucket first; buckets larger than
    ``max_bucket`` are dropped BEFORE anything is collected, so a
    degenerate band (millions of forms at corpus scale) never becomes
    one array — the window buffer spills instead.  The dropped forms
    still canonicalize to themselves.  The window leaves the rows
    hash-partitioned by band, so the per-bucket collect reads them
    without a second exchange; each bucket then emits its i<j pairs,
    which are verified with exact Jaccard and deduplicated (a pair
    can share several bands).
    """
    from .dedup import cap_filter
    small = cap_filter("canonical_candidate_pairs", banded, ["band"],
                       max_bucket, "minhash band buckets")
    # sorted by form: position i < j means src <= dst, equal only if
    # the input repeats a (band, form) row
    buckets = (small.groupBy("band")
               .agg(F.array_sort(F.collect_list(F.struct("form", "grams")))
                    .alias("m"))
               .filter(F.size("m") > 1))
    pairs = (buckets
             .select("m", F.explode(F.sequence(F.lit(1), F.size("m") - 1))
                     .alias("i"))
             .select("m", "i", F.explode(F.sequence(F.col("i") + 1,
                                                    F.size("m")))
                     .alias("j"))
             .select(F.expr("element_at(m, i)").alias("a"),
                     F.expr("element_at(m, j)").alias("b"))
             .select(F.col("a.form").alias("src"),
                     F.col("b.form").alias("dst"),
                     F.col("a.grams").alias("g1"),
                     F.col("b.grams").alias("g2"))
             .filter(F.col("src") < F.col("dst")))
    jac = (F.size(F.array_intersect("g1", "g2")) /
           F.size(F.array_union("g1", "g2")))
    # verify before deduplicating: jaccard is a function of the pair,
    # and the dedup shuffle then carries no gram arrays
    return (pairs.select("src", "dst", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= jaccard_threshold)
            .distinct())


def _local_frame(spark, cols: dict[str, list], schema: str) -> DataFrame:
    """A driver-built frame shipped to the JVM as Arrow batches.  A
    list of tuples would go through a pickled-row RDD, i.e. a Python
    worker task, just to hand the JVM rows the driver already has."""
    import pandas as pd
    return spark.createDataFrame(pd.DataFrame(cols), schema)


def connected_components(vertices: DataFrame, edges: DataFrame,
                         max_iter: int = 50,
                         driver_threshold: int = 200_000) -> DataFrame:
    """Connected components; returns (form, canonical) with canonical
    = lexicographic min of the component.

    vertices: (form), edges: (src, dst).

    Scale split: below ``driver_threshold`` edges the component graph
    is broadcast-scale — collect the edges and union-find them on the
    driver (one job instead of a multi-round distributed loop; results
    identical and deterministic), then broadcast-join the endpoint
    labels back onto ``vertices``, whose size does not matter.  Above
    it, alternating large-star/small-star rounds (the public
    MapReduce CC formulation: each round every node links its
    neighbors to its neighborhood minimum), which converges to star
    graphs in O(log n) rounds REGARDLESS of component diameter — a
    million-node alias chain finishes in ~20 rounds where min-label
    propagation would need a million.  The loop runs to a verified
    fixpoint (edge set unchanged), never returning partially-converged
    labels; ``max_iter`` is a runaway guard that raises rather than
    silently mislabeling.
    """
    # probe-by-collect: the limit(threshold+1) collect IS the size
    # probe AND the data fetch — one job each instead of count+collect
    edge_rows = edges.select("src", "dst") \
        .limit(driver_threshold + 1).collect()
    if len(edge_rows) <= driver_threshold:
        labels = F.broadcast(_driver_labels(vertices.sparkSession,
                                            edge_rows))
    else:
        labels = _star_labels(edges, max_iter)
    return (vertices.join(labels, "form", "left")
            .select("form", F.coalesce("canonical", "form")
                    .alias("canonical")))


def _driver_labels(spark, edge_rows: list) -> DataFrame:
    """(form, canonical) for every edge endpoint, by union-find."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(r.src), find(r.dst)
        if ra != rb:
            # deterministic: smaller label becomes the root
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    ends = sorted({x for r in edge_rows for x in (r.src, r.dst)})
    return _local_frame(spark, {"form": ends,
                                "canonical": [find(x) for x in ends]},
                        "form string, canonical string")


def _star_labels(edges: DataFrame, max_iter: int) -> DataFrame:
    """(form, canonical) for every non-root vertex, by large-star/
    small-star rounds run to a verified fixpoint."""
    # Orient every edge (hi, lo); both star operations preserve the
    # orientation, so `lo` is always the smaller label.
    e = (edges.select(F.greatest("src", "dst").alias("hi"),
                      F.least("src", "dst").alias("lo"))
         .filter(F.col("hi") != F.col("lo"))
         .distinct().localCheckpoint())
    n_prev = e.count()
    for it in range(max_iter):
        # large-star: every node links its LARGER neighbors to its
        # neighborhood min (including itself)
        sym = e.union(e.select(F.col("lo").alias("hi"),
                               F.col("hi").alias("lo")))
        mins = (sym.groupBy("hi")
                .agg(F.least(F.min("lo"), F.first("hi")).alias("m")))
        e = (sym.join(mins, "hi")
             .filter(F.col("lo") > F.col("hi"))  # larger neighbors
             .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
             .distinct())
        # small-star: every node links its smaller neighbors (and
        # itself) to the min of that down-neighborhood
        mins = e.groupBy("hi").agg(F.min("lo").alias("m"))
        e = (e.join(mins, "hi")
             .filter(F.col("lo") != F.col("m"))
             .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
             .union(mins.select("hi", F.col("m").alias("lo")))
             .distinct().localCheckpoint())
        n_new = e.count()
        if n_new == n_prev and \
                e.join(sym, ["hi", "lo"], "left_anti").limit(1).count() == 0:
            # fixpoint: same edge count and no edge outside the
            # previous round's (symmetric) set → star graphs reached
            break
        n_prev = n_new
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            f"large/small-star rounds — refusing to return partial "
            f"labels (graph has ~{n_prev} star edges)")
    # stars: every non-root points straight at its component min
    return e.select(F.col("hi").alias("form"),
                    F.col("lo").alias("canonical"))


def canonical_map(mentions: DataFrame, word_col: str = "word",
                  num_hashes: int = 8, band_size: int = 2,
                  jaccard_threshold: float = 0.5,
                  driver_threshold: int = 100_000,
                  driver_char_budget: int = 4_000_000) -> DataFrame:
    """form → canonical (entity surface).  Forms shorter than 2 chars
    and forms with no similar neighbor map to themselves.

    Scale split (same pattern as connected_components): the DISTINCT
    form set is usually orders of magnitude smaller than the mention
    stream — when it fits ``driver_threshold`` the whole
    minhash/band/verify/union-find chain runs on the driver via the
    pure-python twin (lacspark.canonical_py, the module that also
    generates the golden oracles — the two paths are pinned equal by
    the golden-gated kg_* queries and a dedicated test).  That is ONE
    Spark job (the distinct + probe collect) instead of six
    (window, self-join, dedup, CC probes, checkpoint), whose fixed
    per-job overhead dominates at small cardinalities.  Above the
    threshold: the distributed banded path, unchanged."""
    forms = surface_forms(mentions, word_col).persist()
    # probe-by-collect: the limit(N+1) IS both the size probe and,
    # when small, the data fetch (the persist keeps the big path from
    # recomputing the distinct)
    probe = forms.select("form").limit(driver_threshold + 1).collect()
    # the fast path's cost is total CHARS (char-3-grams x num_hashes),
    # not form count — a pathological corpus of few but very long
    # forms must not stall the driver single-threaded; beyond the char
    # budget the distributed path takes over (wall-time bound, not
    # just cardinality bound)
    if len(probe) <= driver_threshold and \
            sum(len(r.form) for r in probe) <= driver_char_budget:
        from lacspark.canonical_py import canonical_map_py

        from .dedup import _register_cap_audit

        spark = mentions.sparkSession
        audit: dict = {}
        cmap = canonical_map_py(
            [r.form for r in probe], num_hashes=num_hashes,
            band_size=band_size, jaccard_threshold=jaccard_threshold,
            audit_out=audit)
        # the fast path reports the same drop accounting the
        # distributed candidate_pairs cap registers
        _register_cap_audit(
            "canonical_candidate_pairs", 1000, "minhash band buckets",
            counts=(audit["n_units_capped"], audit["n_rows_dropped"]))
        keys = sorted(cmap)
        forms.unpersist()
        return _local_frame(
            spark, {"form": keys,
                    "canonical": [cmap[f][0] for f in keys],
                    "entity_id": [cmap[f][1] for f in keys]},
            "form string, canonical string, entity_id long")
    banded = minhash_bands(forms, num_hashes, band_size)
    # CC's probe collect reads the edges, and its star branch reads
    # them again — materialize once
    edges = candidate_pairs(banded, jaccard_threshold).persist()
    comp = connected_components(forms.select("form"), edges)
    comp = comp.localCheckpoint()  # cut lineage before unpersisting
    forms.unpersist()
    edges.unpersist()
    return comp.withColumn(
        "entity_id", F.expr(MD5INT.format(x="canonical")))
