"""Entity canonicalization: MinHash-LSH blocking + union-find connected
components (north_star: "canonicalization clusters surface forms via
MinHash-LSH blocking plus GraphFrames/iterative-join connected components").

GraphFrames is not a dependency — the union-find below is the
dependency-free path (SURVEY.md §7 step 6):

- blocking avoids the O(n²) pair explosion: 16 MD5 MinHashes over char
  3-shingles, banded 2-per-band into 8 LSH buckets per surface; only
  surfaces sharing a (band_idx, band_hash) bucket become candidate pairs;
- oversized buckets (> max_bucket) are dropped with a logged count — a
  deliberate, visible cap, not silent truncation (they are re-covered by the
  exact alias edges);
- candidate pairs are verified by signature agreement >= ``min_agree`` of 16;
- connected components: the verified pairs (one per near-duplicate key
  pair, so vocabulary-sized, not data-sized) are collected once and merged
  on the driver by a path-halving union-find, which has no diameter
  limit; Spark then joins the (skey, root) table back and takes the min
  label per root;
- label = lexicographic MIN, so the result is order- and
  partitioning-independent (deterministic under any parallelism).

Linked surfaces (alias-dict hits) seed their cluster with a "0"-prefixed
label so the dictionary canonical id always wins the min; unlinked surfaces
get "1" + canonical_key.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame, Window, functions as F

from .udfs import canonical_key_udf, minhash_udf

NUM_HASHES = 16
BAND_SIZE = 2


def surface_vertices(surfaces: DataFrame, alias_dict: DataFrame) -> DataFrame:
    """(surface) -> (surface, skey, init_label). alias_dict is broadcast —
    it is small by construction (FIXTURES.md §2) and the surface side is
    skewed (J6, north_star)."""
    s = surfaces.select("surface").distinct().withColumn(
        "skey", canonical_key_udf(F.col("surface")))
    linked = s.join(
        F.broadcast(alias_dict.select(F.col("alias"), F.col("canonical_id"))),
        F.lower(F.col("surface")) == F.col("alias"), "left")
    return linked.select(
        "surface", "skey",
        F.when(F.col("canonical_id").isNotNull(),
               F.concat(F.lit("0"), F.col("canonical_id")))
        .otherwise(F.concat(F.lit("1"), F.col("skey"))).alias("init_label"))


def lsh_candidate_pairs(vertices: DataFrame, max_bucket: int = 50,
                        min_agree: int = 8) -> tuple[DataFrame, int]:
    """Candidate skey pairs from LSH banding, verified by MinHash agreement.
    Returns (pairs, n_dropped_buckets)."""
    keys = vertices.select("skey").distinct().withColumn(
        "sig", minhash_udf(F.col("skey")))
    # materialize once, with each row's bucket size: the drop count and
    # both sides of the self-join read this checkpoint, so neither MinHash
    # nor the band explode and bucket count run again
    bands = keys.select(
        "skey", "sig",
        F.posexplode(F.expr(
            f"transform(sequence(0, {NUM_HASHES // BAND_SIZE - 1}), "
            f"b -> hash(sig[b*{BAND_SIZE}], sig[b*{BAND_SIZE}+1], b))"
        )).alias("band_idx", "band_hash")
    ).withColumn("n", F.count(F.lit(1)).over(
        Window.partitionBy("band_idx", "band_hash"))
    ).localCheckpoint(eager=True)
    n_dropped = (bands.filter(F.col("n") > max_bucket)
                 .select("band_idx", "band_hash").distinct().count())
    b = bands.filter(F.col("n") <= max_bucket)
    a1 = b.select(F.col("skey").alias("ka"), F.col("sig").alias("siga"),
                  "band_idx", "band_hash")
    a2 = b.select(F.col("skey").alias("kb"), F.col("sig").alias("sigb"),
                  "band_idx", "band_hash")
    pairs = (
        a1.join(a2, ["band_idx", "band_hash"])
        .filter(F.col("ka") < F.col("kb"))
        .select("ka", "kb", "siga", "sigb").distinct()
        .withColumn("agree", F.expr(
            "size(filter(zip_with(siga, sigb, (x, y) -> x = y), v -> v))"))
        .filter(F.col("agree") >= min_agree)
        .select("ka", "kb")
    )
    return pairs, n_dropped


def graphframes_available() -> bool:
    try:
        import graphframes  # noqa: F401
        return True
    except ImportError:
        return False


def ensure_checkpoint_dir(spark) -> str:
    """Set a SparkContext checkpoint directory if none is configured and
    return it. GraphFrame.connectedComponents() (default algorithm) calls
    sc.setCheckpointDir-dependent RDD checkpoints; without one it raises at
    runtime. Rooted under spark.local.dir (tmpfs/fast disk in session.py)
    with a per-app subdir so concurrent sessions don't collide."""
    sc = spark.sparkContext
    existing = sc._jsc.sc().getCheckpointDir()
    if existing.isDefined():
        return existing.get()
    base = sc.getConf().get("spark.local.dir", "/tmp")
    path = f"{base.split(',')[0]}/mps_ckpt_{sc.applicationId}"
    sc.setCheckpointDir(path)
    return path


def union_find_roots(pairs) -> dict[str, str]:
    """Union-find over undirected (a, b) pairs: each key in some pair ->
    the root of its component. Path halving, no diameter limit."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    return {k: find(k) for k in parent}


def connected_components(vertices: DataFrame, edges: DataFrame,
                         use_graphframes: bool | str = "auto") -> DataFrame:
    """Connected components with a min-label per component. vertices:
    (skey, init_label); edges: (ka, kb) undirected. Returns
    (skey, entity_label), entity_label = the lexicographic MIN init_label
    of the skey's component.

    When the graphframes package is importable (use_graphframes='auto' or
    True) the CC step delegates to GraphFrame.connectedComponents()
    (identical output either path). The dependency-free default collects
    the edges to the driver once and merges them with ``union_find_roots``:
    the edges are verified LSH pairs, a list the size of the near-duplicate
    vocabulary, not of the data."""
    if use_graphframes is True or (use_graphframes == "auto"
                                   and graphframes_available()):
        from graphframes import GraphFrame
        g = GraphFrame(
            vertices.select(F.col("skey").alias("id"), "init_label"),
            edges.select(F.col("ka").alias("src"), F.col("kb").alias("dst")))
        # GraphFrames' default CC algorithm REQUIRES a Spark checkpoint
        # directory (it reliably raises otherwise — merely installing the
        # package would flip 'auto' on and break every canonicalization
        # pass). Provision one on demand, rooted in spark.local.dir so it
        # lands on the fast local disk, not the warehouse.
        ensure_checkpoint_dir(vertices.sparkSession)
        cc = g.connectedComponents()
        labels = (cc.groupBy("component")
                  .agg(F.min("init_label").alias("label"))
                  .join(cc.select("id", "component"), "component")
                  .select(F.col("id").alias("skey"), "label"))
        return labels.withColumnRenamed("label", "entity_label")

    return _union_find_labels(vertices, edges)[0]


def _union_find_labels(vertices: DataFrame,
                       edges: DataFrame) -> tuple[DataFrame, int]:
    """connected_components' union-find path; also returns the number of
    edges it collected."""
    pairs = edges.select("ka", "kb").collect()
    roots = union_find_roots(pairs)
    # an Arrow table is read by the JVM alone; a list of tuples would
    # become a Python RDD that runs Python tasks in every job reading it
    root_of = vertices.sparkSession.createDataFrame(pa.table(
        {"skey": list(roots), "root": list(roots.values())},
        pa.schema([("skey", pa.string()), ("root", pa.string())])))
    # keys in no pair are their own root, so they keep their own label
    labels = (vertices.groupBy("skey")
              .agg(F.min("init_label").alias("label"))
              .join(root_of, "skey", "left")
              .select("skey", F.min("label").over(Window.partitionBy(
                  F.coalesce("root", "skey"))).alias("entity_label")))
    return labels, len(pairs)


def build_entity_map(surfaces: DataFrame, alias_dict: DataFrame,
                     max_bucket: int = 50,
                     min_agree: int = 8) -> tuple[DataFrame, dict]:
    """surface -> entity_id. entity_id is 'ent_*' (dictionary canonical) when
    the cluster contains a linked surface, else 'surf_<min canonical_key>'.
    Deterministic under any partitioning/parallelism. Returns
    (entity_map, stats): the counts of dropped oversized LSH buckets and
    of verified pairs, {lsh_buckets_dropped, lsh_pairs}."""
    # materialize once: the distinct-surface shuffle feeds the LSH count,
    # the CC seed, and the final map — without this it recomputes per action
    vertices = surface_vertices(surfaces, alias_dict) \
        .localCheckpoint(eager=True)
    pairs, n_dropped = lsh_candidate_pairs(
        vertices, max_bucket=max_bucket, min_agree=min_agree)
    vertices_cc = vertices.select("skey", "init_label")
    if graphframes_available():
        # materialize once: counted here, read by every GraphFrames pass
        pairs = pairs.localCheckpoint(eager=True)
        labels = connected_components(vertices_cc, pairs)
        n_pairs = pairs.count()
    else:
        labels, n_pairs = _union_find_labels(vertices_cc, pairs)
    entity_map = (
        vertices.select("surface", "skey")
        .join(labels, "skey")
        .select(
            "surface", "skey",
            F.when(F.col("entity_label").startswith("0"),
                   F.expr("substring(entity_label, 2)"))
            .otherwise(F.concat(F.lit("surf_"),
                                F.expr("substring(entity_label, 2)")))
            .alias("entity_id"))
    )
    return entity_map, {"lsh_buckets_dropped": n_dropped,
                        "lsh_pairs": n_pairs}
