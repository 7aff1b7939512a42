"""Operator-library tests: dedup, similarity, textops, IVF, retrieval,
streaming (SURVEY.md §2 + the training-data-pipeline operators)."""

import pytest
from pyspark.sql import functions as F

from master_project_spark.operators import dedup, similarity, textops


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (2, "the quick brown fox leaps over the lazy dog"),   # near dup
        (3, "completely different text about spark pipelines and shuffles"),
        (4, "Der schnelle braune Fuchs springt über den faulen Hund und das"),
        (5, "le renard brun rapide saute par dessus le chien paresseux dans"),
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


# ------------------------------------------------------------------ dedup

def test_exact_dedup(docs):
    got = {r["fp"]: (r["keep_id"], r["n_dups"])
           for r in dedup.exact_dedup(docs).collect()}
    dups = [v for v in got.values() if v[1] > 1]
    assert dups == [(0, 2)]


def test_bow_dedup(docs):
    got = [r for r in dedup.bow_dedup(docs).collect() if r["n_dups"] > 1]
    assert len(got) == 1 and got[0]["keep_id"] == 0


def test_minhash_lsh_pairs(docs):
    pairs, dropped = dedup.minhash_lsh_pairs(docs, min_agree=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got          # exact dup must be a candidate
    assert (2, 3) not in got      # unrelated text must not
    assert dropped == 0


def test_simhash_near_dups(docs):
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in dedup.simhash_near_dups(docs, max_hamming=10).collect()}
    assert got[(0, 1)] == 0
    assert (0, 2) in got          # one-word edit stays within hamming 10
    assert (0, 3) not in got


def test_ngram_jaccard_pairs(docs):
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in dedup.ngram_jaccard_pairs(docs, threshold=0.3).collect()}
    assert got[(0, 1)] == 1.0
    # one-word edit on 9 tokens: 4 shared of 10 distinct trigrams = 0.4
    assert got[(0, 2)] == 0.4
    assert (0, 3) not in got


@pytest.fixture(scope="module")
def vectors(spark):
    import random
    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [0.0] * 8
        base[i % 4] = 1.0
        rows.append((i, [v + rng.uniform(-0.05, 0.05) for v in base]))
    return spark.createDataFrame(rows, "vec_id int, embedding array<float>")


def test_embedding_cosine_pairs(vectors):
    pairs = dedup.embedding_cosine_pairs(
        vectors.filter("vec_id < 12"), threshold=0.95).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 4) in got          # same axis -> cosine ~1
    assert (0, 1) not in got      # orthogonal axes


# ------------------------------------------------------------- similarity

def test_brute_force_topk(vectors):
    queries = vectors.filter("vec_id < 2")
    corpus = vectors.filter("vec_id >= 2")
    got = similarity.brute_force_topk(queries, corpus, k=5)
    rows = got.collect()
    assert {r["query_id"] for r in rows} == {0, 1}
    by_q = {q: sorted((r["rank"], r["corpus_id"], r["score"])
                      for r in rows if r["query_id"] == q) for q in (0, 1)}
    # top hit for query 0 (axis 0) must be an axis-0 vector (id % 4 == 0)
    assert by_q[0][0][1] % 4 == 0
    assert all(len(v) == 5 for v in by_q.values())


def test_lsh_ann_topk_agrees_with_exact_on_top1(vectors):
    queries = vectors.filter("vec_id < 2")
    corpus = vectors.filter("vec_id >= 2")
    exact = {(r["query_id"], r["rank"]): r["corpus_id"]
             for r in similarity.brute_force_topk(
                 queries, corpus, k=1).collect()}
    ann = {(r["query_id"], r["rank"]): r["corpus_id"]
           for r in similarity.lsh_ann_topk(
               queries, corpus, k=1, n_planes=4, dim=8).collect()}
    # ANN top-1 equals exact top-1 when the bucket captured it; with
    # axis-aligned clusters and 4 planes it must for at least one query
    assert any(ann.get(k) == v for k, v in exact.items())


# ---------------------------------------------------------------- textops

def test_predict_lang(spark):
    rows = [(0, "the cat and the dog sat on the mat with the hat"),
            (1, "der hund und die katze sind nicht auf der matte ein"),
            (2, "le chien et la chatte sont dans un jardin pour les"),
            (3, "xqz zzz qqq")]
    df = spark.createDataFrame(rows, "id int, text string")
    got = {r["id"]: r["lang"] for r in df.select(
        "id", textops.predict_lang(F.col("text")).alias("lang")).collect()}
    assert got == {0: "en", 1: "de", 2: "fr", 3: "unk"}


def test_quality_and_fingerprint(spark):
    df = spark.createDataFrame(
        [(0, "The quick brown fox jumps over the lazy dog."),
         (1, "?!?! ,,,, ....  !!"),
         (2, "the   QUICK  brown fox jumps over the lazy dog.")],
        "id int, text string")
    out = textops.annotate(df).collect()
    by_id = {r["id"]: r for r in out}
    assert by_id[0]["quality"] > by_id[1]["quality"]
    assert 0 < by_id[0]["quality"] <= 1.0
    # fingerprint is whitespace/case robust
    assert by_id[0]["fingerprint"] == by_id[2]["fingerprint"]


def test_token_count_matches_python(spark):
    import re
    text = "Spark 4.1 runs fast-UDFs over 100TB"
    expected = len(re.findall("[A-Za-z0-9]+", text))
    df = spark.createDataFrame([(text,)], "text string")
    got = df.select(textops.token_count(F.col("text")).alias("n")).collect()
    assert got[0]["n"] == expected


def _np_kmeans_oracle(ids, vecs, n_cells, n_iter):
    """Single-process mirror of similarity.kmeans_centroids: farthest-first
    seeding on 6-dp-rounded cosine (ties by id), Lloyd with 6-dp-rounded
    per-dim means, empty cells keep their centroid."""
    import numpy as np

    def cos6(a, b):
        n = float(np.linalg.norm(a)) * float(np.linalg.norm(b))
        if n == 0.0:             # zero-norm guard, mirrors similarity.cos6
            return 0.0
        return round(float(np.dot(a, b)) / n, 6)

    order = np.argsort(ids)
    ids = [ids[i] for i in order]
    vecs = [np.asarray(vecs[i], dtype=np.float64) for i in order]
    seeds = [vecs[0].copy()]
    for _ in range(1, n_cells):
        best = [(max(cos6(v, s) for s in seeds), ids[i])
                for i, v in enumerate(vecs)]
        # MIN best-similarity = farthest; ties by id ascending
        pick = min(range(len(vecs)), key=lambda i: (best[i][0], best[i][1]))
        seeds.append(vecs[pick].copy())
    cents = [s.copy() for s in seeds]
    for _ in range(n_iter):
        assign = []
        for v in vecs:
            sims = [cos6(v, c) for c in cents]
            # max sim, ties by LOWEST cell_id (matches the window order)
            assign.append(max(range(n_cells),
                              key=lambda j: (sims[j], -j)))
        for j in range(n_cells):
            members = [vecs[i] for i in range(len(vecs)) if assign[i] == j]
            if members:
                cents[j] = np.round(np.mean(members, axis=0), 6)
    return cents


def test_kmeans_centroids_match_numpy_oracle(spark):
    """similarity.kmeans_centroids is deterministic and equals the
    single-process oracle (seeding choices exactly; Lloyd means to within
    float-sum-order noise far below the 6-dp rounding)."""
    import numpy as np

    from master_project_spark.operators.similarity import kmeans_centroids

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet") \
        .filter(F.col("vec_id") < 120)
    rows = e.collect()
    ids = [r["vec_id"] for r in rows]
    vecs = [[float(x) for x in r["embedding"]] for r in rows]

    got = {r["cell_id"]: np.asarray(r["cv"])
           for r in kmeans_centroids(e, n_cells=4, n_iter=3).collect()}
    want = _np_kmeans_oracle(ids, vecs, n_cells=4, n_iter=3)
    assert sorted(got) == [0, 1, 2, 3]
    for j in range(4):
        assert np.allclose(got[j], want[j], atol=2e-6), j
    # deterministic across invocations
    again = {r["cell_id"]: np.asarray(r["cv"])
             for r in kmeans_centroids(e, n_cells=4, n_iter=3).collect()}
    for j in range(4):
        assert np.array_equal(got[j], again[j])


def test_ivf_fixture_matches_trainer(spark):
    """The committed fixtures_ivf.IVF_CENTROIDS ARE the trainer's output
    (round-4 VERDICT ask #6): re-running kmeans_centroids with the
    fixture's documented provenance (sf0.01 embeddings vec_id >= 8,
    n_cells=8, n_iter=3) reproduces every frozen value exactly, and the
    hash-checked ann_ivf_fixed_topk query equals the rows-only
    ann_ivf_trained_topk (same index -> same probe/rescore output)."""
    from master_project_spark.entry_queries import (ann_ivf_fixed_topk,
                                                    ann_ivf_trained_topk)
    from master_project_spark.fixtures_ivf import IVF_CENTROIDS
    from master_project_spark.operators.similarity import kmeans_centroids

    sf_dir = "/root/testdata/sf0.01"
    c = spark.read.parquet(f"{sf_dir}/embeddings.parquet") \
        .filter(F.col("vec_id") >= 8)
    trained = {r["cell_id"]: [float(x) for x in r["cv"]]
               for r in kmeans_centroids(c, n_cells=8, n_iter=3).collect()}
    assert trained == {cid: vec for cid, vec in IVF_CENTROIDS}

    fixed = sorted(map(tuple, ann_ivf_fixed_topk(spark, sf_dir).collect()))
    live = sorted(map(tuple, ann_ivf_trained_topk(spark, sf_dir).collect()))
    assert fixed == live


def test_ivf_kmeans_recall_at_10(spark):
    """Recall@10 of the IVF probe vs exact brute force on the embeddings
    table, for both quantizers. The trained k-means centroids must be a
    usable index (recall well above the nprobe/n_cells random-cell floor);
    both numbers are reported in BENCH/BASELINE.md."""
    from master_project_spark.operators.similarity import (
        brute_force_topk, ivf_ann_topk, kmeans_centroids)

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q, c = e.filter(F.col("vec_id") < 8), e.filter(F.col("vec_id") >= 8)
    exact = brute_force_topk(q, c, k=10)
    gold = {}
    for r in exact.collect():
        gold.setdefault(r["query_id"], set()).add(r["corpus_id"])

    def recall(df):
        hits = {}
        for r in df.collect():
            hits.setdefault(r["query_id"], set()).add(r["corpus_id"])
        return sum(len(hits.get(qid, set()) & g) / len(g)
                   for qid, g in gold.items()) / len(gold)

    cents = kmeans_centroids(c, n_cells=8, n_iter=5,
                             cid="vec_id", cvec="embedding")
    r_kmeans = recall(ivf_ann_topk(q, c, k=10, n_cells=8, nprobe=2,
                                   centroids=cents))
    r_toy = recall(ivf_ann_topk(q, c, k=10, n_cells=8, nprobe=2))
    print(f"\nIVF recall@10 (nprobe=2/8): kmeans={r_kmeans:.3f} "
          f"lowest-id={r_toy:.3f}")
    assert r_kmeans >= 0.5          # far above the 0.25 random-cell floor


# -------------------------------------------------------------- streaming

def test_streaming_extraction(spark, tmp_path):
    from master_project_spark.datagen import transcripts_df
    from master_project_spark.streaming.stream_pipeline import run_to_memory

    inp = str(tmp_path / "stream_in")
    transcripts_df(spark, 10, 8, seed=5).write.parquet(inp)
    q = run_to_memory(spark, inp, query_name="t_stream")
    try:
        q.processAllAvailable()
        got = spark.table("t_stream").collect()
    finally:
        q.stop()
    assert got, "windowed triple counts must be non-empty"
    assert sum(r["n_triples"] for r in got) > 0
    assert all(r["window_end"] > r["window_start"] for r in got)


# -------------------------------------------------------------- retrieval

def test_semantic_search_and_resolve(spark):
    from master_project_spark.operators import retrieval
    corpus = spark.createDataFrame(
        [("c1", 0, "datasets employed for analysis of results"),
         ("c1", 1, "the weather is nice today outside"),
         ("c2", 0, "data sources referenced in the appendix")],
        "conv_id string, chunk_idx int, chunk_text string")
    hits = retrieval.semantic_search(
        corpus, ["Datasets employed for analysis"], top_k=2)
    rows = hits.collect()
    assert len(rows) == 2
    # the lexically-overlapping chunk must rank first
    top = [r for r in rows if r["rank"] == 1][0]
    assert top["conv_id"] == "c1" and top["chunk_idx"] == 0
    resolved = retrieval.resolve_hit_rows(corpus, hits)
    assert resolved.count() == 2


def test_query_embeddings_deterministic(spark):
    from master_project_spark.operators import retrieval
    a = retrieval.query_embeddings_df(spark, ["alpha beta"]).collect()
    b = retrieval.query_embeddings_df(spark, ["alpha beta"]).collect()
    assert a == b


def test_stateful_conversation_progress(spark, tmp_path):
    """applyInPandasWithState custom stateful operator: running per-conv
    progress counters match a batch recomputation; state is per-conv and
    update-mode emits one row per conv per microbatch."""
    from master_project_spark.datagen import (gen_transcripts,
                                              transcripts_spark_schema)
    from master_project_spark.oracle import oracle_triples
    from master_project_spark.streaming.stream_pipeline import (
        conversation_progress_stateful)

    rows = gen_transcripts(6, 10, seed=41)
    in_dir = str(tmp_path / "stream_in")
    spark.createDataFrame(rows, transcripts_spark_schema()) \
        .write.parquet(in_dir)

    stream = (spark.readStream.schema(transcripts_spark_schema())
              .parquet(in_dir))
    q = (conversation_progress_stateful(stream)
         .writeStream.format("memory").queryName("conv_progress")
         .outputMode("update").start())
    try:
        # NB: processAllAvailable() never returns here — processing-time
        # timeouts keep triggering empty state-cleanup microbatches by
        # design. Poll for the expected conversations instead.
        import time
        n_convs = len({r["conv_id"] for r in rows})
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            got = {r["conv_id"]: (r["n_turns"], r["n_triples"],
                                  r["last_turn_idx"], r["closed"])
                   for r in spark.table("conv_progress").collect()}
            if len(got) == n_convs:
                break
            time.sleep(1)
    finally:
        q.stop()

    from collections import Counter, defaultdict
    want_turns = Counter(r["conv_id"] for r in rows)
    want_last = defaultdict(int)
    for r in rows:
        want_last[r["conv_id"]] = max(want_last[r["conv_id"]], r["turn_idx"])
    want_triples = Counter(t["conv_id"] for t in oracle_triples(rows))
    assert set(got) == set(want_turns)
    for conv_id, (n_turns, n_triples, last_idx, closed) in got.items():
        assert n_turns == want_turns[conv_id]
        assert n_triples == want_triples.get(conv_id, 0)
        assert last_idx == want_last[conv_id]
        assert closed is False  # no idle timeout elapsed in-test


def test_ann_ivf_trained_query_exact_vs_oracle_quantizer(spark):
    """Round-4 ask #5: the trained-quantizer IVF contract entry
    (entry_queries.ann_ivf_trained_topk) equals, row-for-row, the same
    probe/rescore fed by the independently computed NumPy-oracle
    centroids — the production index-build path is pytest-EXACT."""
    from master_project_spark.entry_queries import ann_ivf_trained_topk
    from master_project_spark.operators.similarity import ivf_ann_topk

    sf_dir = "/root/testdata/sf0.01"
    got = sorted(map(tuple, ann_ivf_trained_topk(spark, sf_dir).collect()))

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.filter(F.col("vec_id") >= 8)
    rows = (c.withColumn("h", F.xxhash64("vec_id"))
            .orderBy("h", "vec_id").limit(8 * 64)
            .select("vec_id", "embedding").collect())
    ids = [r["vec_id"] for r in rows]
    vecs = [[float(x) for x in r["embedding"]] for r in rows]
    oracle_cents = _np_kmeans_oracle(ids, vecs, n_cells=8, n_iter=3)
    cents_df = spark.createDataFrame(
        [(i, [float(x) for x in cv]) for i, cv in enumerate(oracle_cents)],
        "cell_id int, cv array<double>")
    want = sorted(map(tuple, ivf_ann_topk(
        e.filter(F.col("vec_id") < 8), c, k=10, n_cells=8, nprobe=2,
        centroids=cents_df)
        .withColumn("rank", F.col("rank").cast("int")).collect()))
    assert got == want and len(got) > 0
