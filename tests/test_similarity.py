"""Similarity search (functions/similarity.py)."""

import math

import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from replicadb_spark.functions import similarity as S

SCHEMA = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
])


@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0
        (4, [0.5, 0.5, 0.5, 0.5]),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def test_cosine_known_values(spark, vectors):
    pairs = vectors.alias("a").crossJoin(vectors.alias("b")).select(
        F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
        S.cosine(F.col("a.embedding"), F.col("b.embedding")).alias("c"),
    )
    got = {(r["ia"], r["ib"]): r["c"] for r in pairs.collect()}
    assert got[(0, 0)] == pytest.approx(1.0)
    assert got[(0, 2)] == pytest.approx(0.0)
    assert got[(0, 3)] == pytest.approx(-1.0)
    # embeddings are stored float32: 0.9/0.1 round at ~1e-8
    assert got[(0, 1)] == pytest.approx(0.9 / math.sqrt(0.82), rel=1e-6)


def test_knn_ranks_expected_neighbors(vectors):
    out = S.knn_bruteforce(vectors, vectors.where(F.col("vec_id") == 0), k=2).collect()
    ranked = [(r["rank"], r["neighbor_id"]) for r in out]
    assert ranked == [(1, 1), (2, 4)]
    # self excluded
    assert all(r["neighbor_id"] != 0 for r in out)


def test_knn_broadcast_no_corpus_shuffle(vectors):
    # r17: the corpus streams through the Arrow matmul kernel — no join
    # node anywhere in the plan (the query matrix rides the closure)
    plan = (
        S.knn_bruteforce(vectors, vectors.where(F.col("vec_id") == 0), k=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_ann_lsh_recall_on_testdata(spark):
    """LSH candidates must recover most exact top-10 neighbors."""
    from replicadb_spark.session import tables

    emb = tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    queries = emb.where(F.col("vec_id") < 3)
    exact = {(r["query_id"], r["neighbor_id"]) for r in
             S.knn_bruteforce(emb, queries, k=10).collect()}
    approx = {(r["query_id"], r["neighbor_id"]) for r in
              S.ann_lsh(emb, queries, dim=64, n_tables=12, bits=6, k=10).collect()}
    recall = len(exact & approx) / len(exact)
    # TESTDATA embeddings are near-random (mean top-10 cosine ≈ 0.30) —
    # the hard case for LSH; 12 tables × 6 bits scores ~16% of the corpus
    # and recovers 40% of exact neighbors (deterministic planes).
    assert recall >= 0.35


def test_embedding_neardup_pairs(vectors):
    pairs = {(r["id_a"], r["id_b"]) for r in
             S.embedding_neardup_pairs(vectors, threshold=0.95).collect()}
    assert (0, 1) in pairs
    assert (0, 3) not in pairs


def test_hyperplanes_deterministic():
    assert S._hyperplanes(8, 4, seed=13) == S._hyperplanes(8, 4, seed=13)
    assert S._hyperplanes(8, 4, seed=13) != S._hyperplanes(8, 4, seed=14)


def test_knn_string_ids(spark):
    """Id types flow from the input schema (round-2 hard-coded them to
    long, which broke non-integral ids at runtime)."""
    rows = [
        ("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0]),
    ]
    schema = T.StructType([
        T.StructField("vec_id", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    df = spark.createDataFrame(rows, schema)
    out = S.knn_bruteforce(df, df.where(F.col("vec_id") == "a"), k=1).collect()
    assert [(r["query_id"], r["neighbor_id"], r["rank"]) for r in out] == [("a", "b", 1)]


def _ref_knn(corpus, queries, k, *, exclude_same_label=False):
    """The pre-r17 knn plan — broadcast crossJoin scored by the
    sequential-fold `cosine` expression, window top-k — kept here as
    the equivalence reference for the Arrow matmul kernel."""
    from pyspark.sql import Window

    q_cols = [F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_vec")]
    c_cols = [F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_vec")]
    if exclude_same_label:
        q_cols.append(F.col("label").alias("q_label"))
        c_cols.append(F.col("label").alias("c_label"))
    cand = corpus.select(*c_cols).crossJoin(
        F.broadcast(queries.select(*q_cols))
    ).where(F.col("neighbor_id") != F.col("query_id"))
    if exclude_same_label:
        cand = cand.where(~F.col("c_label").eqNullSafe(F.col("q_label")))
    scored = cand.select(
        "query_id", "neighbor_id",
        S.cosine(F.col("q_vec"), F.col("c_vec")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _knn_by_rank(rows):
    out = {}
    for r in rows:
        out[(r["query_id"], r["rank"])] = (r["neighbor_id"], r["score"])
    return out


def test_knn_matmul_matches_expression_fold(spark):
    """r17 kernel equivalence pin: the Arrow matmul scorer must produce
    the same neighbors at the same ranks as the old expression-fold
    plan, scores equal to 1e-9, across zero-norm (null score), NaN
    vectors (NaN-first), duplicate vectors (id tiebreak), and null
    labels on the exclude_same_label path."""
    import random

    random.seed(7)
    rows = [
        (i, [random.uniform(-1.0, 1.0) for _ in range(8)], i % 4)
        for i in range(40)
    ]
    rows.append((60, [0.0] * 8, None))                     # zero-norm → null
    rows.append((61, [float("nan")] + [0.1] * 7, 2))       # NaN → ranks first
    rows.append((62, list(rows[0][1]), 0))                 # duplicate of id 0
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("label", T.IntegerType()),
    ])
    df = spark.createDataFrame(rows, schema)
    q = df.where((F.col("vec_id") < 4) | F.col("vec_id").isin(60, 61))

    for excl in (False, True):
        got = _knn_by_rank(
            S.knn_bruteforce(
                df, q, k=5,
                label_col="label" if excl else None,
                exclude_same_label=excl,
            ).collect()
        )
        ref = _knn_by_rank(_ref_knn(df, q, k=5, exclude_same_label=excl).collect())
        assert set(got) == set(ref)
        for key, (nid, score) in ref.items():
            g_nid, g_score = got[key]
            assert g_nid == nid, (key, g_nid, nid)
            if score is None or g_score is None:
                assert score is None and g_score is None
            elif math.isnan(score) or math.isnan(g_score):
                assert math.isnan(score) and math.isnan(g_score)
            else:
                assert g_score == pytest.approx(score, abs=1e-9)


def test_knn_scores_independent_of_batch_composition(spark):
    """An exact copy of a corpus row scores bit-identically to its
    source wherever it sits, so the id tiebreak decides their order.
    The copy (id 300 of row 5) is alone in a 1-row partition while its
    source shares a 100-row Arrow batch: a batch-shaped BLAS product
    gave the two different last-ulp scores there, and the copy often
    outranked its source."""
    import random

    rng = random.Random(11)
    base = [(i, [rng.uniform(-1.0, 1.0) for _ in range(64)]) for i in range(300)]
    parts = [base[0:100], base[100:200], base[200:300], [(300, list(base[5][1]))]]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
    ])
    corpus = spark.createDataFrame(
        spark.sparkContext.parallelize(range(4), 4).flatMap(lambda i: parts[i]),
        schema,
    )
    queries = corpus.where(F.col("vec_id").between(20, 25))
    out = S.knn_bruteforce(corpus, queries, k=301).collect()
    by_q: dict = {}
    for r in out:
        by_q.setdefault(r["query_id"], {})[r["neighbor_id"]] = (r["score"], r["rank"])
    assert len(by_q) == 6
    for qid, hits in by_q.items():
        (s5, r5), (s300, r300) = hits[5], hits[300]
        assert s5 == s300, (qid, s5, s300)
        assert r5 < r300, (qid, r5, r300)


def test_knn_null_scores_rank_last(spark):
    """Zero-norm corpus vectors score NULL (try_divide) and must sort
    after every finite score — with a corpus small enough that the
    null row lands inside the top-k."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 0.0]),   # zero-norm → null score
        (3, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    out = S.knn_bruteforce(df, df.where(F.col("vec_id") == 0), k=3).collect()
    by_rank = {r["rank"]: (r["neighbor_id"], r["score"]) for r in out}
    assert by_rank[1][0] == 1 and by_rank[2][0] == 3
    assert by_rank[3] == (2, None)


def test_knn_nan_scores_rank_first(spark):
    """A NaN-element vector scores NaN; Spark's desc ordering treats NaN
    as greatest, and the pandas partial top-k must agree
    (na_position='first' — the round-2 reducer silently dropped NaN rows
    when k others existed in the same partition)."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [float("nan"), 0.5]),
        (3, [0.8, 0.2]),
    ]
    df = spark.createDataFrame(rows, SCHEMA).coalesce(1)
    out = S.knn_bruteforce(df, df.where(F.col("vec_id") == 0), k=2).collect()
    by_rank = {r["rank"]: r["neighbor_id"] for r in out}
    # NaN-score neighbor (id 2) outranks every finite score under
    # NaN-greatest semantics
    assert by_rank[1] == 2
    assert math.isnan([r["score"] for r in out if r["rank"] == 1][0])


def test_embedding_neardup_exact_matches_bruteforce(spark):
    """Triangle-blocked pairs = brute-force pairs, any n_blocks."""
    import random

    rng = random.Random(5)
    rows = []
    for i in range(60):
        base = [rng.uniform(-1, 1) for _ in range(8)]
        rows.append((i, base))
        if i % 7 == 0:  # plant a near-dup
            rows.append((1000 + i, [x + rng.uniform(-0.01, 0.01) for x in base]))
    df = spark.createDataFrame(rows, SCHEMA)
    expect = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_neardup_pairs(df, threshold=0.9, n_blocks=1).collect()
    }
    for nb in (3, 8):
        got = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_neardup_pairs(df, threshold=0.9, n_blocks=nb).collect()
        }
        assert got == expect
    assert len(expect) >= 9  # the planted near-dups are found


def test_embedding_neardup_lsh_recall(spark):
    """Auto-tuned LSH blocking recovers the exact pair set at a high
    threshold (miss prob ≈ 1e-5 with deterministic planes)."""
    import random

    rng = random.Random(11)
    rows = []
    for i in range(80):
        base = [rng.uniform(-1, 1) for _ in range(16)]
        rows.append((i, base))
        if i % 5 == 0:
            rows.append((1000 + i, [x + rng.uniform(-0.02, 0.02) for x in base]))
    df = spark.createDataFrame(rows, SCHEMA)
    exact = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_neardup_pairs(df, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in S.embedding_neardup_pairs_lsh(df, threshold=0.95).collect()
    }
    assert exact, "fixture must plant near-dup pairs"
    assert approx == exact  # fixed planes; miss prob ~1e-5 at t=0.95
    # rescore guarantees precision — no pair below threshold survives
    assert all(a != b for a, b in approx)


def test_ann_ivf_lloyd_step_improves_recall(spark):
    """One k-means refinement must not hurt recall vs the hash-picked
    centroids, and the sorted-id mean keeps it deterministic."""
    from pyspark.sql import functions as F

    from replicadb_spark.functions.similarity import ann_ivf, knn_bruteforce
    from replicadb_spark.session import tables

    e = tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    q = e.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"]) for r in knn_bruteforce(e, q, k=10).collect()}

    def recall(iters):
        ap = {(r["query_id"], r["neighbor_id"]) for r in
              ann_ivf(e, q, n_cells=16, n_probe=6, k=10, lloyd_iters=iters).collect()}
        return len(exact & ap) / len(exact)

    r0, r1 = recall(0), recall(1)
    assert r1 >= r0 - 0.05  # refinement never craters recall
    assert r1 >= 0.5
    # determinism: same parameters → identical pair set
    ap_a = {(r["query_id"], r["neighbor_id"]) for r in
            ann_ivf(e, q, n_cells=16, n_probe=6, k=10, lloyd_iters=1).collect()}
    ap_b = {(r["query_id"], r["neighbor_id"]) for r in
            ann_ivf(e, q, n_cells=16, n_probe=6, k=10, lloyd_iters=1).collect()}
    assert ap_a == ap_b


def test_ann_ivfpq_recall_and_determinism(spark):
    from replicadb_spark.functions import similarity as S
    from replicadb_spark.session import tables
    from pyspark.sql import functions as F

    e = tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    q = e.where(F.col("vec_id") < 3)
    exact = {(r.query_id, r.neighbor_id)
             for r in S.knn_bruteforce(e, q, k=5).collect()}
    run1 = S.ann_ivf_pq(e, q, n_cells=4, n_probe=3, k=5, m_sub=16, ks=16, rerank=30)
    got1 = {(r.query_id, r.neighbor_id) for r in run1.collect()}
    # generous cells+probes at this tiny scale: recall must clear 0.6
    assert len(exact & got1) / len(exact) >= 0.6
    # fully deterministic end-to-end (hash-picked centroids/codebook)
    run2 = S.ann_ivf_pq(e, q, n_cells=4, n_probe=3, k=5, m_sub=16, ks=16, rerank=30)
    got2 = {(r.query_id, r.neighbor_id, round(r.score, 9)) for r in run2.collect()}
    assert {(r.query_id, r.neighbor_id, round(r.score, 9)) for r in run1.collect()} == got2


def test_ann_ivfpq_rejects_indivisible_dim(spark):
    import pytest
    from replicadb_spark.functions import similarity as S
    from replicadb_spark.session import tables
    from pyspark.sql import functions as F

    e = tables(spark, "/root/testdata/sf0.001", ("embeddings",))["embeddings"]
    q = e.where(F.col("vec_id") < 2)
    with pytest.raises(ValueError, match="not divisible"):
        S.ann_ivf_pq(e, q, m_sub=7).count()


def test_whiten_project_planted_anisotropy(spark):
    """Plant data with wildly different per-direction variances; the
    whitened output must have ~zero mean and ~identity covariance —
    and the transform must actually use the eigenstructure (a plain
    scale of raw axes would fail on the rotated plant)."""
    import numpy as np

    from replicadb_spark.functions.decomposition import (
        covariance_stats,
        whiten_project,
    )

    rng = np.random.RandomState(11)
    # anisotropic then rotated: axes of variance are NOT the raw dims
    base = rng.randn(400, 3) * np.array([10.0, 1.0, 0.1])
    theta = 0.7
    R = np.array([
        [np.cos(theta), -np.sin(theta), 0.0],
        [np.sin(theta), np.cos(theta), 0.0],
        [0.0, 0.0, 1.0],
    ])
    V = base @ R.T + np.array([5.0, -3.0, 0.5])
    rows = [(i, [float(x) for x in V[i]]) for i in range(400)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    white = whiten_project(df, "embedding", id_col="vec_id", m=3)
    n, mean, cov = covariance_stats(white, "white")
    assert n == 400
    assert np.abs(mean).max() < 1e-6
    assert np.abs(cov - np.eye(3)).max() < 1e-6


def test_semantic_dedup_with_lloyd_refinement(spark):
    """Invariants hold with Lloyd-refined centroids too: no kept pair
    within a cell above threshold, every removed vector has a smaller-id
    kept neighbor in its cell."""
    import numpy as np

    from replicadb_spark.functions.dedup import (
        semantic_cell_pairs,
        semantic_dedup,
    )

    rng = np.random.RandomState(5)
    base = rng.randn(30, 6)
    # plant duplicates: rows 30..44 are near-copies of rows 0..14
    dups = base[:15] + rng.randn(15, 6) * 1e-3
    V = np.vstack([base, dups])
    rows = [(i, [float(x) for x in V[i]]) for i in range(45)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, id_col="vec_id", vec_col="embedding", n_cells=4,
        threshold=0.999, lloyd_iters=2,
    ).collect()
    assert len(out) == 45 and len({r["id"] for r in out}) == 45
    kept = {r["id"] for r in out if r["kept"]}
    removed = {r["id"] for r in out if not r["kept"]}
    assert removed, "planted near-copies must dedupe"
    assign = spark.createDataFrame(
        [(r["id"], r["cell"]) for r in out], "id long, cell int"
    )
    pairs = semantic_cell_pairs(
        df, assign, id_col="vec_id", vec_col="embedding", threshold=0.999
    ).collect()
    assert not any(p.id_a in kept and p.id_b in kept for p in pairs)
    covered = {p.id_b for p in pairs if p.id_a in kept}
    assert removed <= covered


def assign_cells(df, centroids, *, id_col="vec_id", vec_col="embedding", top=1):
    """In-test REFERENCE for the nearest-cell rule: crossJoin the
    broadcast centroid table, score with the JVM cosine fold and keep
    each vector's ``top`` cells by (cosine desc, cell asc) through a
    per-vector window. Returns DataFrame(__vid, cell)."""
    from pyspark.sql import Window

    w_cell = Window.partitionBy("__vid").orderBy(
        F.col("__cscore").desc(), F.col("cell").asc()
    )
    scored = (
        df.select(F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v"))
        .crossJoin(F.broadcast(centroids))
        .select(
            "__vid", "cell", S.cosine(F.col("__v"), F.col("cent_vec")).alias("__cscore")
        )
    )
    return (
        scored.withColumn("__r", F.row_number().over(w_cell))
        .where(F.col("__r") <= top)
        .select("__vid", "cell")
    )


def test_assign_kernel_matches_window_path(spark):
    """Every quantizer consumer assigns through the collected-matrix
    Arrow argmax kernel (assign_cells_kernel); the window-shaped
    assign_cells above is its in-test REFERENCE. Both
    paths must pick identical cell sets — top-1 and top-k, including
    duplicate vectors (exact score ties across cells resolve to the
    lower cell id on both paths) and the zero vector (NULL cosine
    ranks last in the window path, all-zero scores tie to the lowest
    cell in the kernel — same cell either way)."""
    import random

    from pyspark.sql import functions as F

    from replicadb_spark.functions.similarity import (
        _collect_centroid_matrix,
        assign_cells_kernel,
        coarse_centroids,
    )

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)]
    rows.append((60, list(rows[3][1])))   # duplicate vector → tied scores
    rows.append((61, [0.0] * 8))          # zero vector → degenerate cosine
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    cents = coarse_centroids(corpus, n_cells=5)
    _, cells_arr, Cn = _collect_centroid_matrix(cents)

    for top in (1, 3):
        ref = {
            (r["__vid"], r["cell"])
            for r in assign_cells(corpus, cents, top=top).collect()
        }
        got = {
            (r["__vid"], r["cell"])
            for r in assign_cells_kernel(
                corpus, cells_arr, Cn, top=top
            ).collect()
        }
        assert got == ref, f"top={top}: kernel != window assignment"


def test_assign_kernel_keep_vec_roundtrip(spark):
    """keep_vec=True (the Lloyd-step shape) must carry each vector
    unchanged next to its assignment."""
    from replicadb_spark.functions.similarity import (
        _collect_centroid_matrix,
        assign_cells_kernel,
        coarse_centroids,
    )

    corpus = spark.createDataFrame(
        [(i, [float(i), float(-i), 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    _, cells_arr, Cn = _collect_centroid_matrix(coarse_centroids(corpus, n_cells=3))
    got = {
        r["__vid"]: list(r["__v"])
        for r in assign_cells_kernel(
            corpus, cells_arr, Cn, top=1, keep_vec=True
        ).collect()
    }
    assert got == {i: [float(i), float(-i), 1.0] for i in range(10)}
