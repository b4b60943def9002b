"""Persisted IVF index (operators/ann_index): cell-partitioned layout,
partition-pruned probes, incremental append, recall vs brute force."""

import pytest

from pyspark.sql import functions as F

from replicadb_spark.operators.ann_index import (
    append_to_ivf_index,
    build_ivf_index,
    compact_ivf_cells,
    search_ivf_index,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "idx")
    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    build_ivf_index(corpus, path, n_cells=8)
    return path, corpus


def test_layout_is_cell_partitioned(spark, index):
    import os

    path, corpus = index
    dirs = sorted(d for d in os.listdir(f"{path}/cells") if d.startswith("cell="))
    assert 1 < len(dirs) <= 8
    total = spark.read.parquet(f"{path}/cells").count()
    assert total == corpus.count()


def test_search_prunes_partitions_and_hits_recall(spark, index):
    from replicadb_spark.functions.similarity import knn_bruteforce

    path, corpus = index
    queries = corpus.where(F.col("vec_id") < 5)
    res = search_ivf_index(spark, path, queries, n_probe=6, k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    # the probe filter reaches the scan as a PARTITION filter: only the
    # probed cell directories are read
    assert "PartitionFilters: [cell" in plan.replace("#", "").replace(
        "cast(cell", "cell"
    ) or "PartitionFilters" in plan and "cell" in plan.split("PartitionFilters")[1][:80]
    got = {(r["query_id"], r["neighbor_id"]) for r in res.collect()}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(corpus, queries, k=10).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.75, recall


def test_append_then_search_finds_new_vector(spark, index):
    path, corpus = index
    # a brand-new vector cloned from vec 3 (same direction, scaled):
    # cosine 1.0 with vec 3, so it must appear in vec 3's neighbors
    probe = corpus.where(F.col("vec_id") == 3).first()
    new = spark.createDataFrame(
        [(999_999, [2.0 * x for x in probe["embedding"]])],
        "vec_id long, embedding array<double>",
    )
    append_to_ivf_index(new, path)
    queries = corpus.where(F.col("vec_id") == 3)
    res = search_ivf_index(spark, path, queries, n_probe=4, k=5).collect()
    top = max(res, key=lambda r: r["score"])
    assert top["neighbor_id"] == 999_999
    assert top["score"] == pytest.approx(1.0, abs=1e-5)


def test_stream_ivf_append_makes_batches_searchable(spark, index, tmp_path):
    """Twin #21: two streamed micro-batches of new vectors land in the
    persisted index's cell partitions and are found by search."""
    import os
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from replicadb_spark.streaming.pipeline import stream_ivf_append

    path, corpus = index
    probe = corpus.where(F.col("vec_id") == 7).first()
    src = tmp_path / "vec_stream"
    src.mkdir()
    # batch 0: a clone of vec 7 (must become its top hit);
    # batch 1: an unrelated new vector
    for i, (vid, vec) in enumerate(
        [
            (777_001, [1.5 * x for x in probe["embedding"]]),
            (777_002, [float(j % 5) for j in range(len(probe["embedding"]))]),
        ]
    ):
        tbl = pa.table({
            "vec_id": pa.array([vid], pa.int64()),
            "embedding": pa.array([vec], pa.list_(pa.float64())),
        })
        pq.write_table(tbl, src / f"f{i}.parquet")
        time.sleep(1.05)
        os.utime(src / f"f{i}.parquet")

    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).option("maxFilesPerTrigger", "1").parquet(str(src))
    q = stream_ivf_append(stream, path, str(tmp_path / "ck_ivf"))
    q.awaitTermination(120)

    from replicadb_spark.operators.ann_index import search_ivf_index

    res = search_ivf_index(
        spark, path, corpus.where(F.col("vec_id") == 7), n_probe=4, k=5
    ).collect()
    top = max(res, key=lambda r: r["score"])
    assert top["neighbor_id"] == 777_001
    assert top["score"] == pytest.approx(1.0, abs=1e-5)
    # both streamed vectors are physically in the layout (the shared
    # module index may also hold vec 999999 from the append test, so
    # bound the filter instead of asserting an exact set)
    ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/cells")
        .where((F.col("vec_id") >= 777_000) & (F.col("vec_id") < 999_999))
        .collect()
    }
    assert ids == {777_001, 777_002}


def test_compact_ivf_cells_merges_files_and_preserves_results(spark, tmp_path):
    """VERDICT r6 item 5: per-batch appends fragment cells (one file per
    touched cell per micro-batch); compaction rewrites fragmented cells
    into few files with IDENTICAL search results and corpus contents."""
    import os

    path = str(tmp_path / "frag_idx")
    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    build_ivf_index(corpus, path, n_cells=4)
    # fragment: 5 single-vector appends = up to 5 extra files per cell
    probe = corpus.where(F.col("vec_id") == 11).first()
    for i in range(5):
        new = spark.createDataFrame(
            [(900_000 + i, [(1.0 + 0.01 * i) * x for x in probe["embedding"]])],
            "vec_id long, embedding array<double>",
        )
        append_to_ivf_index(new, path)

    def n_files():
        total = 0
        for d in os.listdir(f"{path}/cells"):
            if d.startswith("cell="):
                total += len([
                    f for f in os.listdir(f"{path}/cells/{d}")
                    if f.endswith(".parquet")
                ])
        return total

    queries = corpus.where(F.col("vec_id") < 5)
    before_res = sorted(
        tuple(r) for r in search_ivf_index(
            spark, path, queries, n_probe=3, k=10
        ).collect()
    )
    before_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["embedding"]))
        for r in spark.read.parquet(f"{path}/cells").collect()
    )
    files_before = n_files()

    stats = compact_ivf_cells(spark, path, target_mb=128)
    files_after = n_files()
    assert stats["cells_compacted"] >= 1
    assert files_after < files_before
    # every fragmented cell collapses to one file at this tiny scale
    for d in os.listdir(f"{path}/cells"):
        if d.startswith("cell="):
            parts = [
                f for f in os.listdir(f"{path}/cells/{d}")
                if f.endswith(".parquet")
            ]
            assert len(parts) == 1, (d, parts)

    after_res = sorted(
        tuple(r) for r in search_ivf_index(
            spark, path, queries, n_probe=3, k=10
        ).collect()
    )
    after_rows = sorted(
        (r["vec_id"], r["cell"], tuple(r["embedding"]))
        for r in spark.read.parquet(f"{path}/cells").collect()
    )
    assert after_res == before_res
    assert after_rows == before_rows
    # no staging/backup residue
    assert not [d for d in os.listdir(path) if d.startswith("__")]


@pytest.fixture(scope="module")
def pq_index(spark, tmp_path_factory):
    """One read-only IVF-PQ layout shared by the tests that only search it."""
    from replicadb_spark.operators.ann_index import build_ivf_pq_index

    path = str(tmp_path_factory.mktemp("ivf_pq") / "pq_idx")
    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    build_ivf_pq_index(corpus, path, n_cells=8, m_sub=16, ks=32)
    return path, corpus


def test_ivf_pq_layout_stores_codes_not_vectors(spark, pq_index):
    """The PQ layout's scan-bytes contract: cells hold (id, codes,
    recon_norm) only — no raw embedding column anywhere in the layout —
    and the probed scan still prunes partitions."""
    from replicadb_spark.operators.ann_index import search_ivf_pq_index

    path, corpus = pq_index
    cells = spark.read.parquet(f"{path}/cells")
    assert set(cells.columns) == {"vec_id", "codes", "recon_norm", "cell"}
    assert cells.count() == corpus.count()
    # codes are m_sub ints each
    row = cells.first()
    assert len(row["codes"]) == 16

    queries = corpus.where(F.col("vec_id") < 5)
    res = search_ivf_pq_index(spark, path, queries, n_probe=6, k=10)
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters"
    )[1][:80]
    assert res.count() > 0


def test_ivf_pq_rerank_recall_vs_bruteforce(spark, pq_index):
    """ADC + exact rerank hits the ann_ivfpq gate's recall bound (0.7)
    through the PERSISTED layout."""
    from replicadb_spark.functions.similarity import knn_bruteforce
    from replicadb_spark.operators.ann_index import search_ivf_pq_index

    path, corpus = pq_index
    queries = corpus.where(F.col("vec_id") < 5)
    got = {
        (r["query_id"], r["neighbor_id"])
        for r in search_ivf_pq_index(
            spark, path, queries, n_probe=6, k=10, rerank=100, corpus=corpus
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_bruteforce(corpus, queries, k=10).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.7, recall


def test_ivf_pq_in_memory_equals_persisted(spark, pq_index):
    """In-memory ann_ivf_pq and the persisted build_ivf_pq_index +
    search_ivf_pq_index(rerank, corpus) compose the same quantizer
    steps (codebook sample, encode, assign, ADC, rerank), so they
    return the same neighbor pairs."""
    from replicadb_spark.functions.similarity import ann_ivf_pq
    from replicadb_spark.operators.ann_index import search_ivf_pq_index

    path, corpus = pq_index
    queries = corpus.where(F.col("vec_id") < 20)
    persisted = {
        (r["query_id"], r["neighbor_id"])
        for r in search_ivf_pq_index(
            spark, path, queries, n_probe=6, k=10, rerank=100, corpus=corpus
        ).collect()
    }
    in_memory = {
        (r["query_id"], r["neighbor_id"])
        for r in ann_ivf_pq(
            corpus, queries, n_cells=8, n_probe=6, k=10, m_sub=16, ks=32,
            rerank=100,
        ).collect()
    }
    assert len(persisted) == 20 * 10
    assert persisted == in_memory


def test_ivf_pq_append_then_search_finds_clone(spark, tmp_path):
    """Frozen-codebook append: a scaled clone of vec 3 lands in the code
    layout and surfaces as its source's top rerank hit (cosine 1.0)."""
    from replicadb_spark.operators.ann_index import (
        append_to_ivf_pq_index,
        build_ivf_pq_index,
        search_ivf_pq_index,
    )

    path = str(tmp_path / "pq_idx")
    corpus = spark.read.parquet(f"{SF}/embeddings.parquet")
    build_ivf_pq_index(corpus, path, n_cells=8, m_sub=16, ks=32)
    probe = corpus.where(F.col("vec_id") == 3).first()
    new = spark.createDataFrame(
        [(999_999, [2.0 * x for x in probe["embedding"]])],
        "vec_id long, embedding array<double>",
    )
    append_to_ivf_pq_index(new, path)
    vec_t = corpus.schema["embedding"].dataType.simpleString()
    full = corpus.select("vec_id", "embedding").union(
        new.select("vec_id", F.col("embedding").cast(vec_t))
    )
    res = search_ivf_pq_index(
        spark,
        path,
        corpus.where(F.col("vec_id") == 3),
        n_probe=4,
        k=5,
        rerank=50,
        corpus=full,
    ).collect()
    top = max(res, key=lambda r: r["score"])
    assert top["neighbor_id"] == 999_999
    assert top["score"] == pytest.approx(1.0, abs=1e-5)


def test_ivf_cell_stats_reports_health(spark, index):
    from replicadb_spark.operators.ann_index import ivf_cell_stats

    path, corpus = index
    rows = ivf_cell_stats(spark, path).collect()
    assert 1 < len(rows) <= 8
    # every corpus vector accounted for (the shared fixture may hold
    # appended vectors from sibling tests too)
    assert sum(r["n_vecs"] for r in rows) >= corpus.count()
    for r in rows:
        assert r["n_files"] >= 1
        # vectors are closer to their own centroid than orthogonal
        assert 0.0 < r["mean_cos_to_centroid"] <= 1.0
