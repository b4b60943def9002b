"""Persisted IVF vector index as a cell-partitioned parquet layout.

The ANN family in functions/similarity.py builds its inverted file
per query run; this module MATERIALIZES it as a table layout so the
index survives across jobs and the probe step becomes Spark partition
pruning:

- ``build``: assign every vector to its nearest coarse cell (the shared
  deterministic quantizer — functions/similarity.coarse_centroids) and
  write the corpus ``partitionBy("cell")``, with the centroid codebook
  as a small sidecar parquet. One layout write; at 100 TB this is the
  same cost as any partitioned-table materialization.
- ``search``: per query, pick the ``n_probe`` nearest cells from the
  (broadcast-size) codebook and scan ONLY those partitions — the
  ``cell IN (...)`` filter prunes at the directory level
  (PartitionFilters in the scan, pinned by the test), so a 1024-cell
  index at n_probe=8 reads <1% of the corpus bytes per query batch.
  Within the probed cells the scoring is the exact broadcast-queries
  kernel (no corpus shuffle), then one top-k window per query.
- ``append``: assign NEW vectors against the FROZEN codebook and
  append into their cell partitions — incremental index maintenance
  with no rebuild (cells drift as the distribution drifts; rebuild
  with fresh centroids when the recall gate drops, the standard IVF
  operational trade, cf. the stream_semantic_dedup fixed-codebook
  contract).

Determinism: the codebook is the deterministic hash-picked quantizer;
assignment ties go to the lower cell id; search output carries the
(score desc, neighbor_id) total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from replicadb_spark.functions.similarity import (
    _collect_centroid_matrix,
    _pq_codebook,
    _pq_encode_cells,
    _pq_sample,
    _pq_search,
    _probe_join,
    _probe_side,
    _top_k,
    assign_cells_kernel,
    coarse_centroids,
    cosine,
)


def _write_cells(
    vecs: DataFrame, path: str, mode: str, id_col: str, vec_col: str, CB=None
) -> None:
    """Assign ``vecs`` against the persisted coarse codebook with the
    shared zero-shuffle kernel and write them into their cell
    partitions: the raw vectors, or — given a PQ codebook ``CB`` — only
    their (codes, recon_norm)."""
    _, cells, Cn = _collect_centroid_matrix(
        vecs.sparkSession.read.parquet(f"{path}/codebook")
    )
    if CB is None:
        out = assign_cells_kernel(
            vecs, cells, Cn, id_col=id_col, vec_col=vec_col, keep_vec=True
        ).toDF(id_col, "cell", vec_col)
    else:
        out = _pq_encode_cells(
            vecs, cells, Cn, CB, id_col=id_col, vec_col=vec_col
        ).withColumnRenamed("__vid", id_col)
    out.write.mode(mode).partitionBy("cell").parquet(f"{path}/cells")


def build_ivf_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    lloyd_iters: int = 0,
) -> None:
    """Materialize the IVF layout: ``path/codebook`` (n_cells rows) and
    ``path/cells`` partitioned by cell."""
    cents = coarse_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        lloyd_iters=lloyd_iters,
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")
    _write_cells(corpus, path, "overwrite", id_col, vec_col)


def append_to_ivf_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance: assign against the FROZEN codebook and
    append into the cell partitions (dynamic partition append — only
    the touched cells gain files). New vectors are cast to the INDEX's
    stored vector type first — mixed float/double element types across
    part-files would fail every later scan."""
    spark = new_vecs.sparkSession
    stored_t = (
        spark.read.parquet(f"{path}/cells")
        .schema[vec_col]
        .dataType.simpleString()
    )
    new_vecs = new_vecs.withColumn(vec_col, F.col(vec_col).cast(stored_t))
    _write_cells(new_vecs, path, "append", id_col, vec_col)


def compact_ivf_cells(
    spark: SparkSession,
    path: str,
    *,
    target_mb: int = 128,
    min_files: int = 2,
) -> dict:
    """Layout maintenance: rewrite fragmented cell partitions into
    ~``target_mb`` files. Streaming appends add one file per touched
    cell per micro-batch (``append_to_ivf_index``); at production
    cadence a cell accumulates thousands of small files and the pruned
    scan degrades to open-file overhead. Compaction rewrites ONLY the
    cells with ≥ ``min_files`` part-files — each cell is read, coalesced
    to ``ceil(bytes / target_mb)`` files, written to a staging dir, and
    swapped in with an atomic directory rename. The codebook and the
    vectors are untouched: search results are identical pre/post (the
    test pins byte-identical result sets).

    Scale: cost is proportional to the FRAGMENTED cells' bytes only —
    untouched cells are never read (the zorder/manifest maintenance
    family's contract). Each cell rewrite is an independent pruned
    scan → coalesce → write; no shuffle, no global pass.

    Returns {"cells_compacted": n, "files_before": a, "files_after": b}.

    ``subdir``/``prefix`` generalize the maintenance to any
    hive-partitioned layout under ``path`` — operators/dedup_index
    reuses it for the band-partitioned MinHash bucket store.
    """
    return compact_partition_dirs(
        spark, path, subdir="cells", prefix="cell=",
        target_mb=target_mb, min_files=min_files,
    )


def compact_partition_dirs(
    spark: SparkSession,
    path: str,
    *,
    subdir: str,
    prefix: str,
    target_mb: int = 128,
    min_files: int = 2,
) -> dict:
    """Generic per-partition-directory compaction (see
    :func:`compact_ivf_cells` for the contract): rewrite each
    ``path/subdir/<prefix>*`` directory holding ≥ min_files part-files
    into ~target_mb files via staged write + atomic rename swap. All
    listing/rename/delete goes through the Hadoop FileSystem
    (replicadb_spark.fs), so the layout may live on any Spark-readable
    URI."""
    import math

    from replicadb_spark.fs import TableFS
    from replicadb_spark.fs import join as fs_join

    fs = TableFS(spark, path)
    cells_dir = fs_join(path, subdir)
    stats = {"cells_compacted": 0, "files_before": 0, "files_after": 0}
    for d in fs.list_names(cells_dir):
        if not d.startswith(prefix):
            continue
        cell_path = fs_join(cells_dir, d)
        parts = {
            f: sz
            for f, sz in fs.glob(fs_join(cell_path, "*.parquet"))
            if not f.rsplit("/", 1)[-1].startswith((".", "_"))
        }
        stats["files_before"] += len(parts)
        if len(parts) < min_files:
            stats["files_after"] += len(parts)
            continue
        nbytes = sum(parts.values())
        n_out = max(1, math.ceil(nbytes / (target_mb * 1024 * 1024)))
        # stage OUTSIDE cells/ so a concurrent partition discovery never
        # sees a half-written "cell=N.__compact__" directory
        staged = fs_join(path, f"__compact__{d}")
        fs.delete(staged, recursive=True)
        # one pruned single-partition read; the partition column is
        # constant inside the directory so it is dropped and re-derived
        # by the directory name on read
        spark.read.parquet(cell_path).coalesce(n_out).write.mode(
            "overwrite"
        ).parquet(staged)
        old = fs_join(path, f"__old__{d}")
        fs.delete(old, recursive=True)
        fs.rename_no_overwrite(cell_path, old)
        fs.rename_no_overwrite(staged, cell_path)
        fs.delete(old, recursive=True)
        # drop the _SUCCESS marker so the directory looks like any
        # other dynamic-partition output
        fs.delete(fs_join(cell_path, "_SUCCESS"))
        stats["files_after"] += len(fs.glob(fs_join(cell_path, "*.parquet")))
        stats["cells_compacted"] += 1
    return stats


def _probe_frame(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    n_probe: int,
):
    """Probe selection against the persisted codebook with the shared
    assignment kernel. Returns (probes, probe_ids): the
    (query_id, cell, q_vec) probe rows and the distinct probed cell ids
    (≤ n_cells ints, the only driver-side collect)."""
    _, cells, Cn = _collect_centroid_matrix(spark.read.parquet(f"{path}/codebook"))
    probes = _probe_side(
        queries, cells, Cn, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    )
    probe_ids = sorted(
        r["cell"] for r in probes.select("cell").distinct().collect()
    )
    return probes, probe_ids


def _probed_cells(
    spark: SparkSession, path: str, probe_ids: list, id_col: str
) -> DataFrame:
    """ONE pruned partitioned scan: ``cell IN (...)`` reaches
    PartitionFilters, so only the probed cell directories are read."""
    return (
        spark.read.parquet(f"{path}/cells")
        .where(F.col("cell").isin(probe_ids))
        .withColumnRenamed(id_col, "neighbor_id")
    )


def _empty_result(spark: SparkSession, queries: DataFrame, id_col: str) -> DataFrame:
    id_t = dict(queries.dtypes)[id_col]
    return spark.createDataFrame(
        [], f"query_id {id_t}, neighbor_id {id_t}, score double"
    )


def search_ivf_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
    k: int = 10,
) -> DataFrame:
    """Probe-and-scan: union of the query batch's n_probe cells → ONE
    pruned partitioned scan (`cell IN (...)` reaches PartitionFilters)
    → broadcast-queries exact scoring inside EACH query's own probed
    cells (equi-join on cell — proper per-query IVF semantics) → top-k
    window per query. Returns (query_id, neighbor_id, score 6dp).

    Probe selection runs INSIDE an Arrow kernel (the ≤n_cells codebook
    rides the closure); only the DISTINCT probed cell ids — at most
    n_cells ints — are collected to build the partition-pruning
    literal. Query vectors never touch the driver, so the batch can be
    arbitrarily large. An empty query batch returns an empty frame."""
    probes, probe_ids = _probe_frame(spark, path, queries, id_col, vec_col, n_probe)
    if not probe_ids:
        return _empty_result(spark, queries, id_col)

    cand = _probe_join(_probed_cells(spark, path, probe_ids, id_col), probes)
    scored = cand.select(
        "query_id",
        "neighbor_id",
        (
            F.aggregate(
                F.zip_with(vec_col, "q_vec", lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.greatest(
                F.sqrt(
                    F.aggregate(
                        F.transform(vec_col, lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                )
                * F.sqrt(
                    F.aggregate(
                        F.transform("q_vec", lambda x: x * x),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    )
                ),
                F.lit(1e-12),
            )
        ).alias("score"),
    )
    return _top_k(scored, k).select(
        "query_id", "neighbor_id", F.round("score", 6).alias("score")
    )


# ---------------------------------------------------------------------------
# IVF-PQ persisted layout: the cells hold product-quantization CODES
# (m_sub small ints + one recon norm per vector ≈ 16-70 B) instead of raw
# float vectors (256-512 B) — the scan-bytes answer at 100 TB: directory
# pruning cuts WHICH cells are read, PQ cuts HOW MUCH each cell weighs.
# ---------------------------------------------------------------------------


def _load_pq(spark: SparkSession, path: str):
    """The (m_sub, ks_eff, dsub) PQ codebook from the persisted
    pq_codebook + pq_meta sidecars."""
    m_sub = spark.read.parquet(f"{path}/pq_meta").first()["m_sub"]
    rows = spark.read.parquet(f"{path}/pq_codebook").orderBy("b").collect()
    return _pq_codebook([r["sv"] for r in rows], m_sub)


def build_ivf_pq_index(
    corpus: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    m_sub: int = 16,
    ks: int = 32,
    seed: int = 7,
    lloyd_iters: int = 0,
) -> None:
    """Materialize the IVF-PQ layout: ``path/codebook`` (coarse cells),
    ``path/pq_codebook`` + ``path/pq_meta`` (PQ sidecars), and
    ``path/cells`` partitioned by cell holding (id, codes, recon_norm)
    ONLY — raw vectors never enter the layout, so a 64-dim float64
    corpus (512 B/row) stores as m_sub=16 int codes + one double
    (~70 B parquet-encoded; int8-width codes once ks ≤ 256 dictionary-
    encode far smaller). Search reads n_probe/n_cells of THAT.

    Citation: this is functions/similarity.ann_ivf_pq with parquet
    between its steps — the same code samples the codebook, encodes,
    assigns cells, scores with ADC and reranks; this module only
    persists the stages the way build_ivf_index persists ann_ivf."""
    spark = corpus.sparkSession
    cents = coarse_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        lloyd_iters=lloyd_iters,
    )
    cents.coalesce(1).write.mode("overwrite").parquet(f"{path}/codebook")

    sample = _pq_sample(corpus, id_col, vec_col, ks, seed)
    CB = _pq_codebook([r["sv"] for r in sample], m_sub)
    spark.createDataFrame(
        [(r["b"], [float(x) for x in r["sv"]]) for r in sample],
        "b int, sv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_codebook")
    spark.createDataFrame(
        [(m_sub, ks, CB.shape[0] * CB.shape[2])], "m_sub int, ks int, dim int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/pq_meta")
    _write_cells(corpus, path, "overwrite", id_col, vec_col, CB)


def append_to_ivf_pq_index(
    new_vecs: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental maintenance with BOTH codebooks frozen: coarse-assign
    and PQ-encode the new vectors, append into touched cell partitions
    (same operational contract as append_to_ivf_index — rebuild when
    the recall gate drops)."""
    CB = _load_pq(new_vecs.sparkSession, path)
    _write_cells(new_vecs, path, "append", id_col, vec_col, CB)


def search_ivf_pq_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 3,
    k: int = 10,
    rerank: int = 0,
    corpus: DataFrame | None = None,
) -> DataFrame:
    """Probe → pruned CODES scan → ADC scoring → top-k; optionally
    exact-rescore the ADC shortlist against the raw ``corpus`` (the
    standard retrieve+rerank, rerank ≥ k candidates per query).

    Plan shape: the probed-cell scan reads codes-only bytes
    (PartitionFilters prune directories, the column set is
    (id, codes, recon_norm)); ADC is one Arrow kernel with a per-query
    (m_sub × ks) LUT; the rerank joins a broadcast shortlist of
    ≤ rerank·|queries| ids against the corpus — the corpus itself
    never shuffles. ADC and rerank are functions/similarity.ann_ivf_pq's
    own steps; this projection rounds scores to 6 dp and drops the rank.
    Empty query batches return an empty frame."""
    CB = _load_pq(spark, path)
    probes, probe_ids = _probe_frame(spark, path, queries, id_col, vec_col, n_probe)
    if not probe_ids:
        return _empty_result(spark, queries, id_col)

    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    out = _pq_search(
        _probe_join(_probed_cells(spark, path, probe_ids, id_col), probes),
        CB, k=k, rerank=rerank, corpus=corpus if rerank > 0 else None,
        q_vecs=q_vecs, id_col=id_col, vec_col=vec_col,
    )
    return out.select("query_id", "neighbor_id", F.round("score", 6).alias("score"))


def ivf_cell_stats(
    spark: SparkSession,
    path: str,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Operational health of the persisted IVF layout — the numbers the
    rebuild decision needs (the frozen-codebook trade documented on
    ``append_to_ivf_index``): per cell, how many vectors it holds, how
    many part-files it has fragmented into, and the mean cosine of its
    vectors to their own centroid (assignment tightness — drifting data
    pulls this down; rebuild with fresh centroids when it sags or when
    cell sizes skew).

    Returns (cell, n_vecs, n_files, mean_cos_to_centroid) — one row per
    cell, bounded by n_cells. ONE pruned scan + one groupBy(cell)
    aggregate; the codebook joins in as a broadcast. File counts come
    from one Hadoop-FS glob over the cell directories (the same
    bounded listing compaction does; any Spark-readable URI)."""
    from replicadb_spark.fs import TableFS
    from replicadb_spark.fs import join as fs_join

    fs = TableFS(spark, path)
    counts: dict[int, int] = {}
    for f, _sz in fs.glob(fs_join(path, "cells", "cell=*", "*.parquet")):
        cell = int(f.rsplit("/", 2)[-2].split("=", 1)[1])
        counts[cell] = counts.get(cell, 0) + 1
    files_df = spark.createDataFrame(
        sorted(counts.items()), "cell int, n_files int"
    )
    cells = spark.read.parquet(f"{path}/cells")
    cents = spark.read.parquet(f"{path}/codebook")
    stats = (
        cells.join(F.broadcast(cents), "cell")
        .select("cell", cosine(F.col(vec_col), F.col("cent_vec")).alias("cos"))
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("cos"), 6).alias("mean_cos_to_centroid"),
        )
    )
    return (
        stats.join(F.broadcast(files_df), "cell")
        .select("cell", "n_vecs", "n_files", "mean_cos_to_centroid")
        .orderBy("cell")
    )
