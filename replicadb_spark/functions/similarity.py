"""Similarity search over embedding columns (array<float>).

- Brute-force cosine top-k: broadcast the (small) query set, score every
  corpus vector with JVM-side array expressions (zip_with + aggregate —
  sequential fold, deterministic), window top-k per query. At 100 TB the
  corpus side never shuffles: it streams through a broadcast-join +
  partial top-k.
- LSH (random hyperplane) buckets: the approximate scale path — sign-bit
  signatures on deterministic hyperplanes, candidates share a bucket.
- Embedding near-dup: all-pairs within LSH buckets, cosine threshold.

All float math is widened to double before multiplication so the fold is
bit-reproducible across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (deterministic order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; zero-norm vectors score NULL instead of
    raising under ANSI mode (try_divide). NULL — not 0.0 — so the
    (score desc) rankings agree with the SQL oracles: both engines
    sort nulls LAST, whereas a 0.0 would rank a degenerate vector
    above genuinely negative-similarity neighbors on the Spark side
    only. Identical to the unguarded division whenever both norms are
    positive, so gated results are unchanged."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    label_col: str | None = None,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Plan (r17, guide §4.2): the bounded query set is collected to the
    driver (the codebook/broadcast precedent — the same memory class as
    the broadcast relation the old crossJoin built) and its matrix
    rides the scoring closure; the corpus streams through ONE Arrow
    pass that scores a whole batch against every query with one
    einsum product and keeps only its local top-k per query. The corpus
    is never joined and never shuffled — the only exchange is the
    final ≤ k·partitions·|queries|-row ranking window on query_id.
    (The prior shape scored the broadcast crossJoin with the
    interpreted zip_with/aggregate fold — per-row expression
    interpretation over |corpus|·|queries| rows was the whole cost.)
    Excludes self-matches. Returns (query_id, neighbor_id, score) with
    deterministic (score desc, id asc) ranking; NaN scores rank first
    (Spark NaN-greatest), zero-norm vectors score null and rank last,
    matching `cosine`'s try_divide contract exactly.

    Float note: scores are double einsum products where the old fold
    summed in a different order — identical inputs, ±1e-15 on the
    sum, but the same bits for a vector wherever it sits in a batch.
    Every gated consumer rounds scores to 4 dp and ranks with an
    id tiebreak, the same margin calculus the catalog's other float
    scores document (and the cross-engine DuckDB comparison already
    tolerated a different summation order than the fold's).
    """
    import numpy as np
    import pandas as pd

    if exclude_same_label and label_col is None:
        raise ValueError("exclude_same_label requires label_col")
    q_cols = [F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")]
    c_cols = [F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec")]
    if exclude_same_label:
        q_cols.append(F.col(label_col).alias("q_label"))
        c_cols.append(F.col(label_col).alias("c_label"))
    q = queries.select(*q_cols)
    c = corpus.select(*c_cols)
    q_t = q.schema["query_id"].dataType.simpleString()
    c_t = c.schema["neighbor_id"].dataType.simpleString()

    q_rows = q.collect()  # bounded query set — the broadcast precedent
    spark = corpus.sparkSession
    if not q_rows:
        return spark.createDataFrame(
            [], f"query_id {q_t}, neighbor_id {c_t}, score double, rank int"
        )
    qids = np.array([r["query_id"] for r in q_rows], dtype=object)
    Q = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    qn = np.linalg.norm(Q, axis=1)
    q_labels = (
        np.array([r["q_label"] for r in q_rows], dtype=object)
        if exclude_same_label
        else None
    )
    nq = len(qids)

    # a narrow input (single parquet file → one partition) would score
    # the whole corpus on one core; fan out to cluster width (no-op
    # when the corpus is already wider)
    width = c.sparkSession.sparkContext.defaultParallelism
    if c.rdd.getNumPartitions() < width:
        c = c.repartition(width)

    # One Arrow pass: batch matmul scoring + running local top-k. The
    # task keeps ≤ k rows per query under the exact global order the
    # final window uses — (NaN first, finite desc, null last, id asc)
    # — so the global top-k of the reduced set is provably the global
    # top-k of the full set. In pandas both NaN and null are NaN; the
    # score_nan flag separates them (flag desc ⇒ true-NaN rows first,
    # null rows sort last via na_position). Id columns keep their
    # input types (derived above, not hard-coded).
    def score_topk(batches):
        best: "pd.DataFrame | None" = None
        for pdf in batches:
            if not len(pdf):
                continue
            C = np.array(pdf["c_vec"].tolist(), dtype=np.float64)
            cn = np.linalg.norm(C, axis=1)
            denom = cn[:, None] * qn[None, :]
            # einsum, not BLAS `C @ Q.T`: BLAS blocks the product by
            # batch shape, so an identical vector would score
            # differently in the last ulp depending on its batch and
            # hide the tie from the id tiebreak; einsum's per-element
            # loop does not depend on position or batch size
            with np.errstate(invalid="ignore", divide="ignore"):
                S = np.einsum("nd,qd->nq", C, Q) / denom
            # try_divide semantics: divisor exactly 0 → NULL (never
            # ±inf); NaN from NaN-element vectors propagates as NaN
            null_m = denom == 0.0
            nan_m = np.isnan(S) & ~null_m
            S = np.where(null_m, np.nan, S)

            b = len(pdf)
            nids = pdf["neighbor_id"].to_numpy()
            nid_rep = np.repeat(nids, nq)
            qid_til = np.tile(qids, b)
            # Spark `!=`: a null id never matches (row dropped)
            keep = np.asarray(nid_rep != qid_til, dtype=bool)
            keep &= ~pd.isna(nid_rep) & ~pd.isna(qid_til)
            if exclude_same_label:
                cl = pd.Series(np.repeat(pdf["c_label"].to_numpy(), nq))
                ql = pd.Series(np.tile(q_labels, b))
                same = ((cl.isna() & ql.isna()) | (cl == ql)).fillna(False)
                keep &= ~same.to_numpy()  # ~eqNullSafe
            cand = pd.DataFrame(
                {
                    "query_id": qid_til[keep],
                    "neighbor_id": nid_rep[keep],
                    "score": S.ravel()[keep],
                    "score_nan": nan_m.ravel()[keep],
                }
            )
            merged = (
                cand if best is None else pd.concat((best, cand), ignore_index=True)
            )
            merged = merged.sort_values(
                ["query_id", "score_nan", "score", "neighbor_id"],
                ascending=[True, False, False, True],
                kind="mergesort",
                na_position="last",
            )
            best = merged.groupby("query_id", sort=False).head(k)
        if best is not None:
            yield best

    reduced = c.select("neighbor_id", "c_vec", *(
        ["c_label"] if exclude_same_label else []
    )).mapInPandas(
        score_topk,
        schema=f"query_id {q_t}, neighbor_id {c_t}, score double, score_nan boolean",
    )
    restored = reduced.withColumn(
        "score",
        F.when(F.col("score_nan"), F.lit(float("nan"))).otherwise(F.col("score")),
    )
    return _top_k(restored, k)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, score) → each query's k best with a
    1-based rank, under the ANN family's one total order: score desc
    (NaN first, NULL last — Spark's desc), then neighbor_id asc."""
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 13) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in {-1,+1}^dim from a
    MINSTD stream — integer-derived so every engine reproduces them."""
    state = seed % 2147483647 or 1
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 48271) % 2147483647
            row.append(1.0 if state % 2 else -1.0)
        planes.append(row)
    return planes


def _signature_from(vec: Column, planes: list[list[float]]) -> Column:
    """Bucket id from explicit ±1 hyperplanes: bit i = sign(<v, h_i>)."""
    acc = F.lit(0).cast("long")
    for plane in planes:
        pl = F.array(*[F.lit(x) for x in plane])
        d = F.aggregate(
            F.zip_with(vec, pl, lambda x, h: x.cast("double") * h),
            F.lit(0.0), lambda a, v: a + v,
        )
        acc = acc * 2 + F.when(d > 0, F.lit(1)).otherwise(F.lit(0))
    return acc


def lsh_tables(vec: Column, dim: int, n_tables: int, bits: int, seed: int = 13) -> Column:
    """Multi-table LSH keys: array of ``table_id·2^(bits+1) + bucket``
    longs, one per table (one contiguous plane stream split across
    tables). OR-amplification (candidate if ANY table collides) — the
    sign-random-projection analog of MinHash banding; essential when
    neighbors sit at moderate cosine, where a single table's AND-only
    collision probability collapses."""
    planes = _hyperplanes(dim, n_tables * bits, seed)
    keys = []
    for t in range(n_tables):
        sig = _signature_from(vec, planes[t * bits : (t + 1) * bits])
        keys.append(F.lit(t).cast("long") * (1 << (bits + 1)) + sig)
    return F.array(*keys)


def ann_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_tables: int = 12,
    bits: int = 6,
    k: int = 10,
    seed: int = 13,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of n_tables hyperplane
    buckets; exact cosine ranks the candidates.

    Scale: corpus explodes to n_tables skinny (key, id) rows and joins the
    broadcast query keys — O(n · n_tables / 2^bits) scored pairs instead
    of O(n·q) brute force; the corpus vectors themselves never shuffle
    (the candidate ids semi-join back to the corpus on id)."""
    import numpy as np
    import pandas as pd

    planes = np.array(_hyperplanes(dim, n_tables * bits, seed))  # (T·b, dim)
    pow2 = 2 ** np.arange(bits)[::-1]

    def keyser(out_col):
        def gen(batches):
            for pdf in batches:
                if not len(pdf):
                    continue
                vecs = np.asarray(
                    [np.asarray(v, dtype=np.float64) for v in pdf["v"]]
                )
                sig = (vecs @ planes.T > 0).astype(np.int64)  # (n, T·b)
                sig = sig.reshape(len(pdf), n_tables, bits)
                buckets = (sig * pow2).sum(axis=2)            # (n, T)
                buckets += np.arange(n_tables, dtype=np.int64) * (1 << (bits + 1))
                ids = np.repeat(np.asarray(pdf["id"].values, dtype=np.int64), n_tables)
                yield pd.DataFrame({out_col: ids, "bucket": buckets.reshape(-1)})

        return gen

    # one numpy matmul per Arrow batch replaces T·b interpreted
    # aggregate() plane-dots per row (the JVM HOF form is expression-
    # interpreted); same ±1 planes, so buckets are deterministic
    c = corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
    q = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
    c_keys = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(keyser("neighbor_id"), schema="neighbor_id long, bucket long")
    q_keys = queries.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInPandas(keyser("query_id"), schema="query_id long, bucket long")
    cand = (
        c_keys.join(F.broadcast(q_keys), "bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = (
        cand.join(c, "neighbor_id")
        .join(F.broadcast(q), "query_id")
        .select("query_id", "neighbor_id", cosine(F.col("q_vec"), F.col("c_vec")).alias("score"))
    )
    return _top_k(scored, k)


def coarse_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    lloyd_iters: int = 0,
) -> DataFrame:
    """Deterministic coarse quantizer behind every consumer of the
    quantizer core below: one hash-picked representative vector per
    cell (member with the smallest xxhash64(id), ties by min id via the
    struct-min), optionally refined by ``lloyd_iters`` textbook
    distributed k-means steps (broadcast-assign, ONE shuffle per step
    to average members, id-sorted fold for bit-deterministic means,
    empty cells keep their previous centroid).

    Returns DataFrame(cell int, cent_vec array) — tiny, meant to be
    broadcast by callers. ONE map-side-combined hash aggregate; no
    count(), no global sort, no single-partition exchange."""
    import numpy as np
    import pandas as pd

    centroids = (
        corpus.select(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_cells)).cast("int").alias("cell"),
            F.struct(
                F.xxhash64(F.col(id_col), F.lit(1)).alias("__h"),
                F.col(id_col).alias("__cid"),
                F.col(vec_col).alias("__cv"),
            ).alias("__pick"),
        )
        .groupBy("cell")
        .agg(F.min("__pick").alias("__pick"))
        .select("cell", F.col("__pick.__cv").alias("cent_vec"))
    )

    vec_t = corpus.schema[vec_col].dataType.simpleString()

    def _cell_mean(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__vid")  # fixed fold order → deterministic mean
        M = np.array(pdf["__v"].tolist(), dtype=np.float64)
        return pd.DataFrame(
            {"cell": [pdf["cell"].iloc[0]], "mean_vec": [(M.sum(axis=0) / len(M))]}
        )

    # Lloyd steps (r18): per iteration the CURRENT centroids — bounded
    # at n_cells rows by construction — are collected and the
    # broadcast-assign runs as the zero-shuffle Arrow argmax kernel
    # (assign_cells_kernel) instead of the crossJoin + per-vector
    # window: same (cosine desc, cell asc) assignment, no per-vector
    # window exchange and no interpreted per-pair cosine fold. The
    # empty-cells-keep-previous left join stays against the LAZY
    # previous-centroid plan, exactly as before (a createDataFrame of
    # the collected rows measured 4-7 s per materialization on the
    # pickled-local-RDD path — far worse than re-running the bounded
    # centroid aggregate). The id-sorted per-cell mean is unchanged.
    for _ in range(lloyd_iters):
        crows, cells_arr, Cn = _collect_centroid_matrix(centroids)
        assigned = assign_cells_kernel(
            corpus, cells_arr, Cn,
            id_col=id_col, vec_col=vec_col, top=1, keep_vec=True,
        ).select("cell", "__vid", "__v")
        # pin the mean aggregation's exchange to the ACTUAL cell count:
        # a downstream user coalesce/repartition (ann_index writes the
        # codebook with coalesce(1)) disables AQE for the query, and
        # the static shuffle.partitions would then spawn one Python
        # applyInPandas task per partition — mostly empty ones. n_cells
        # is bounded, so this is exact sizing, not a local-mode tune;
        # groupBy reuses the same hash partitioning (no extra shuffle).
        means = assigned.repartition(len(crows), "cell").groupBy("cell").applyInPandas(
            _cell_mean, schema=f"cell int, mean_vec {vec_t}"
        )
        centroids = (
            centroids.join(means, "cell", "left")
            .select("cell", F.coalesce("mean_vec", "cent_vec").alias("cent_vec"))
        )
    return centroids


# ---------------------------------------------------------------------------
# The vector-quantizer core. Every quantizer consumer — ann_ivf,
# ann_ivf_pq, the persisted IVF / IVF-PQ indexes (operators/ann_index),
# semantic_dedup and stream_semantic_dedup — runs the steps below, so the
# decisions they share live here once:
#
# - the zero-norm rule (_unit_rows): a zero vector normalizes to itself
#   and scores 0.0 against everything;
# - the cell-assignment rule (_nearest_cells): cosine desc, ties to the
#   lower cell, zero vectors to the lowest cell;
# - the PQ code format (_pq_encode_cells): m_sub int codes plus the
#   reconstruction norm, scored by _pq_adc.
# ---------------------------------------------------------------------------


def _unit_rows(M):
    """Row-normalize ``M`` under the zero-norm rule: a zero row divides
    by 1.0 and stays zero, so it is similar to nothing and ties across
    every cell."""
    import numpy as np

    n = np.linalg.norm(M, axis=-1, keepdims=True)
    n[n == 0.0] = 1.0
    return M / n


def _centroid_matrix(rows):
    """(cell ids, row-normalized matrix) from (cell, vector) pairs. The
    given order is the column order, which breaks score ties."""
    import numpy as np

    cells = np.array([c for c, _ in rows])
    return cells, _unit_rows(np.array([v for _, v in rows], dtype=np.float64))


def _collect_centroid_matrix(centroids: DataFrame):
    """Collect the BOUNDED centroid table (n_cells rows — the codebook
    precedent) in cell order as (rows, cell ids, row-normalized matrix)
    for the zero-shuffle Arrow assignment kernel."""
    crows = centroids.orderBy("cell").collect()
    return (crows, *_centroid_matrix([(r["cell"], r["cent_vec"]) for r in crows]))


def _nearest_cells(M, Cn, top: int):
    """Column indexes of each row's ``top`` nearest cells by cosine.
    Columns are cell-ordered, so ``argmax`` (first maximal column) and
    the stable ``argsort(-S)`` both send equal scores to the lower cell;
    a zero row scores 0.0 everywhere and lands in the lowest cell."""
    import numpy as np

    S = _unit_rows(M) @ Cn.T
    if top == 1:
        return S.argmax(axis=1)[:, None]
    return np.argsort(-S, axis=1, kind="stable")[:, :top]


def assign_cells_kernel(
    df: DataFrame,
    cells,
    Cn,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    top: int = 1,
    keep_vec: bool = False,
):
    """Nearest-cell assignment against a COLLECTED centroid matrix: ONE
    zero-shuffle, zero-join Arrow pass (guide §4.2) returning each
    vector's ``top`` nearest cells under the ``_nearest_cells`` rule.
    Returns (__vid, cell[, __v when keep_vec]); equivalence to a
    crossJoin + per-vector-window reference (zero vectors: NULL cosine
    ranks last there, the same lowest cell) is pinned by
    tests/test_similarity.py."""
    import numpy as np
    import pandas as pd

    id_t = dict(df.dtypes)[id_col]
    vec_t = df.schema[vec_col].dataType.simpleString()

    def go(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.array(pdf["__v"].tolist(), dtype=np.float64)
            idx = _nearest_cells(M, Cn, top)
            n = idx.shape[1]
            out = {
                "__vid": np.repeat(pdf["__vid"].values, n),
                "cell": cells[idx].ravel(),
            }
            if keep_vec:
                out["__v"] = pdf["__v"].iloc[
                    np.repeat(np.arange(len(pdf)), n)
                ].values
            yield pd.DataFrame(out)

    schema = f"__vid {id_t}, cell int"
    if keep_vec:
        schema += f", __v {vec_t}"
    return df.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    ).mapInPandas(go, schema=schema)


def _probe_side(
    queries: DataFrame, cells, Cn, *, id_col: str, vec_col: str, n_probe: int
) -> DataFrame:
    """(query_id, cell, q_vec): one row per probed cell of each query."""
    return assign_cells_kernel(
        queries, cells, Cn, id_col=id_col, vec_col=vec_col,
        top=n_probe, keep_vec=True,
    ).toDF("query_id", "cell", "q_vec")


def _probe_join(cell_rows: DataFrame, probes: DataFrame) -> DataFrame:
    """Candidates: every (neighbor_id, cell, …) row inside one of a
    query's probed cells, self-matches dropped. The probe side is
    ≤ n_probe·|queries| rows and broadcast; the corpus never shuffles."""
    return cell_rows.join(F.broadcast(probes), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )


def _pq_sample(corpus: DataFrame, id_col: str, vec_col: str, ks: int, seed: int):
    """The PQ codebook sample: ≤ ks hash-picked corpus vectors as
    (b, sv) rows in b order — one bounded driver collect, constant size
    regardless of corpus size."""
    rows = (
        corpus.select(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(ks)).cast("int").alias("b"),
            F.struct(
                F.xxhash64(F.col(id_col), F.lit(seed + 1)).alias("__h"),
                F.col(id_col).alias("__sid"),
                F.col(vec_col).alias("__sv"),
            ).alias("__pick"),
        )
        .groupBy("b")
        .agg(F.min("__pick").alias("__pick"))
        .select("b", F.col("__pick.__sv").alias("sv"))
        .collect()
    )
    return sorted(rows, key=lambda r: r["b"])


def _pq_codebook(vectors, m_sub: int):
    """Sampled vectors → the (m_sub, ks_eff, dsub) codebook; ks_eff may
    be < ks on tiny corpora."""
    import numpy as np

    S_ = np.array(vectors, dtype=np.float64)
    dim = S_.shape[1]
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    return np.ascontiguousarray(
        S_.reshape(len(S_), m_sub, dim // m_sub).transpose(1, 0, 2)
    )


def _pq_encode_cells(
    df: DataFrame, cells, Cn, CB, *, id_col: str, vec_col: str
) -> DataFrame:
    """ONE Arrow pass: (id, vec) → (__vid, cell, codes, recon_norm) —
    the nearest coarse cell plus the PQ code (per subvector, the nearest
    codeword) and |x̂|, the norm of the PQ reconstruction."""
    import numpy as np
    import pandas as pd

    m_sub, _, dsub = CB.shape
    cb_norms_sq = (CB ** 2).sum(axis=2)  # (m_sub, ks_eff)
    id_t = dict(df.dtypes)[id_col]

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["__v"].tolist(), dtype=np.float64)  # (n, dim)
            # (n, m_sub, ks): ||x_m - c_j||² = |x|² - 2 x·c + |c|²; the
            # |x|² term is constant per (row, m) → argmin over -2x·c+|c|²
            dots = np.einsum("nmd,mkd->nmk", X.reshape(len(X), m_sub, dsub), CB)
            code = (cb_norms_sq[None, :, :] - 2.0 * dots).argmin(axis=2)
            recon_sq = cb_norms_sq[np.arange(m_sub)[None, :], code].sum(axis=1)
            yield pd.DataFrame({
                "__vid": pdf["__vid"].values,
                "cell": cells[_nearest_cells(X, Cn, 1)[:, 0]],
                "codes": list(code.astype(np.int32)),
                "recon_norm": np.sqrt(recon_sq),
            })

    return df.select(
        F.col(id_col).alias("__vid"), F.col(vec_col).alias("__v")
    ).mapInPandas(
        encode, schema=f"__vid {id_t}, cell int, codes array<int>, recon_norm double"
    )


def _pq_adc(cand: DataFrame, CB) -> DataFrame:
    """ADC scores for (query_id, neighbor_id, codes, recon_norm, q_vec)
    candidates: each query builds its (m_sub × ks) lookup table of
    subvector dot products ONCE per task, and a candidate scores by
    fancy-indexed LUT sums, dot(q, x̂) / (|q|·|x̂|) — no float decode of
    the corpus. A zero denominator scores 0.0."""
    import numpy as np
    import pandas as pd

    m_sub, _, dsub = CB.shape
    types = dict(cand.dtypes)

    def adc(batches):
        luts: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            out = np.empty(len(pdf), dtype=np.float64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            recon = pdf["recon_norm"].values
            qids = pdf["query_id"].values
            for qid in pd.unique(qids):
                sel = qids == qid
                if qid not in luts:
                    qv = np.array(pdf["q_vec"].values[sel][0], dtype=np.float64)
                    luts[qid] = (
                        np.einsum("md,mkd->mk", qv.reshape(m_sub, dsub), CB),
                        float(np.sqrt((qv ** 2).sum())),
                    )
                lut, qn = luts[qid]
                dots = lut[np.arange(m_sub)[None, :], codes[sel]].sum(axis=1)
                denom = qn * recon[sel]
                with np.errstate(divide="ignore", invalid="ignore"):
                    out[sel] = np.where(denom > 0, dots / denom, 0.0)
            yield pd.DataFrame({
                "query_id": pdf["query_id"].values,
                "neighbor_id": pdf["neighbor_id"].values,
                "score": out,
            })

    return cand.select(
        "query_id", "neighbor_id", "codes", "recon_norm", "q_vec"
    ).mapInPandas(
        adc,
        schema=f"query_id {types['query_id']}, neighbor_id {types['neighbor_id']}, "
        "score double",
    )


def _pq_search(
    cand: DataFrame,
    CB,
    *,
    k: int,
    rerank: int,
    corpus: DataFrame | None,
    q_vecs: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """ADC-score the probed candidates, then rank. Without a ``corpus``
    the ADC top-k is the answer; with one, the top max(rerank, k) ADC
    shortlist is exact-rescored against the raw vectors (the standard
    two-stage retrieve+rerank): a broadcast of ≤ rerank·|queries|
    candidate ids onto the corpus, which never shuffles. Returns
    (query_id, neighbor_id, score, rank)."""
    scored = _pq_adc(cand, CB)
    if corpus is None:
        return _top_k(scored, k)
    shortlist = _top_k(scored, max(rerank, k)).select("query_id", "neighbor_id")
    exact = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("c_vec"))
        .join(F.broadcast(shortlist), "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("score"),
        )
    )
    return _top_k(exact, k)


def ann_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 3,
    k: int = 10,
    lloyd_iters: int = 0,
) -> DataFrame:
    """IVF-style approximate top-k: a deterministic coarse quantizer
    (one hash-picked representative vector per cell, optionally refined
    by ``lloyd_iters`` k-means steps) assigns each corpus vector to its
    nearest cell; each query probes its n_probe nearest cells and
    brute-forces only those.

    Scale: the centroid table is tiny (n_cells rows) and collected once;
    both sides assign through the zero-shuffle Arrow kernel, which also
    carries the vector, so the corpus never shuffles or joins to assign.
    The candidate join is corpus⋈probed-cells on cell id:
    O(n · n_probe / n_cells) scored pairs instead of O(n·q).
    Centroid selection is ONE map-side-combined hash aggregate over
    (pmod(xxhash64(id), n_cells)) — each task emits ≤ n_cells partial
    rows, so there is no count() action, no global sort, and no
    single-partition exchange (the round-2 version ranked the whole
    corpus through one Window.orderBy partition). Deterministic: the
    representative of each cell is the member whose xxhash64(id) is
    smallest, ties broken by min id via the (hash, id, vec) struct-min.

    Each Lloyd step is the textbook distributed k-means iteration:
    broadcast-assign every vector to its nearest centroid (no corpus
    shuffle), then ONE shuffle by cell to average members — groups are
    sorted by id before the float sum so the mean is bit-deterministic
    regardless of shuffle arrival order. Empty cells keep their previous
    centroid (standard drop-in k-means behavior via left join).
    """
    centroids = coarse_centroids(
        corpus,
        id_col=id_col,
        vec_col=vec_col,
        n_cells=n_cells,
        lloyd_iters=lloyd_iters,
    )
    _, cells, Cn = _collect_centroid_matrix(centroids)
    c = assign_cells_kernel(
        corpus, cells, Cn, id_col=id_col, vec_col=vec_col, keep_vec=True
    ).toDF("neighbor_id", "cell", "c_vec")
    q = _probe_side(
        queries, cells, Cn, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    )
    scored = (
        _probe_join(c, q)
        .select(
            "query_id", "neighbor_id",
            cosine(F.col("q_vec"), F.col("c_vec")).alias("score"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(scored, k)


def _exact_rescore(v: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Join candidate (id_a, id_b) pairs back to their vectors with PLAIN
    joins (no broadcast hints — AQE picks the strategy from runtime
    sizes; the round-2 version force-broadcast the whole corpus twice)
    and apply the deterministic sequential-fold cosine (JVM), so every
    reported pair's cosine is bit-identical to the naive all-pairs form.
    """
    a = v.select(F.col("id").alias("id_a"), F.col("vec").alias("va"))
    b = v.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"))
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", cosine(F.col("va"), F.col("vb")).alias("cos"))
        .where(F.col("cos") >= threshold)
    )


def embedding_neardup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT embedding-cosine near-duplicate pairs (id_a < id_b, cos ≥ t)
    via distributed triangle blocking — nothing is collected to the
    driver and the corpus is never broadcast (the round-2 version did
    both; that was the exact forbidden pattern at 100 TB).

    Each vector hashes to one of B blocks; every unordered block pair
    (i ≤ j) is one task group, so every vector pair meets in EXACTLY one
    group (recall = 1 by construction, no dedup needed):

    1. **Replicate** — one JVM-side explode sends each vector to its B
       block-pair groups (key = (min(i,j), max(i,j)), side = which end).
    2. **Per-group GEMM** — ``groupBy(key).applyInPandas``: one numpy
       matmul per group (triu within a diagonal block, cross between two
       blocks) emits pairs with approx cosine ≥ t − 1e-6.
    3. **Exact rescore** — ``_exact_rescore`` re-checks survivors with
       the JVM fold, so GEMM rounding (≪ 1e-6) cannot change the result.

    Scale: exact all-pairs is inherently O(n²) similarity work; this
    spreads it evenly over B(B+1)/2 groups with B× vector replication
    (B ≈ n·dim·8B / executor-mem bounds a group's two blocks in memory;
    raise n_blocks as the corpus grows). Total GEMM work stays n²/2 —
    no overlap between groups. For corpora where exact is too costly,
    use ``embedding_neardup_pairs_lsh`` (sub-quadratic, tunable recall).
    """
    import numpy as np
    import pandas as pd

    B = n_blocks
    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    id_t = v.schema["id"].dataType.simpleString()
    vec_t = v.schema["vec"].dataType.simpleString()
    margin = 1e-6

    blk = F.pmod(F.xxhash64(F.col("id")), F.lit(B)).cast("int")
    j = F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("j")
    keyed = (
        v.withColumn("blk", blk)
        .select("id", "vec", "blk", j)
        .select(
            F.when(F.col("blk") <= F.col("j"), F.col("blk") * B + F.col("j"))
            .otherwise(F.col("j") * B + F.col("blk"))
            .alias("grp"),
            F.when(F.col("blk") <= F.col("j"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("side"),
            "id",
            "vec",
        )
    )

    def group_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        empty = pd.DataFrame({"id_a": pdf["id"][:0], "id_b": pdf["id"][:0]})
        if len(pdf) < 2:
            return empty

        def normed(sub):
            m = np.asarray([np.asarray(x, dtype=np.float64) for x in sub["vec"]])
            norms = np.linalg.norm(m, axis=1, keepdims=True)
            with np.errstate(divide="ignore", invalid="ignore"):
                return m / norms

        grp = int(pdf["grp"].iloc[0])
        diagonal = grp // B == grp % B
        if diagonal:
            mat = normed(pdf)
            sims = mat @ mat.T
            ii, jj = np.nonzero(np.triu(sims >= threshold - margin, k=1))
            ids = pdf["id"].values
            a, b = ids[ii], ids[jj]
        else:
            left = pdf[pdf["side"] == 0]
            right = pdf[pdf["side"] == 1]
            if not len(left) or not len(right):
                return empty
            sims = normed(left) @ normed(right).T
            ii, jj = np.nonzero(sims >= threshold - margin)
            a, b = left["id"].values[ii], right["id"].values[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo != hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = keyed.groupBy("grp").applyInPandas(
        group_pairs, schema=f"id_a {id_t}, id_b {id_t}"
    )
    return _exact_rescore(v, cand, threshold)


def embedding_neardup_pairs_lsh(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int | None = None,
    n_tables: int | None = None,
    bits: int | None = None,
    seed: int = 13,
) -> DataFrame:
    """APPROXIMATE embedding near-dup pairs via LSH blocking — the
    sub-quadratic 100 TB path (``embedding_neardup_pairs`` is exact but
    inherently O(n²)).

    1. **LSH blocking** — one Arrow-batched ``mapInPandas`` pass computes
       ``n_tables`` sign-random-projection bucket keys per vector (one
       numpy matmul per batch, the same ±1 hyperplane stream as
       ``lsh_tables``) and emits (bucket, id, vec) rows.
    2. **Per-bucket GEMM** — ``groupBy(bucket).applyInPandas`` emits
       pairs with approx cosine ≥ t − 1e-6; a pair can appear in several
       buckets, so candidates dedup before rescore.
    3. **Exact rescore** — ``_exact_rescore`` (plain joins, JVM fold).

    Recall: a pair at cosine t collides in one b-bit table with prob
    p^b, p = 1 − arccos(t)/π; miss prob over T OR'd tables is
    (1 − p^b)^T. When (bits, n_tables) are not given they are tuned from
    the threshold: b = max(2, ⌊ln .35 / ln p⌋) (per-table collision
    ≈ .35 for the target similarity), T = ⌈ln 1e-5 / ln(1 − p^b)⌉ —
    e.g. t=.95 → (b=9, T=29), t=.7 → (b=4, T=35). The planes are a
    fixed seeded stream, so the output is deterministic run to run.

    Scale: the shuffle moves n_tables copies of each vector (skinny
    rows); a pathological bucket (mass-duplicate corpus) concentrates
    quadratic work in one task — cap it upstream with exact-hash dedup
    (``dedup.exact_duplicates``) before near-dup, which is the standard
    pipeline order anyway. Low thresholds (< ~0.5) force few bits and
    many tables — degenerating toward blocked all-pairs — so prefer the
    exact triangle path there.
    """
    import math

    import numpy as np
    import pandas as pd

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if bits is None:
        bits = max(2, int(math.log(0.35) / math.log(p)))
    if n_tables is None:
        n_tables = max(4, math.ceil(math.log(1e-5) / math.log(1.0 - p**bits)))

    v = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    id_t = v.schema["id"].dataType.simpleString()
    vec_t = v.schema["vec"].dataType.simpleString()
    pow2 = 2 ** np.arange(bits)[::-1]
    margin = 1e-6
    nt, nb = n_tables, bits

    def keyser(batches):
        # planes derived lazily from the first batch's width: a pure
        # function of (seed, dim), so every worker rebuilds the SAME
        # deterministic stream — nothing is shipped from the driver
        planes = None if dim is None else np.array(_hyperplanes(dim, nt * nb, seed))
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])
            if planes is None:
                planes = np.array(_hyperplanes(vecs.shape[1], nt * nb, seed))
            sig = (vecs @ planes.T > 0).astype(np.int64)
            sig = sig.reshape(len(pdf), nt, nb)
            buckets = (sig * pow2).sum(axis=2)  # (n, T)
            buckets += np.arange(nt, dtype=np.int64) * (1 << (nb + 1))
            out = pdf.iloc[np.repeat(np.arange(len(pdf)), nt)].copy()
            out["bucket"] = buckets.reshape(-1)
            yield out[["bucket", "id", "vec"]]

    keyed = v.mapInPandas(keyser, schema=f"bucket long, id {id_t}, vec {vec_t}")

    def block_pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": pdf["id"][:0], "id_b": pdf["id"][:0]})
        mat = np.asarray([np.asarray(x, dtype=np.float64) for x in pdf["vec"]])
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        with np.errstate(divide="ignore", invalid="ignore"):
            mat = mat / norms
        sims = mat @ mat.T
        ii, jj = np.nonzero(np.triu(sims >= threshold - margin, k=1))
        ids = pdf["id"].values
        a, b = ids[ii], ids[jj]
        lo, hi = np.minimum(a, b), np.maximum(a, b)
        keep = lo != hi
        return pd.DataFrame({"id_a": lo[keep], "id_b": hi[keep]})

    cand = (
        keyed.groupBy("bucket")
        .applyInPandas(block_pairs, schema=f"id_a {id_t}, id_b {id_t}")
        .dropDuplicates(["id_a", "id_b"])
    )
    return _exact_rescore(v, cand, threshold)


def ann_ivf_pq(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 8,
    n_probe: int = 4,
    k: int = 10,
    m_sub: int = 16,
    ks: int = 32,
    rerank: int = 50,
    seed: int = 7,
) -> DataFrame:
    """IVF-PQ approximate top-k: the memory-bounded ANN shape for
    corpora whose raw embeddings don't fit storage/RAM budgets.

    Three stages, each with the 100 TB-safe plan:

    1. coarse IVF — the same deterministic hash-picked centroid table
       as ann_ivf, collected for the zero-shuffle assignment kernel;
    2. product quantization — each vector split into ``m_sub``
       subvectors, each encoded as the nearest of ``ks`` codewords:
       64-dim float32 (256 B) → m_sub bytes (16 B at defaults, 16×
       compression). The codebook is ``ks`` hash-sampled corpus
       vectors — CONSTANT-size (ks rows) regardless of corpus size, so
       the one driver collect here is bounded like a broadcast-join
       build side, not a scale-dependent pull. Cell assignment and
       encoding are one vectorized mapInPandas pass.
    3. ADC search — each query builds an (m_sub × ks) lookup table of
       subvector dot products ONCE, scores candidates in its probed
       cells by fancy-indexed LUT sums (no float decode of the corpus),
       keeps the top ``rerank`` by approximate score, and exact-rescores
       only those (broadcast of ≤ rerank·|queries| candidate ids — the
       standard two-stage retrieve+rerank).

    Approximate cosine: dot(q, x̂) / (|q|·|x̂|) with x̂ the PQ
    reconstruction; |x̂| is stored at encode time (one double per row).
    Deterministic end-to-end: hash-picked centroids and codebook, fixed
    tiebreaks, so the recall gate hashes stably. The persisted
    operators/ann_index.build_ivf_pq_index + search_ivf_pq_index run
    these same steps with parquet between them.
    """
    centroids = coarse_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells
    )
    _, cells, Cn = _collect_centroid_matrix(centroids)
    sample = _pq_sample(corpus, id_col, vec_col, ks, seed)
    CB = _pq_codebook([r["sv"] for r in sample], m_sub)
    encoded = _pq_encode_cells(
        corpus, cells, Cn, CB, id_col=id_col, vec_col=vec_col
    ).withColumnRenamed("__vid", "neighbor_id")
    probes = _probe_side(
        queries, cells, Cn, id_col=id_col, vec_col=vec_col, n_probe=n_probe
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    return _pq_search(
        _probe_join(encoded, probes), CB, k=k, rerank=rerank, corpus=corpus,
        q_vecs=q_vecs, id_col=id_col, vec_col=vec_col,
    )
