"""Deduplication operators for web-scale corpus cleaning.

Five strategies, all shuffle-conscious:

- exact: hash-groupBy on the normalized text fingerprint (one shuffle).
- ngram-jaccard: word-shingle Jaccard via an inverted-index self-join
  (explode → join on shingle → count), the exact-verification path.
- minhash-lsh: MinHash signatures + banded LSH bucketing — the 100 TB
  path: candidate generation is a groupBy on (band, band_hash), never an
  all-pairs join.
- simhash: 64-bit sign-of-sums sketch + hamming distance.
- embedding cosine: near-dup by vector similarity (see similarity.py).

All hashing is portable integer arithmetic (polynomial mod 1e9+7), so
results are engine-reproducible (the DuckDB oracle can replay them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from replicadb_spark.cache import tracked_persist

MOD = 1_000_000_007


def _lcg(seed: int):
    """Deterministic parameter stream (MINSTD). Python-side only — the
    generated constants are baked into the Catalyst plan, so executors and
    oracles all see identical coefficients."""
    state = seed % 2147483647 or 1
    while True:
        state = (state * 48271) % 2147483647
        yield state


def minhash_params(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    gen = _lcg(seed)
    return [(next(gen) % (MOD - 1) + 1, next(gen) % MOD) for _ in range(num_hashes)]


def word_tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"), lambda t: t != "")


def shingles_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles (space-joined) from a token-array
    column; < k tokens → empty (sequence(1,0) would count DOWN in Spark,
    hence the guard).

    ``toks`` MUST be a projected attribute, not an inline word_tokens()
    expression: higher-order functions are interpreted with no
    common-subexpression elimination, so an inlined split+filter subtree
    re-evaluates per lambda element — O(tokens²) per row, measured 8×
    slower at sf0.1. This function references ``toks`` several times,
    which also stops CollapseProject from re-inlining the upstream
    projection (it refuses to duplicate non-cheap expressions)."""
    n = F.size(toks)
    idx = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    return F.when(n >= k, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-gram shingles straight from text. Convenience form
    for single-expression use; in bulk paths project word_tokens() first
    and use shingles_tokens() (see its docstring for why)."""
    return shingles_tokens(word_tokens(text), k)


def poly_hash(col: Column) -> Column:
    """Portable string hash: fold chars, acc*31 + ascii(c) mod 1e9+7.
    Engine-replayable (a DuckDB oracle can recompute it) but interpreted
    per character — use only where the oracle must see the hash value."""
    return F.aggregate(
        F.split(col, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % MOD,
    )


def shingle_hash(shingle: Column) -> Column:
    """Shingle → [0, MOD) via xxhash64 (JVM codegen, fixed seed).

    Sketch internals never surface in oracle comparisons — only the
    exact-Jaccard verification on string shingles does — so the hash
    needs determinism, not engine portability. Apply it to an *exploded*
    string column, not inside transform(): higher-order functions are
    interpreted, plain column expressions are whole-stage codegen'd
    (the HOF form cost ~2× the entire shingle explode at sf0.1)."""
    return F.pmod(F.xxhash64(shingle), F.lit(MOD))


def exploded_shingle_hashes(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, h) — one row per distinct shingle per document; empty docs
    keep one null-h row (explode_outer) so they survive the groupBy."""
    return (
        df.select(F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("toks"))
        .select("id", F.explode_outer(shingles_tokens(F.col("toks"), k)).alias("s"))
        .select("id", shingle_hash(F.col("s")).alias("h"))
    )


def minhash_signatures_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Bulk MinHash: (id, sig array<long>) for every row.

    Plan: shingle-hash array computed ONCE per row → explode → N parallel
    min() hash-aggregates (whole-stage codegen, map-side partial
    aggregation, one shuffle on id). This is the shape that survives
    100 TB: the shuffle carries one row of N longs per document.
    """
    exploded = exploded_shingle_hashes(df, id_col, text_col, k)
    aggs = [
        F.coalesce(
            F.min((F.lit(a) * F.col("h") + F.lit(b)) % MOD), F.lit(MOD).cast("long")
        ).alias(f"m{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes, seed))
    ]
    wide = exploded.groupBy("id").agg(*aggs)
    return wide.select(
        "id", F.array(*[F.col(f"m{i}") for i in range(num_hashes)]).alias("sig")
    )


def band_hashes(signature: Column, bands: int, rows_per_band: int) -> Column:
    """Fold each signature band into one bucket hash:
    array<struct<band:int, bucket:long>>.

    The fold is an unrolled element_at chain, not aggregate(): explicit
    expressions stay in whole-stage codegen while higher-order lambdas
    are interpreted."""
    out = []
    for b in range(bands):
        acc = F.lit(0).cast("long")
        for j in range(rows_per_band):
            acc = (acc * 31 + F.element_at(signature, b * rows_per_band + j + 1)) % MOD
        out.append(F.struct(F.lit(b).alias("band"), acc.alias("bucket")))
    return F.array(*out)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup by normalized-text group: returns
    (keep_id, dup_count) per duplicated text, keep = min id.
    One hash-partial-aggregated shuffle on the text key."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    return (
        df.groupBy(norm.alias("norm_text"))
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
        .where(F.col("dup_count") > 1)
        .select("keep_id", "dup_count")
    )


def deduplicate_exact(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per normalized text (the drop-duplicates form)."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), r"\s+", " ")
    w_min = (
        df.withColumn("__norm", norm)
        .groupBy("__norm")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(w_min, on=id_col, how="left_semi")


def _pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int,
    max_shingle_df: int | None,
) -> "tuple[DataFrame, DataFrame]":
    """``(inter, sizes)`` over the (optionally df-capped) shingle
    universe: ``inter`` = (id_a, id_b, inter) exact intersection counts
    for every co-occurring unordered pair, ``sizes`` = (id, sz) capped
    set sizes — the shared kernel behind jaccard_pairs and
    containment_pairs.

    Plan (r13, replacing the inverted-index SELF-JOIN): group the
    exploded (shingle, id) stream once per SHINGLE into a sorted doc
    list, then expand each list's C(n,2) pairs NARROWLY with
    codegen transform/flatten — no join anywhere:

    - the hot-shingle DF cap folds into the same aggregate
      (``size(ids) <= cap``), deleting the separate DF agg + anti-join
      the old plan paid;
    - pair expansion happens in-memory per list row, so the old plan's
      two string-keyed join exchanges disappear; the only remaining
      wide ops are the list groupBy, the skinny (id_a, id_b) pair
      count (map-side combined), and the skinny sizes count;
    - per-shingle work stays bounded by cap²/2 pairs exactly as
      before — one viral shingle can never go quadratic in corpus
      size, and the semantics (exact counts over the capped universe,
      the contract every oracle mirrors) are unchanged.

    Measured at sf0.1 (dedup_containment end-to-end, warm):
    3.10 s self-join plan → 2.42 s doc-list plan. A prefix-filter
    variant (index only each doc's rarest (1−t)·|S|+1 shingles, verify
    candidates by array_intersect) measured 8.2 s on this corpus: the
    near-random documents give 448k candidate pairs for 256 survivors,
    so per-pair array verification costs far more than the map-side-
    combined count — the doc-list plan keeps the cheap aggregate and
    cuts the joins instead. Nothing is persisted: the list frame's
    exchange is reused by Spark across its two consumers within the
    one action."""
    return pair_intersections_from_lists(
        shingle_doc_lists(df, id_col, text_col, k=k),
        max_shingle_df=max_shingle_df,
    )


def shingle_doc_lists(
    df: DataFrame, id_col: str, text_col: str, *, k: int
) -> DataFrame:
    """The (shingle, sorted-id-array) inverted doc-list frame — the
    head of :func:`_pair_intersections`, factored so it can be
    materialized once (the catalog's shingle layout) and serve BOTH
    the pair kernel (via :func:`pair_intersections_from_lists`) and
    list-shaped aggregates like corpus novelty (ids are sorted
    ascending, so ``ids[0]`` IS each shingle's first-seen doc)."""
    sh = (
        df.select(F.col(id_col).alias("id"), word_tokens(F.col(text_col)).alias("toks"))
        .select("id", F.explode(shingles_tokens(F.col("toks"), k)).alias("shingle"))
    )
    return sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("id")).alias("ids")
    )


def pair_intersections_from_lists(
    lists: DataFrame, *, max_shingle_df: "int | None" = None
) -> "tuple[DataFrame, DataFrame]":
    """The pair-expansion tail of :func:`_pair_intersections` over an
    already-grouped doc-list frame (live or layout-scanned)."""
    if max_shingle_df is not None:
        lists = lists.where(F.size("ids") <= max_shingle_df)
    n = F.size("ids")
    pairs = lists.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ids",
                    lambda x, i: F.transform(
                        F.slice("ids", i + F.lit(2), n - i - 1),
                        lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    inter = pairs.groupBy("id_a", "id_b").agg(F.count(F.lit(1)).alias("inter"))
    sizes = (
        lists.select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return inter, sizes


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs.

    Plan: the shared per-shingle doc-list kernel (_pair_intersections —
    exact |A∩B| counts and capped set sizes with zero joins), then the
    jaccard arithmetic and threshold filter. `max_shingle_df` drops
    shingles whose document frequency exceeds the cap, bounding any
    shingle's pair fan-out to cap²/2 (one viral shingle would otherwise
    go quadratic in corpus size). The cap is applied consistently —
    sizes and intersections both live in the capped shingle universe —
    so the returned jaccard is the exact Jaccard over sub-viral
    shingles, a well-defined semantics an oracle can mirror, not an
    underestimate. Returns (id_a, id_b, jaccard).
    """
    inter, sizes = _pair_intersections(
        df, id_col, text_col, k=k, max_shingle_df=max_shingle_df
    )
    return jaccard_from_counts(inter, sizes, threshold=threshold)


def jaccard_from_counts(
    inter: DataFrame, sizes: DataFrame, *, threshold: float
) -> DataFrame:
    """The Jaccard arithmetic tail over an already-computed
    ``(inter, sizes)`` pair (from :func:`_pair_intersections`, live or
    layout-scanned): size joins, the |A∩B|/|A∪B| ratio, the threshold.
    Factored so a persisted intersection index (the catalog's
    per-(process, sf_dir) shingle-inter layout) ranks IDENTICALLY to
    the one-shot operator."""
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_band_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
    extras: dict[str, str] | None = None,
) -> DataFrame:
    """(id, band, bucket) LSH keys via one Arrow-batched mapInPandas pass.

    ``extras`` ({column: spark_type}) echoes integer side/tag columns
    through the sketch, repeated per band — this is how the bipartite
    incremental pipeline sketches corpus+batch in ONE pass and still
    knows which side each bucket row came from.

    The whole sketch — tokenize, shingle-hash (k-term polynomial over
    per-unique-token crc32), minhash perms, band fold — runs vectorized
    per Arrow batch with NO shuffle, no explode, and no interpreted
    higher-order functions. This is the sanctioned Pandas-UDF escape
    hatch: the equivalent DataFrame formulation (explode → 128 min()
    aggs → band folds) is expression-bound and needed a shuffle plus a
    persist to avoid double compute. Sketch internals never face the
    SQL oracle (only the exact-Jaccard verify does), so the shingle
    hash only has to be deterministic and well-mixed — the two-phase
    pipeline's final pairs stay exact regardless of the hash family.
    """
    if num_hashes % bands:
        raise ValueError("num_hashes must be divisible by bands")
    import numpy as np
    import pandas as pd
    import zlib

    r = num_hashes // bands
    params = minhash_params(num_hashes, seed)
    a_arr = [a for a, _ in params]
    b_arr = [b for _, b in params]
    extra_names = tuple((extras or {}).keys())
    _EMPTY = {
        "id": pd.Series([], dtype="int64"),
        "band": pd.Series([], dtype="int32"),
        "bucket": pd.Series([], dtype="int64"),
        **{c: pd.Series([], dtype="int64") for c in extra_names},
    }
    # perm-matrix chunk bound: 128 hashes × 8k shingles × 8B = 8 MB —
    # a buffer this small is touched once and then lives in the
    # allocator's warm arena (and mostly in L2/L3), so the whole batch
    # pays ~one buffer of page-faults instead of one per chunk.
    # First-touch faulting is the dominant cost of the naive
    # full-matrix form in a fresh worker: measured 3.9 s for a
    # ~400 MB-of-temporaries (64×260k + 2 temps) layout vs 0.2 s warm;
    # total numpy work is identical at any chunk size.
    CHUNK_SHINGLES = 8_192

    def gen(batches):
        # Whole-batch vectorization — no per-document Python loop:
        # factorize the batch's flat token stream (C speed), crc32 only
        # the UNIQUE tokens, shingle-hash as a k-term polynomial over
        # consecutive token hashes (pure numpy), and take each doc's
        # minhash signature with ONE minimum.reduceat over the flat
        # shingle array. Shingle multisets need no dedup: min() is
        # multiset-invariant. Measured ~6× over the per-doc loop at
        # sf0.1 (3.1 s → 0.5 s for the sketch stage).
        A = np.array(a_arr, dtype=np.int64)[:, None]
        B = np.array(b_arr, dtype=np.int64)[:, None]
        P = 1_000_003  # polynomial base for token-hash combination
        for pdf in batches:
            ids_in = pdf["id"].values
            tok_lists = [(t or "").lower().split() for t in pdf["text"].values]
            counts = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(counts.sum())
            if total < k:
                yield pd.DataFrame(_EMPTY)
                continue
            flat = np.empty(total, dtype=object)
            pos = 0
            for lst in tok_lists:
                flat[pos : pos + len(lst)] = lst
                pos += len(lst)
            codes, uniques = pd.factorize(flat)
            uh = np.fromiter(
                (zlib.crc32(u.encode()) for u in uniques),
                dtype=np.int64, count=len(uniques),
            )
            th = uh[codes]  # per-token hash, flat batch order
            doc_idx = np.repeat(np.arange(len(tok_lists)), counts)
            # k-gram hash at each window start; valid iff the window does
            # not cross a document boundary
            nwin = total - k + 1
            h = np.zeros(nwin, dtype=np.int64)
            for j in range(k):
                h = (h * P + th[j : nwin + j]) % MOD
            valid = doc_idx[:nwin] == doc_idx[k - 1 :]
            sh_doc = doc_idx[:nwin][valid]
            sh_h = h[valid]
            if sh_h.size == 0:
                # shingle-less docs can never reach a positive Jaccard —
                # emitting them would put every empty doc in ONE bucket
                # (a skew bomb at corpus scale), so drop here
                yield pd.DataFrame(_EMPTY)
                continue
            # per-doc signature: min over each doc's shingle span (sh_doc
            # is non-decreasing), chunked on doc boundaries to bound the
            # (num_hashes × chunk) perm matrix
            present, first_pos = np.unique(sh_doc, return_index=True)
            sig_parts = []
            buf = np.empty((num_hashes, CHUNK_SHINGLES), dtype=np.int64)
            lo = 0
            while lo < present.size:
                # largest doc-boundary end keeping the chunk ≤ CHUNK_SHINGLES
                limit = int(first_pos[lo]) + CHUNK_SHINGLES
                if limit >= sh_h.size:
                    hi = present.size
                else:
                    hi = int(np.searchsorted(first_pos, limit, side="right")) - 1
                hi = max(hi, lo + 1)
                end = sh_h.size if hi == present.size else first_pos[hi]
                seg = sh_h[first_pos[lo] : end]
                # in-place into the reused buffer: no per-chunk temporaries
                # (a single doc longer than the chunk still gets one
                # ad-hoc allocation — chunks end on doc boundaries)
                if seg.size > CHUNK_SHINGLES:
                    perm = (A * seg[None, :] + B) % MOD
                else:
                    perm = buf[:, : seg.size]
                    np.multiply(A, seg[None, :], out=perm)
                    perm += B
                    perm %= MOD
                sig_parts.append(
                    np.minimum.reduceat(perm, first_pos[lo:hi] - first_pos[lo], axis=1)
                )
                lo = hi
            sig = np.concatenate(sig_parts, axis=1)  # (num_hashes, n_present)
            folded = sig.reshape(bands, r, -1)
            acc = np.zeros((bands, folded.shape[2]), dtype=np.int64)
            for j in range(r):
                acc = (acc * 31 + folded[:, j, :]) % MOD
            yield pd.DataFrame({
                "id": pd.Series(np.repeat(ids_in[present], bands), dtype="int64"),
                "band": pd.Series(
                    np.tile(np.arange(bands, dtype=np.int32), present.size),
                    dtype="int32",
                ),
                "bucket": pd.Series(acc.T.reshape(-1), dtype="int64"),
                **{
                    c: pd.Series(np.repeat(pdf[c].values[present], bands))
                    for c in extra_names
                },
            })

    src = df.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("text"),
        *[F.col(c) for c in extra_names],
    )
    # a small input (single parquet file → one partition) would run the
    # whole sketch on one core; fan it out to cluster width first. The
    # round-robin shuffle moves only (id, text) once and is a no-op
    # when the input is already at least as wide.
    width = src.sparkSession.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < width:
        src = src.repartition(width)
    schema = "id long, band int, bucket long" + "".join(
        f", {c} {t}" for c, t in (extras or {}).items()
    )
    return src.mapInPandas(gen, schema=schema)


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    seed: int = 42,
) -> DataFrame:
    """LSH candidate pairs: ids sharing ≥1 (band, bucket).

    This is the scale path: cost is O(n·bands) rows shuffled by bucket,
    never O(n²). rows_per_band = num_hashes // bands sets the similarity
    knee: P(candidate) = 1-(1-s^r)^b.
    Returns distinct (id_a, id_b).
    """
    buckets = minhash_band_buckets(
        df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands, seed=seed
    )
    # persist: the self-join broadcasts one side (buckets are small), and
    # a BroadcastExchange can never reuse the probe side's pipeline — so
    # without this the sketch computation runs twice. One row per
    # (doc, band); the 100 TB form stages this to parquet instead.
    buckets = tracked_persist(buckets)
    return (
        buckets.alias("l")
        .join(buckets.alias("r"), on=["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """MinHash-LSH candidates verified with exact Jaccard — the standard
    two-phase near-dup pipeline (candidate recall from LSH, precision
    from exact verification on the candidate set only).

    The verify is ONE pass: candidate pairs join the candidate docs'
    string shingle sets on both sides and filter on exact Jaccard —
    collision-free and engine-exact, which is what the oracle hashes.
    (An earlier variant prefiltered pairs on crc32-hash-set Jaccard
    before the string intersect; the string sets shuffle for the join
    either way, so the prefilter only saved intersect compute on
    rejected pairs while costing two extra join stages + a persist —
    measured net-negative: stage fixed costs dominate the sliver-sized
    candidate frames at every scale.)
    """
    # the candidate set is the one genuinely reused frame — persist it
    cands = tracked_persist(minhash_lsh_candidates(
        df, id_col, text_col, k=k, num_hashes=num_hashes, bands=bands, seed=seed
    ))
    docs = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    return exact_jaccard_verify(docs, cands, k=k, threshold=threshold)


def shingle_sets(
    docs: DataFrame, id_col: str, text_col: str, *, k: int
) -> DataFrame:
    """Per-doc distinct k-shingle sets as (id, ss array<string>) — the
    verify-side representation of the near-dup index. A pure function
    of (corpus, k), so callers that verify against the same corpus
    repeatedly (the persisted MinHash layout) write it ONCE next to
    the bucket sketch instead of re-running the Arrow shingle pass per
    query (r17)."""
    import pandas as pd

    def cand_sets(batches):
        # Python `.lower().split()` tokenization matches word_tokens()
        # (trim + split on whitespace, empties dropped) on this corpus
        for pdf in batches:
            out_id, out_ss = [], []
            for doc_id, text in zip(pdf["id"].values, pdf["text"].values):
                toks = (text or "").lower().split()
                out_id.append(doc_id)
                out_ss.append(
                    list({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})
                )
            yield pd.DataFrame({
                "id": pd.Series(out_id, dtype="int64"),
                "ss": out_ss,
            })

    return docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    ).mapInPandas(cand_sets, schema="id long, ss array<string>")


def exact_jaccard_verify_sets(
    ssets: DataFrame, cands: DataFrame, *, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify over precomputed shingle sets: join the
    (id, ss) frame to both candidate endpoints and keep pairs at or
    above threshold. ``ssets`` must cover every candidate id with ids
    unique. Scale: the bounded candidate side broadcasts, so the set
    store is scanned once and never shuffled."""
    joined = (
        cands.join(
            ssets.select(F.col("id").alias("id_a"), F.col("ss").alias("ss_a")), "id_a"
        ).join(
            ssets.select(F.col("id").alias("id_b"), F.col("ss").alias("ss_b")), "id_b"
        )
    )
    inter = F.size(F.array_intersect("ss_a", "ss_b"))
    union = F.size("ss_a") + F.size("ss_b") - inter
    return (
        joined.withColumn(
            "jaccard", inter.cast("double") / F.greatest(union, F.lit(1)).cast("double")
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def exact_jaccard_verify(
    docs: DataFrame,
    cands: DataFrame,
    *,
    k: int,
    threshold: float,
) -> DataFrame:
    """Exact-Jaccard verification of LSH candidate pairs — the
    precision phase of the two-phase near-dup pipeline, factored so
    every candidate producer (one-shot self-LSH, bipartite incremental,
    a persisted bucket layout) shares one engine-exact verify.
    ``docs`` is an (id, text) frame covering every candidate id (ids
    unique across it); ``cands`` is (id_a, id_b). Only candidate docs
    are shingled (left-semi prune before the Arrow pass), so verify
    cost scales with the candidate set, never the corpus. Callers with
    a persisted set store skip the shingle pass entirely via
    exact_jaccard_verify_sets."""
    cand_ids = (
        cands.select(F.col("id_a").alias("id"))
        .unionByName(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    ssets = tracked_persist(  # read by both pair sides; candidate-only, so tiny
        shingle_sets(
            docs.select("id", "text").join(cand_ids, "id", "left_semi"),
            "id", "text", k=k,
        )
    )
    return exact_jaccard_verify_sets(ssets, cands, threshold=threshold)


def minhash_dedup_pairs_bipartite(
    existing: DataFrame,
    incoming: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Incremental near-dup: (existing_id, incoming_id, jaccard) pairs
    ACROSS the two sets only — the shape a production ingest runs when a
    new batch lands (dedupe the batch against the corpus without
    re-pairing the corpus with itself).

    Same banded-LSH + exact-verify pipeline as minhash_dedup_pairs, but
    the bucket join is bipartite: existing buckets ⋈ incoming buckets,
    so cost is O(batch·bands + matched buckets), independent of
    corpus×corpus. At 100 TB the existing side's buckets are a
    precomputed index (stage them to a table); here they are computed
    inline from the frame.

    Ids must be disjoint across the two sides (the incremental-ingest
    contract: batch rows get fresh ids) — both sides are sketched and
    shingled in ONE tagged pass over the union, halving the
    mapInPandas stage count vs per-side passes.
    """
    tagged = (
        existing.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
        .withColumn("side", F.lit(0))
        .unionByName(
            incoming.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
            .withColumn("side", F.lit(1))
        )
    )
    # one sketch pass over corpus+batch; side echoed through per band.
    # persist: both sides of the bucket join read this frame (the 100 TB
    # form stages the existing side's rows to a table instead).
    buckets = tracked_persist(minhash_band_buckets(
        tagged, "id", "text", k=k, num_hashes=num_hashes, bands=bands, seed=seed,
        extras={"side": "int"},
    ))
    cands = tracked_persist(
        buckets.where(F.col("side") == 0).alias("l")
        .join(buckets.where(F.col("side") == 1).alias("r"), on=["band", "bucket"])
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    # disjoint ids → ONE shared shingle-set pass serves both join sides
    return exact_jaccard_verify(
        tagged.select("id", "text"), cands, k=k, threshold=threshold
    )


def simhash_df(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    bits: int = 64,
    seed: int = 7,
) -> DataFrame:
    """SimHash sketch per row: bit j = sign of
    Σ_shingles (2·((a_j·x+b_j) mod MOD mod 2) − 1), returned as
    (id, sh array<int>) with bits LSB-first.

    Same columnar shape as minhash_signatures_df: explode once, ``bits``
    codegen'd sum() aggregates, one shuffle on id.
    """
    exploded = exploded_shingle_hashes(df, id_col, text_col, k)
    params = minhash_params(bits, seed)
    aggs = [
        F.coalesce(
            F.sum((((F.lit(a) * F.col("h") + F.lit(b)) % MOD) % 2) * 2 - 1), F.lit(0)
        ).alias(f"s{j}")
        for j, (a, b) in enumerate(params)
    ]
    wide = exploded.groupBy("id").agg(*aggs)
    bit_cols = [
        F.when(F.col(f"s{j}") > 0, F.lit(1)).otherwise(F.lit(0)) for j in range(bits)
    ]
    return wide.select("id", F.array(*bit_cols).alias("sh"))


def hamming(a: Column, b: Column) -> Column:
    return F.size(F.filter(F.zip_with(a, b, lambda x, y: x != y), lambda v: v))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 8,
    k: int = 3, bits: int = 64, band_bits: int = 16, seed: int = 7,
) -> DataFrame:
    """SimHash near-dup pairs, LSH-blocked on bit-bands so the join is on
    band buckets (scale path), then exact hamming filter."""
    if bits % band_bits:
        raise ValueError("bits must be divisible by band_bits")
    sig = simhash_df(df, id_col, text_col, k=k, bits=bits, seed=seed)
    nb = bits // band_bits
    bands_arr = F.array(*[
        F.struct(
            F.lit(i).alias("band"),
            F.aggregate(
                F.slice("sh", i * band_bits + 1, band_bits),
                F.lit(0).cast("long"), lambda acc, v: acc * 2 + v,
            ).alias("bucket"),
        )
        for i in range(nb)
    ])
    buckets = tracked_persist(sig.select(
        "id", "sh", F.explode(bands_arr).alias("bb")
    ).select(
        "id", "sh", "bb.band", "bb.bucket"
    ))  # broadcast self-join recomputes the probe side otherwise
    return (
        buckets.alias("l").join(buckets.alias("r"), on=["band", "bucket"])
        .where(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                hamming(F.col("l.sh"), F.col("r.sh")).alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    k: int = 3,
    threshold: float = 0.7,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT near-dup pairs: c(a→b) = |A∩B| / |A|.

    Jaccard under-scores asymmetric duplication — a short document
    fully quoted inside a long one has tiny |A∩B|/|A∪B| but
    containment 1.0. This is the dedup signal for quote-inclusion /
    expansion cases (and the basis of containment-MinHash sketches).
    Returns (id_a, id_b, containment_a_in_b, containment_b_in_a) for
    unordered pairs where EITHER direction reaches the threshold;
    c ≥ jaccard always, so this is a superset of the jaccard pairs at
    the same cutoff.

    Plan: the shared per-shingle doc-list kernel (_pair_intersections
    — exact intersection counts and capped sizes with zero joins, the
    r13 replacement for the inverted-index self-join; see its
    docstring for the measured comparison against both the old
    self-join and a prefix-filter variant); only the final filter
    arithmetic differs from jaccard_pairs.
    """
    inter, sizes = _pair_intersections(
        df, id_col, text_col, k=k, max_shingle_df=max_shingle_df
    )
    return containment_from_counts(inter, sizes, threshold=threshold)


def containment_from_counts(
    inter: DataFrame, sizes: DataFrame, *, threshold: float
) -> DataFrame:
    """The containment arithmetic tail over an already-computed
    ``(inter, sizes)`` pair — the :func:`jaccard_from_counts` sibling,
    shared by :func:`containment_pairs` and the catalog's persisted
    shingle-inter layout."""
    c_ab = F.col("inter").cast("double") / F.col("sz_a").cast("double")
    c_ba = F.col("inter").cast("double") / F.col("sz_b").cast("double")
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn("containment_a_in_b", c_ab)
        .withColumn("containment_b_in_a", c_ba)
        .where(
            (F.col("containment_a_in_b") >= threshold)
            | (F.col("containment_b_in_a") >= threshold)
        )
        .select("id_a", "id_b", "containment_a_in_b", "containment_b_in_a")
    )


def semantic_dedup(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    threshold: float = 0.95,
    lloyd_iters: int = 0,
) -> DataFrame:
    """SemDeDup-style semantic deduplication over an embedding column:
    cluster the corpus with the shared deterministic coarse quantizer
    (similarity.coarse_centroids — hash-picked representatives,
    optional Lloyd refinement), then WITHIN each cell keep the greedy
    min-id maximal independent set of the cosine-threshold graph —
    every removed vector has a kept neighbor with a smaller id at
    cosine ≥ threshold, and no two kept vectors in a cell are that
    similar.

    Returns DataFrame(id, cell, kept boolean) — a full assignment, so
    callers can either filter kept rows (dedup) or audit the removed
    ones (the gate does both).

    Scale: the SemDeDup contract is that pairwise work happens only
    inside cells — choose n_cells ∝ corpus size so cells stay at the
    ~10k-vector scale and the per-cell Gram work is bounded; the
    cluster step is the shared zero-shuffle assignment kernel plus ONE
    shuffle to group by cell. The greedy scan is O(|cell| ·
    |kept|) vectorized rows — strictly less than the Gram matrix the
    verification pass builds anyway. Deterministic: cells, processing
    order (ascending id), and tie handling are all hash/id-based, no
    RNG; cell ties go to the lowest cell id (first maximal column of
    the score matrix).
    """
    import numpy as np
    import pandas as pd

    from replicadb_spark.functions.similarity import (
        _collect_centroid_matrix,
        _unit_rows,
        assign_cells_kernel,
        coarse_centroids,
    )

    cents = coarse_centroids(
        corpus, id_col=id_col, vec_col=vec_col, n_cells=n_cells,
        lloyd_iters=lloyd_iters,
    )
    # The centroid table is bounded (n_cells rows — the codebook-collect
    # precedent), so nearest-cell assignment is the shared ZERO-shuffle
    # Arrow kernel with the centroid matrix riding the closure: the
    # corpus shuffles exactly once in this whole operator (the per-cell
    # groupBy below).
    id_t = dict(corpus.dtypes)[id_col]
    crows, cell_ids, Cn = _collect_centroid_matrix(cents)
    if not crows:  # empty corpus → empty verdict, same schema
        return corpus.sparkSession.createDataFrame(
            [], f"id {id_t}, cell int, kept boolean"
        )
    assigned = assign_cells_kernel(
        corpus, cell_ids, Cn, id_col=id_col, vec_col=vec_col, keep_vec=True
    )

    def greedy(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("__vid").reset_index(drop=True)
        M = _unit_rows(np.array(pdf["__v"].tolist(), dtype=np.float64))
        kept_rows: list[int] = []
        kept = np.zeros(len(pdf), dtype=bool)
        for i in range(len(pdf)):
            if kept_rows and (M[kept_rows] @ M[i] >= threshold).any():
                continue
            kept_rows.append(i)
            kept[i] = True
        return pd.DataFrame(
            {"id": pdf["__vid"], "cell": pdf["cell"], "kept": kept}
        )

    return assigned.groupBy("cell").applyInPandas(
        greedy, schema=f"id {id_t}, cell int, kept boolean"
    )


def semantic_cell_pairs(
    corpus: DataFrame,
    assignment: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """All within-cell cosine pairs at or above threshold, computed by a
    straight per-cell Gram matrix — deliberately a DIFFERENT code path
    from semantic_dedup's greedy scan so the gate's invariant check is
    independent of the thing it checks. ``assignment`` is any
    DataFrame(id, cell); returns (id_a < id_b, cell, sim).

    Scale: same bounded-cell contract as semantic_dedup — the Gram
    matrix is |cell|², which the SemDeDup design keeps at the ~10k
    scale by growing n_cells with the corpus."""
    import numpy as np
    import pandas as pd

    id_t = dict(corpus.dtypes)[id_col]
    joined = corpus.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("__v")
    ).join(assignment.select("id", "cell"), "id")

    def pairs(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("id").reset_index(drop=True)
        M = np.array(pdf["__v"].tolist(), dtype=np.float64)
        nrm = np.linalg.norm(M, axis=1)
        nrm[nrm == 0.0] = 1.0
        M = M / nrm[:, None]
        S = M @ M.T
        a, b = np.triu_indices(len(pdf), k=1)
        hit = S[a, b] >= threshold
        ids = pdf["id"].to_numpy()
        return pd.DataFrame(
            {
                "id_a": ids[a[hit]],
                "id_b": ids[b[hit]],
                "cell": pdf["cell"].iloc[0],
                "sim": S[a[hit], b[hit]],
            }
        )

    return joined.groupBy("cell").applyInPandas(
        pairs, schema=f"id_a {id_t}, id_b {id_t}, cell int, sim double"
    )
