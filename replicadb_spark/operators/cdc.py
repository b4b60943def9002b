"""Change-data-capture shaped operators: snapshot diff and SCD2 history.

The reference engine replicates snapshots and upserts deltas
(`manager/SqlManager.java:503-512` routes incremental mode through a
staging MERGE) but never COMPUTES a delta — a user who wants "what
changed between yesterday's copy and today's" diffs by hand. These two
operators close that loop Spark-side:

- ``snapshot_diff``: classify every key as insert/update/delete between
  two snapshots of the same table.
- ``scd2_intervals``: collapse an event/row stream into slowly-changing-
  dimension type-2 validity intervals (valid_from/valid_to/is_current).

Both are pure DataFrame compositions — one shuffle per input on the key
— and both are exactly SQL-expressible, so the driver gate hash-checks
them against DuckDB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from replicadb_spark.modes import latest_per_key


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """(keys..., change_type, old/new compare columns) for every row
    whose state differs between two snapshots.

    change_type ∈ {'insert', 'update', 'delete'}; unchanged rows are
    dropped. Comparison is null-safe per column.

    Scale: both sides are projected to keys+compare BEFORE the full
    outer join, so the shuffle moves only the compared columns; the
    join co-partitions on the key (one exchange per side, AQE-skew
    safe). For very wide compare lists, pre-hash the compared columns
    into one fingerprint column (md5(concat_ws(...))) and pass that as
    the single compare column — the classification is identical, the
    shuffle narrows to key+hash.
    """
    keys = list(keys)
    compare = list(compare)
    o = old.select(*keys, *compare)
    n = new.select(*keys, *compare)
    o = o.toDF(*keys, *[f"__old_{c}" for c in compare])
    n = n.toDF(*keys, *[f"__new_{c}" for c in compare])
    # presence flags: a full-outer miss leaves EVERY column of that side
    # null, so "row existed" must be tracked by a non-null marker column.
    # Join keys match by name; null keys never match themselves, which is
    # fine under the replication contract (PKs are non-null).
    o = o.withColumn("__old_present", F.lit(True))
    n = n.withColumn("__new_present", F.lit(True))
    j = o.join(n, on=keys, how="full_outer")
    changed = F.lit(False)
    for c in compare:
        changed = changed | ~F.col(f"__old_{c}").eqNullSafe(F.col(f"__new_{c}"))
    ct = (
        F.when(F.col("__old_present").isNull(), F.lit("insert"))
        .when(F.col("__new_present").isNull(), F.lit("delete"))
        .when(changed, F.lit("update"))
    )
    out_cols = (
        keys
        + [F.col("__ct").alias("change_type")]
        + [F.col(f"__old_{c}").alias(f"old_{c}") for c in compare]
        + [F.col(f"__new_{c}").alias(f"new_{c}") for c in compare]
    )
    return (
        j.withColumn("__ct", ct)
        .where(F.col("__ct").isNotNull())
        .select(*out_cols)
    )


def scd2_intervals(
    df: DataFrame,
    key: str,
    ts: str,
    attrs: Sequence[str],
    order_tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Slowly-changing-dimension type-2 history: per key, the distinct
    runs of attribute values ordered by event time, each with
    [valid_from, valid_to) and an is_current flag on the open interval.

    The input is an observation stream (one row per sighting); output
    has one row per CHANGE. Semantics match a per-key ordered scan
    that opens a new version whenever any attr differs (null-safely)
    from the previous sighting.

    Scale: one shuffle on the key; both the change detection (lag) and
    interval close (lead over the filtered changes) reuse the same
    partitioning, so Catalyst plans a single Exchange. State per key is
    bounded by the window frame (rows, not bytes of history).
    """
    attrs = list(attrs)
    order_cols = [F.col(ts), *[F.col(c) for c in order_tiebreak]]
    w = Window.partitionBy(key).orderBy(*order_cols)
    changed = F.lit(False)
    for a in attrs:
        changed = changed | ~F.col(a).eqNullSafe(F.lag(a).over(w))
    # the first sighting per key has lag()=null for every attr → counts
    # as changed (opens the first version), which eqNullSafe handles
    # unless the attr itself is null on row 1 — force-open via row_number
    first = F.row_number().over(w) == 1
    marked = df.withColumn("__open", first | changed)
    versions = marked.where(F.col("__open"))
    w2 = Window.partitionBy(key).orderBy(*order_cols)
    closed = versions.withColumn("__valid_to", F.lead(ts).over(w2))
    return closed.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts).alias("valid_from"),
        F.col("__valid_to").alias("valid_to"),
        F.col("__valid_to").isNull().alias("is_current"),
    )


def apply_diff(
    old: DataFrame,
    diff: DataFrame,
    keys: Sequence[str],
    compare: Sequence[str],
) -> DataFrame:
    """Apply a ``snapshot_diff`` change set to the old snapshot,
    reconstructing the new one — the consumer side of the CDC loop
    (ship the diff, not the snapshot; the reference ships full rows
    even in incremental mode).

    Deletes drop, updates replace, inserts append. Roundtrip contract
    (tested): ``apply_diff(old, snapshot_diff(old, new)) == new`` on
    the keyed+compared columns, for ANY pair of snapshots.

    Scale: one left-anti/left-outer co-partitioned join on the key
    (same single shuffle pair as the diff itself) + a union of the
    insert/update rows, which are O(changes)."""
    keys = list(keys)
    compare = list(compare)
    o = old.select(*keys, *compare)
    touched = diff.select(*keys, "change_type")
    survivors = o.join(
        touched.where(F.col("change_type").isin("delete", "update")),
        on=keys,
        how="left_anti",
    )
    replacements = diff.where(F.col("change_type").isin("insert", "update")).select(
        *keys, *[F.col(f"new_{c}").alias(c) for c in compare]
    )
    return survivors.unionByName(replacements)


def apply_changelog(
    snapshot: DataFrame,
    log: DataFrame,
    keys: Sequence[str],
    *,
    op_col: str = "op",
    order_col: str = "seq",
) -> DataFrame:
    """Apply an ORDERED insert/update/delete changelog to a snapshot —
    the Debezium-shaped consumer the reference's incremental mode
    approximates with full-row upserts (SURVEY §2.3 M3 ships rows and
    MERGEs; it cannot express deletes, ConnManager has no delete path).
    ``log`` carries the key columns, ``op_col`` ∈ {insert, update,
    delete}, ``order_col`` (the change sequence — LSN, binlog pos,
    ingest ts) and the full new payload on non-delete rows.

    Semantics: per key, ONLY the latest op (max ``order_col``) decides.
    delete drops the key; insert/update UPSERTS the payload (an update
    whose key is absent from the snapshot inserts — MERGE semantics, so
    a delete followed by a later update resurrects the key). Ties on
    (key, order) are a data error (the collapse breaks them
    arbitrarily); real logs have unique sequence numbers.

    Scale: one window shuffle on the key over the LOG (compaction —
    O(changes), not O(snapshot)) + the one co-partitioned
    anti-join/union pair of apply_diff. The snapshot is never
    windowed."""
    keys = list(keys)
    payload = [c for c in log.columns if c not in (*keys, op_col, order_col)]
    last = latest_per_key(log, keys, order_col).drop(order_col)
    survivors = snapshot.select(*keys, *payload).join(
        last.select(*keys), on=keys, how="left_anti"
    )
    upserts = last.where(F.col(op_col) != "delete").select(*keys, *payload)
    return survivors.unionByName(upserts)


_INT_ORDER = ["tinyint", "smallint", "int", "bigint"]
_FRAC_ORDER = ["float", "double"]


def _widen(name: str, a: str, b: str, allow_lossy: bool) -> str:
    """Widest LOSSLESS type for two drifted column types, or raise.

    Within a family, wider wins (every narrower value is exactly
    representable). Across families the only safe target is double —
    which holds every float and every integer up to 2^53 exactly — so
    int-and-narrower × fractional promotes to double, NOT to Spark's
    numeric-precedence answer (bigint⋈float → float would corrupt
    integers above 2^24). bigint × fractional can exceed 2^53 and is
    refused unless ``allow_lossy=True`` opts in.
    """
    if a in _INT_ORDER and b in _INT_ORDER:
        return _INT_ORDER[max(_INT_ORDER.index(a), _INT_ORDER.index(b))]
    if a in _FRAC_ORDER and b in _FRAC_ORDER:
        return _FRAC_ORDER[max(_FRAC_ORDER.index(a), _FRAC_ORDER.index(b))]
    fam = {a, b}
    if fam & set(_INT_ORDER) and fam & set(_FRAC_ORDER):
        if "bigint" in fam and not allow_lossy:
            raise TypeError(
                f"column {name!r}: bigint vs {a if b == 'bigint' else b} "
                "can lose integer precision above 2^53; pass "
                "allow_lossy=True to widen to double anyway"
            )
        return "double"
    raise TypeError(
        f"column {name!r}: irreconcilable types {a} vs {b} "
        "(only numeric widening is supported)"
    )


def union_with_drift(dfs: Sequence[DataFrame], *, allow_lossy: bool = False) -> DataFrame:
    """Union frames whose schemas have DRIFTED — columns added, dropped,
    or numerically narrowed between snapshots (the schema-evolution
    reality of a long-lived replication pipeline; the reference requires
    identical pre-existing sink schemas, README.md:119, and fails on
    drift).

    Per column name, the output type is the widest LOSSLESS numeric
    type seen (see ``_widen``: within-family widening, int×fractional →
    double, bigint×fractional refused without ``allow_lossy``); frames
    missing a column contribute NULLs. Non-numeric type conflicts
    (e.g. string vs int) raise — silent lossy coercion is how replicas
    corrupt.

    Scale: pure projection + UnionExec — no shuffle, no driver data
    movement; only the schemas (driver-side metadata) are inspected.
    """
    if not dfs:
        raise ValueError("union_with_drift needs at least one frame")
    widest: dict[str, str] = {}
    order: list[str] = []
    for df in dfs:
        for name, t in df.dtypes:
            if name not in widest:
                widest[name] = t
                order.append(name)
                continue
            a, b = widest[name], t
            if a != b:
                widest[name] = _widen(name, a, b, allow_lossy)
    aligned = []
    for df in dfs:
        have = dict(df.dtypes)
        cols = [
            (
                F.col(c).cast(widest[c])
                if c in have
                else F.lit(None).cast(widest[c])
            ).alias(c)
            for c in order
        ]
        aligned.append(df.select(*cols))
    out = aligned[0]
    for df in aligned[1:]:
        out = out.unionByName(df)
    return out
