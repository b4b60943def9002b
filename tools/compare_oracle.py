"""Local replica of the driver's correctness gate.

Runs every __spark_entry__.queries() entry at a given SF and compares it
to oracle_sql() via DuckDB: row count, column names, and an
order-insensitive value hash (rows sorted by their string form, columns
sorted by name). Exit code 1 on any mismatch.

Usage: python tools/compare_oracle.py [--first N] [--json OUT] [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def normalize(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return repr(round(v, 9))
    return str(v)


def value_hash(rows: list[tuple], colnames: list[str]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(normalize(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def main() -> int:
    args = list(sys.argv[1:])
    first_n = None
    if "--first" in args:
        i = args.index("--first")
        first_n = int(args[i + 1])
        del args[i : i + 2]
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as entry
    from replicadb_spark.session import get_spark

    spark = get_spark("compare-oracle")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    if first_n is not None:
        # emulate the driver's gate cap: only the first N queries() entries
        qs = {k: qs[k] for k in list(qs)[:first_n]}
    failures = []
    results: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failures.append(name)
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": None,
                             "oracle_rows": None, "err": f"spark: {e}"[:500]}
            print(f"FAIL  {name}: spark error: {e}")
            continue
        if name not in oracles:
            # rows-only: NOTHING was compared — record null for every
            # match dimension so a consumer cannot count this as verified
            results[name] = {"rows_match": None, "schema_match": None,
                             "hash_match": None, "spark_rows": len(srows),
                             "oracle_rows": None, "err": None}
            print(f"ok*   {name}: rows-only ({len(srows)} rows, {time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as e:
            failures.append(name)
            results[name] = {"rows_match": False, "schema_match": False,
                             "hash_match": False, "spark_rows": len(srows),
                             "oracle_rows": None, "err": f"oracle: {e}"[:500]}
            print(f"FAIL  {name}: oracle error: {e}")
            continue
        problems = []
        # DuckDB renders HUGEINT (bare SUM over integers) and DECIMAL
        # outputs differently per fetch path — fetchall→int, pandas→
        # float64 ("604.0"), arrow→decimal128. The driver's gate fetches
        # through one of the lossy paths (the r01 q12/pivot/winnowing
        # hash-fails), so any oracle emitting those types is a hazard
        # regardless of which path: fail it here and cast in the SQL.
        try:
            rel = con.sql(oracles[name])
            hazard = [
                f"{cname}:{ctype}"
                for cname, ctype in zip(rel.columns, rel.types)
                if str(ctype) in ("HUGEINT", "UHUGEINT") or str(ctype).startswith("DECIMAL")
            ]
            if hazard:
                problems.append(
                    f"oracle emits driver-unstable types ({', '.join(hazard)}) — "
                    "CAST to BIGINT/DOUBLE in the SQL"
                )
        except Exception as e:
            problems.append(f"oracle type-audit error: {e}")
        if len(srows) != len(orows):
            problems.append(f"rows {len(srows)} vs {len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"cols {sorted(scols)} vs {sorted(ocols)}")
        if not problems and value_hash(srows, scols) != value_hash(orows, ocols):
            problems.append("value hash mismatch")
            sset = {"|".join(normalize(v) for v in sorted_row) for sorted_row in
                    (tuple(r[i] for i in sorted(range(len(scols)), key=lambda i: scols[i])) for r in srows)}
            oset = {"|".join(normalize(v) for v in sorted_row) for sorted_row in
                    (tuple(r[i] for i in sorted(range(len(ocols)), key=lambda i: ocols[i])) for r in orows)}
            for x in list(sset - oset)[:3]:
                print(f"      spark-only: {x}")
            for x in list(oset - sset)[:3]:
                print(f"      oracle-only: {x}")
        results[name] = {
            "rows_match": len(srows) == len(orows),
            "schema_match": sorted(scols) == sorted(ocols),
            "hash_match": value_hash(srows, scols) == value_hash(orows, ocols),
            "spark_rows": len(srows),
            "oracle_rows": len(orows),
            "err": "; ".join(problems) or None,
        }
        if problems:
            failures.append(name)
            print(f"FAIL  {name}: {'; '.join(problems)}")
        else:
            print(f"ok    {name} ({len(srows)} rows, {time.time()-t0:.1f}s)")
        # queries that persist intermediates (shingle index, tf frame,
        # q2 offer) would otherwise accrete executor storage across the
        # ~100-query run — release the tracked ledger, then clearCache
        # as the belt-and-braces sweep (mirrors bench.py)
        from replicadb_spark.cache import release_caches

        release_caches(spark)
        spark.catalog.clearCache()
    spark.stop()
    if json_path:
        import json

        with open(json_path, "w") as fh:
            json.dump(results, fh, indent=2)
        print(f"wrote {json_path}")
    if failures:
        print(f"\n{len(failures)} FAILURES: {failures}")
        return 1
    print("\nall queries match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
