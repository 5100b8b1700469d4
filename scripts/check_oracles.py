"""Self-check: replicate the driver's correctness gate locally.

Runs every `queries()` entry on Spark and its `oracle_sql()` on DuckDB over
the same sf parquet tables, then compares row count, sorted-by-name column
sets, and an order-insensitive value hash — the same comparison the driver
records in CORRECTNESS_r{N}.json.

Usage: python scripts/check_oracles.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("events", "documents", "embeddings")


def canon_hash(pdf) -> tuple:
    """Driver-faithful canonicalization over a pandas frame: columns sorted
    by name, rows sorted, values + DTYPES hashed. Returns (hash, dtypes,
    problem). Unlike a fetchall()/repr compare, this catches (a) DuckDB
    HUGEINT (int128 → object/float in pandas) vs Spark BIGINT (int64) —
    identical values, different dtype, driver hash_match=false — and (b)
    list-typed columns, which crash the driver's sort_values canonicalizer
    (round-1 err: unhashable type 'list')."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    problem = None
    canon = []
    dtypes = []
    for c in cols:
        s = pdf[c]
        # dtype KIND, not width: the round-1 driver passed int32-vs-int64
        # but failed int64-vs-HUGEINT→float64/object (error_report etc.),
        # so integer width is invisible to it while numeric class is not.
        dtypes.append(s.dtype.kind)
        if s.dtype == object and s.map(
            lambda v: isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray"
        ).any():
            problem = f"column {c!r} holds array values (driver canonicalizer crashes)"
    for _, row in pdf.iterrows():
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = f"{v:.6g}"
            elif isinstance(v, bytes):
                v = v.hex()
            else:
                v = str(v)
            vals.append(v)
        canon.append("|".join(vals))
    canon.sort()
    digest = hashlib.md5(
        ("\n".join(canon) + "\n#dtypes:" + ",".join(dtypes)).encode()
    ).hexdigest()[:16]
    return digest, dtypes, problem


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from ankiocr_spark.session import get_spark

    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entry.queries()
    oracles = entry.oracle_sql()
    unknown = only - set(qs)
    if unknown:
        # an unmatched name would silently check NOTHING and print the
        # all-green footer — fail loudly instead
        print(f"unknown query names: {sorted(unknown)}", file=sys.stderr)
        return 2
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        sdf = fn(spark, sf_dir)
        spdf = sdf.toPandas()
        scols = list(spdf.columns)
        if name not in oracles:
            print(f"{name:24s} rows={len(spdf):7d}  (no oracle — rows-only)")
            continue
        opdf = con.execute(oracles[name]).df()
        ocols = list(opdf.columns)
        ok_rows = len(spdf) == len(opdf)
        ok_cols = sorted(scols) == sorted(ocols)
        sh, sdt, sprob = canon_hash(spdf)
        oh, odt, oprob = canon_hash(opdf)
        ok_hash = sh == oh
        ok_prob = sprob is None and oprob is None
        status = "OK " if (ok_rows and ok_cols and ok_hash and ok_prob) else "FAIL"
        print(
            f"{name:24s} {status} rows {len(spdf)}/{len(opdf)} "
            f"cols={'=' if ok_cols else sorted(scols)!r} hash {sh}/{oh}"
        )
        if status == "FAIL":
            failures.append(name)
            if not ok_cols:
                print(f"  spark cols: {sorted(scols)}\n  duck  cols: {sorted(ocols)}")
            if sdt != odt:
                print(f"  spark dtypes: {sdt}\n  duck  dtypes: {odt}")
            for side, prob in (("spark", sprob), ("duck", oprob)):
                if prob:
                    print(f"  {side}: {prob}")
    spark.stop()
    if failures:
        print("FAILURES:", failures)
        return 1
    print("all oracles match")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
