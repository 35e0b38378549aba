"""Local replica of the driver's correctness gate: run each registered
query in Spark AND its oracle SQL in DuckDB on the same parquet tables,
compare row count, column names, and order-insensitive values. A
rows-only query (no oracle) fails when it returns no rows.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# rows-only entries that are empty exactly when their reference corpus
# is absent: reported as skipped then, never as ok
REFERENCE_EVALS = {"dnrti_eval": "dnrti", "malwaredb_eval": "malwaredb"}


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Replicate the driver's canonicalization: columns sorted by name,
    rows sorted by all columns, index dropped. Dtypes are preserved —
    the driver's value hash is dtype-sensitive (DuckDB HUGEINT sums vs
    Spark int64 hash differently), so the compare below must be too."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def typed_mismatch(s: pd.DataFrame, d: pd.DataFrame) -> str | None:
    """Dtype-kind + exact-value comparison (driver-hash analog)."""
    for c in s.columns:
        sk, dk = s[c].dtype.kind, d[c].dtype.kind
        if sk != dk:
            return f"col {c}: dtype kind spark={s[c].dtype} duckdb={d[c].dtype}"
        if not s[c].equals(d[c].astype(s[c].dtype, copy=False)):
            bad = s[c][~(s[c].eq(d[c]) | (s[c].isna() & d[c].isna()))]
            i = bad.index[0] if len(bad) else 0
            return f"col {c}: value diff at row {i}: spark={s[c].iloc[i]!r} duckdb={d[c].iloc[i]!r}"
    return None


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as entry
    from ner4cti_spark.session import get_spark
    from ner4cti_spark.training import CORPORA, corpus_available

    spark = get_spark(cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    ok = skipped = failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        sql = oracles.get(name)
        try:
            sdf = fn(spark, sf_dir)
            spdf = sdf.toPandas()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if sql is None:
            try:
                canon(spdf)  # rows-only still must survive driver canonicalization
            except Exception as e:  # noqa: BLE001
                print(f"FAIL {name}: rows-only canonicalization error (driver would crash): {e}")
                failures += 1
                continue
            corpus = REFERENCE_EVALS.get(name)
            if len(spdf):
                print(f"ok(rows-only) {name}: {len(spdf)} rows")
                ok += 1
            elif corpus and not corpus_available(corpus):
                print(f"SKIP {name}: 0 rows (no corpus at {CORPORA[corpus]['path']})")
                skipped += 1
            else:
                print(f"FAIL {name}: rows-only result is empty")
                failures += 1
            continue
        try:
            dpdf = con.execute(sql).df()
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {e}")
            failures += 1
            continue
        if sorted(spdf.columns) != sorted(dpdf.columns):
            print(f"FAIL {name}: columns spark={sorted(spdf.columns)} duckdb={sorted(dpdf.columns)}")
            failures += 1
            continue
        if len(spdf) != len(dpdf):
            print(f"FAIL {name}: rowcount spark={len(spdf)} duckdb={len(dpdf)}")
            failures += 1
            continue
        try:
            sn, dn = canon(spdf), canon(dpdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: canonicalization error (driver would crash): {e}")
            failures += 1
            continue
        bad = typed_mismatch(sn, dn)
        if bad:
            print(f"FAIL {name}: {bad}")
            failures += 1
            continue
        print(f"OK   {name}: {len(sn)} rows")
        ok += 1
    print(f"\n{ok} ok, {skipped} skipped, {failures} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
