"""Local stand-in for the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over the
same parquet tables, compares row count, sorted column names, and an
order-insensitive value hash. Usage:

    python tools/check_correctness.py [sf_dir] [query ...]

Canonicalization mirrors the driver exactly: both results go THROUGH pandas
(Spark .toPandas(), DuckDB .df()) so engine-side dtype quirks surface here
too — DuckDB sum(BIGINT) -> HUGEINT -> float64 renders '1.23e8' vs Spark's
int64 '123...' (the round-1 hash-mismatch class), and list-valued cells make
pandas sort_values raise TypeError (the round-1 array-column ERROR class).
Do NOT "fix" either here; fix the query/oracle instead.
"""

from __future__ import annotations

import hashlib
import math
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = ["documents", "embeddings"]


def canon(value) -> str:
    """Render one pandas cell; str() keeps the int-vs-float distinction
    (float64 123.0 -> '123.0', int64 123 -> '123') like the driver does."""
    if value is None:
        return "<NULL>"
    if isinstance(value, float) and math.isnan(value):
        return "<NULL>"
    if isinstance(value, (bool,)) or str(type(value)).endswith("bool_'>"):
        return str(bool(value))
    return str(value)


def frame_hash(pdf: pd.DataFrame) -> tuple[str, int, list[str]]:
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # sort_values over every column — raises TypeError on list cells, which
    # is exactly what the driver's canonicalizer does (keep that behavior)
    if len(pdf):
        pdf = pdf.sort_values(by=cols).reset_index(drop=True)
    lines = sorted(
        "\x1f".join(canon(v) for v in row)
        for row in pdf.itertuples(index=False, name=None)
    )
    h = hashlib.md5("\n".join(lines).encode()).hexdigest()
    return h, len(pdf), cols


def main() -> int:
    args = list(sys.argv[1:])
    json_path = None
    if "--json" in args:
        i = args.index("--json")
        json_path = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    # exactly what the driver runs: the entry module's registries (includes
    # the rows-only entries the battery module alone does not)
    import __spark_entry__ as entry
    from language_identification_spark.session import get_spark

    QUERIES = entry.queries()
    ORACLE_SQL = entry.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    spark = get_spark("check", cores=8, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    failures = []
    report: dict[str, dict] = {}

    def record(name, *, rows_match=False, schema_match=False, hash_match=False,
               spark_rows=None, oracle_rows=None, err=None):
        report[name] = {
            "rows_match": rows_match, "schema_match": schema_match,
            "hash_match": hash_match, "spark_rows": spark_rows,
            "oracle_rows": oracle_rows, "err": err,
        }

    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        try:
            s_pdf = fn(spark, sf_dir).toPandas()
            sh, sn, sc = frame_hash(s_pdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark/canon error: {e}")
            failures.append(name)
            record(name, err=f"spark: {e}")
            continue
        if name not in ORACLE_SQL:
            print(f"okNA {name}: rows={sn} (no oracle, rows-only)")
            record(name, spark_rows=sn, err="no oracle (rows-only)")
            continue
        try:
            d_pdf = con.execute(ORACLE_SQL[name]).df()
            dh, dn, dc = frame_hash(d_pdf)
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: duckdb/canon error: {e}")
            failures.append(name)
            record(name, spark_rows=sn, err=f"duckdb: {e}")
            continue
        record(name, rows_match=sn == dn, schema_match=sc == dc,
               hash_match=sh == dh, spark_rows=sn, oracle_rows=dn)
        if sc != dc:
            print(f"FAIL {name}: columns {sc} vs {dc}")
            failures.append(name)
        elif sn != dn:
            print(f"FAIL {name}: rows {sn} vs {dn}")
            failures.append(name)
        elif sh != dh:
            print(f"FAIL {name}: value hash mismatch ({sn} rows)")
            s_set = {
                "\x1f".join(canon(v) for v in row)
                for row in s_pdf[sorted(s_pdf.columns)].itertuples(index=False, name=None)
            }
            d_set = {
                "\x1f".join(canon(v) for v in row)
                for row in d_pdf[sorted(d_pdf.columns)].itertuples(index=False, name=None)
            }
            for x in sorted(s_set - d_set)[:3]:
                print(f"  spark-only: {x[:160]}")
            for x in sorted(d_set - s_set)[:3]:
                print(f"  duck-only:  {x[:160]}")
            failures.append(name)
        else:
            print(f"OK   {name}: rows={sn} hash={sh[:12]}")
    spark.stop()
    if json_path:
        import json as _json

        with open(json_path, "w") as f:
            _json.dump(report, f, indent=2)
        print(f"wrote {json_path} ({len(report)} entries)")
    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
