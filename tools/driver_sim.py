"""Driver simulation: run registered queries the way the external
correctness gate does — a PLAIN SparkSession (no tuned confs, default
1g driver heap unless SPARK_GRAFT_DRIVER_MEM is exported, local[8]) —
and compare each against its DuckDB oracle at sf0.01.

Usage:
    python tools/driver_sim.py                  # every registered query
    python tools/driver_sim.py name1 name2...   # specific queries

Exit code 0 iff zero failures. This is the strongest local predictor of
the external gate: the tuned-session pytest gate can mask session-conf
dependencies (time zone, ANSI mode, broadcast thresholds) that only
show under the driver's bare session.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def canon(df):
    df = df.sort_index(axis=1)
    df = df.sort_values(list(df.columns)).reset_index(drop=True)
    return df


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as e

    qs, osql = e.queries(), e.oracle_sql()
    sf = os.environ.get("DRIVER_SIM_SF_DIR", "/root/testdata/sf0.01")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )

    names = sys.argv[1:] or list(qs)

    bad = []
    for name in names:
        try:
            sdf = canon(qs[name](spark, sf).toPandas())
            if name in osql:
                odf = canon(con.execute(osql[name]).df())
                ok = sdf.shape == odf.shape and list(sdf.columns) == list(odf.columns)
                if ok:
                    for c in sdf.columns:
                        a, b = sdf[c], odf[c]
                        if str(a.dtype).startswith("datetime") or str(
                            b.dtype
                        ).startswith("datetime"):
                            a = a.astype("datetime64[us]")
                            b = b.astype("datetime64[us]")
                        if not (a.astype(str).values == b.astype(str).values).all():
                            ok = False
                            break
                if not ok:
                    bad.append((name, f"MISMATCH {sdf.shape} vs {odf.shape}"))
            elif len(sdf) == 0:
                bad.append((name, "rows-only query returned 0 rows"))
        except Exception as ex:  # noqa: BLE001 — report, don't mask siblings
            bad.append((name, f"ERR {type(ex).__name__}: {str(ex)[:140]}"))
    print(f"checked {len(names)} queries at {sf}; FAILURES: {len(bad)}")
    for n, why in bad:
        print(f"  {n} - {why}")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
