"""Driver-style correctness checker: run each registered Spark query and its
DuckDB oracle at a given sf, compare row count + dtypes + sorted values.

Every line carries ``sha1=``: the first 12 hex digits of the SHA-1 of the
normalized Spark output (output_hash), so two trees' runs can be compared
line by line."""
import hashlib, os, sys, time, math
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
import pandas as pd
import numpy as np

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64")
    df = df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)
    return df


def output_hash(df: pd.DataFrame) -> str:
    """SHA-1 (12 hex) of the normalized frame: independent of row and
    column order, changed by any one value."""
    h = pd.util.hash_pandas_object(normalize(df), index=False)
    return hashlib.sha1(h.to_numpy().tobytes()).hexdigest()[:12]


def compare(a: pd.DataFrame, b: pd.DataFrame) -> str:
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    a, b = normalize(a), normalize(b)
    if list(a.columns) != list(b.columns):
        return f"COLS {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        if a[c].dtype != b[c].dtype:
            return f"DTYPE {c}: {a[c].dtype} vs {b[c].dtype}"
        if a[c].dtype == np.float64:
            # Bit-exact compare (modulo NaN payload): the driver's value-hash is
            # sign-sensitive, so -0.0 vs 0.0 must FAIL here too (r2 utm_roundtrip).
            av, bv = a[c].to_numpy(np.float64), b[c].to_numpy(np.float64)
            nmask = np.isnan(av)
            ok = (np.array_equal(nmask, np.isnan(bv))
                  and np.array_equal(av[~nmask].view(np.uint64), bv[~nmask].view(np.uint64)))
        else:
            ok = a[c].equals(b[c])
        if not ok:
            bad = (a[c] != b[c])
            return f"VALUES col {c}: first diffs\n{pd.concat([a[bad][c].head(3), b[bad][c].head(3)], axis=1)}"
    return "OK"


def main():
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2].split(",") if len(sys.argv) > 2 else None
    from whitebox_geospatial_analysis_tools_spark.session import get_spark
    from whitebox_geospatial_analysis_tools_spark import queries as Q

    spark = get_spark(shuffle_partitions=16)

    def fresh_con():
        c = duckdb.connect()
        for t in TABLES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return c

    con = fresh_con()

    qs, os_ = Q.all_queries(), Q.all_oracles()
    fails = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf).toPandas()
        except Exception as e:
            print(f"{name:24s} SPARK-ERROR {type(e).__name__}: {str(e)[:200]}")
            fails += 1
            continue
        t1 = time.time()
        sha = output_hash(sdf)
        if name not in os_:
            print(f"{name:24s} rows={len(sdf):7d} sha1={sha}  (no oracle)  spark={t1-t0:5.1f}s")
            continue
        try:
            odf = con.sql(os_[name]).df()
        except Exception as e:
            # a DuckDB InternalException poisons the connection and every
            # later query fails with "closed pending query result" —
            # reconnect and retry once before declaring failure
            try:
                con = fresh_con()
                odf = con.sql(os_[name]).df()
            except Exception:
                print(f"{name:24s} ORACLE-ERROR {type(e).__name__}: {str(e)[:200]}")
                fails += 1
                continue
        verdict = compare(sdf, odf)
        status = "OK " if verdict == "OK" else "FAIL"
        if verdict != "OK":
            fails += 1
        print(f"{name:24s} {status} rows={len(sdf):7d} sha1={sha} spark={t1-t0:5.1f}s duck={time.time()-t1:4.1f}s"
              + ("" if verdict == "OK" else f"  -> {verdict}"))
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
