#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: compare Verify output
parquet against DuckDB oracle results (sorted columns, sorted rows,
exact value equality)."""
import sys, json, glob
import pandas as pd

def canon(df):
    # STRICT mirror of the driver's hash: no dtype coercion. Every value is
    # rendered to its str() form (so Decimal('1.4000') != 1.4, int 12 != 12.0)
    # and rows are sorted on the rendered strings. If this passes, the
    # driver's hash_match passes; the round-1 version coerced Decimal->float
    # and masked exactly the 6 hash failures the driver reported.
    def render(v):
        if v is None:
            return "NULL"
        try:
            if pd.isna(v):
                return "NULL"
        except (TypeError, ValueError):
            pass  # arrays/lists: not null
        return str(v)
    df = df[sorted(df.columns)]
    for c in df.columns:
        df[c] = df[c].map(render)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df

def values_equal(a, b):
    return a == b

if __name__ == "__main__":
    import duckdb

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
    only = sys.argv[3:] if len(sys.argv) > 3 else None

    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))

    fails = []
    checked = 0
    for name, sql in sorted(oracle.items()):
        if only and name not in only:
            continue
        checked += 1
        files = glob.glob(f"{out_dir}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output")
            fails.append(name)
            continue
        try:
            spark_df = canon(pd.concat([pd.read_parquet(f) for f in files]))
            duck_df = canon(con.execute(sql).fetchdf())
        except Exception as e:
            print(f"FAIL {name}: {type(e).__name__}: {e}")
            fails.append(name)
            continue
        if list(spark_df.columns) != list(duck_df.columns):
            print(f"FAIL {name}: columns {list(spark_df.columns)} vs {list(duck_df.columns)}")
            fails.append(name)
            continue
        if len(spark_df) != len(duck_df):
            print(f"FAIL {name}: rows {len(spark_df)} vs {len(duck_df)}")
            fails.append(name)
            continue
        mismatch = None
        for c in spark_df.columns:
            sv, dv = spark_df[c].tolist(), duck_df[c].tolist()
            bad = [(i, a, b) for i, (a, b) in enumerate(zip(sv, dv)) if not values_equal(a, b)]
            if bad:
                mismatch = (c, bad[:3], len(bad))
                break
        if mismatch:
            c, examples, n = mismatch
            print(f"FAIL {name}: col {c}: {n} mismatches, e.g. {examples}")
            fails.append(name)
        else:
            print(f"OK   {name} ({len(spark_df)} rows)")

    print(f"\n{checked - len(fails)}/{checked} oracle queries match")
    sys.exit(1 if fails else 0)
