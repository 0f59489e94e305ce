#!/usr/bin/env python3
"""Local pre-check of SparkEntry oracles, mimicking the driver's compare:
run each oracle SQL in DuckDB over the sf parquet tables, load the Spark
result parquet, sort columns by name, sort rows, compare values.
Each OK/FAIL line ends with the query's DuckDB seconds (oracle SQL run
and fetch) and compare seconds (Spark result read, canonicalisation and
compare); the ten slowest queries are listed after the totals.

Usage: check_oracle.py <sfDir> <verifyOutDir>
"""
import json, math, sys, time
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    return repr(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        out.append(tuple(norm(r[i]) for i in order))
    out.sort()
    return [cols[i] for i in order], out

def main(sf_dir, out_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    timings = []
    for name, sql in sorted(oracles.items()):
        t0 = time.monotonic()
        t_duck = None
        def secs():
            # DuckDB seconds, then compare seconds (0 when DuckDB failed)
            now = time.monotonic()
            d = now - t0 if t_duck is None else t_duck - t0
            c = 0.0 if t_duck is None else now - t_duck
            timings.append((d + c, d, c, name))
            return f"[duckdb {d:.2f}s, compare {c:.2f}s]"
        try:
            oc = con.execute(sql)
            o_cols = [d[0] for d in oc.description]
            o_rows = oc.fetchall()
        except Exception as e:
            print(f"FAIL {name}: duckdb error: {e} {secs()}")
            n_bad += 1
            continue
        t_duck = time.monotonic()
        try:
            sc = con.execute(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols = [d[0] for d in sc.description]
            s_rows = sc.fetchall()
        except Exception as e:
            print(f"FAIL {name}: spark result missing: {e} {secs()}")
            n_bad += 1
            continue
        oc_c, oc_r = canon(o_cols, o_rows)
        sc_c, sc_r = canon(s_cols, s_rows)
        if oc_c != sc_c:
            print(f"FAIL {name}: columns differ: oracle={oc_c} spark={sc_c} {secs()}")
            n_bad += 1
        elif oc_r != sc_r:
            diff = [(a, b) for a, b in zip(oc_r, sc_r) if a != b][:3]
            extra = abs(len(oc_r) - len(sc_r))
            print(f"FAIL {name}: rows differ (o={len(oc_r)} s={len(sc_r)}, {extra} count diff) {secs()}")
            for a, b in diff:
                print(f"   oracle: {a}\n   spark : {b}")
            n_bad += 1
        else:
            print(f"OK   {name} ({len(sc_r)} rows) {secs()}")
            n_ok += 1
    print(f"\n{n_ok} ok, {n_bad} bad")
    print("\nslowest queries (total, duckdb, compare seconds):")
    for total, d, c, name in sorted(timings, reverse=True)[:10]:
        print(f"  {total:8.2f} {d:8.2f} {c:8.2f}  {name}")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
