#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 scripts/selfcheck.py [sfDir] [outDir]

Expects `sbt "runMain graft.Verify <sfDir> <outDir>"` to have produced
<outDir>/<query>/ parquet dirs + <outDir>/oracle_sql.json. Runs each oracle
in DuckDB over the same tables and compares: columns sorted by name, rows
sorted by all columns, exact match for non-floats, bitwise-with-report for
floats (our queries are engineered to be bit-deterministic).
"""
import sys, json, glob, math, os
import duckdb
import pyarrow.parquet as pq

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"

con = duckdb.connect()
for p in glob.glob(f"{sf}/*.parquet"):
    name = p.split("/")[-1].replace(".parquet", "")
    # GenScale tiers are Spark-written DIRECTORIES; the shipped tiers are
    # single files — glob the dir form
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")

oracle = json.load(open(f"{out}/oracle_sql.json"))
fails = []
for name, sql in sorted(oracle.items()):
    try:
        files = glob.glob(f"{out}/{name}/*.parquet")
        if not files:
            print(f"FAIL {name}: no spark output"); fails.append(name); continue
        spark_df = pq.read_table(files).to_pandas()
        duck_df = con.execute(sql).fetchdf()
        sc, dc = sorted(spark_df.columns), sorted(duck_df.columns)
        if sc != dc:
            print(f"FAIL {name}: cols spark={sc} duck={dc}"); fails.append(name); continue
        a = spark_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
        b = duck_df[sc].sort_values(sc, kind="mergesort").reset_index(drop=True)
        if len(a) != len(b):
            print(f"FAIL {name}: rows spark={len(a)} duck={len(b)}"); fails.append(name); continue
        bad = None
        for c in sc:
            av, bv = a[c], b[c]
            try:
                import pandas as pd
                # the driver hashes TYPED values: numeric columns whose
                # kinds differ (int vs float vs uint, e.g. DuckDB HUGEINT
                # -> float, UBIGINT -> uint64) mismatch even when values
                # compare equal
                ak, bk = av.dtype.kind, bv.dtype.kind
                if ak != bk and ak in "iuf" and bk in "iuf":
                    bad = (c, str(av.dtype), str(bv.dtype), "dtype-kind-mismatch"); break
                # decimal128 columns land as object(Decimal) on one side but
                # float64/int64 on the other (e.g. DuckDB DECIMAL(38,0) ->
                # float64, Spark parquet decimal -> Decimal objects): the
                # driver's typed hash mismatches even when values agree
                import decimal
                def _is_dec(s):
                    nn = s.dropna()
                    return len(nn) > 0 and isinstance(nn.iloc[0], decimal.Decimal)
                if ak != bk and (("O" == ak and _is_dec(av) and bk in "iuf") or
                                 ("O" == bk and _is_dec(bv) and ak in "iuf")):
                    bad = (c, str(av.dtype), str(bv.dtype), "decimal-vs-numeric-dtype"); break
                if av.dtype.kind == "f" or bv.dtype.kind == "f":
                    av_ = av.astype(float); bv_ = bv.astype(float)
                    neq = ~((av_ == bv_) | (av_.isna() & bv_.isna()))
                    if neq.any():
                        i = neq.idxmax()
                        bad = (c, av_[i], bv_[i], float(abs(av_[i]-bv_[i]))); break
                else:
                    avs = av.astype(str); bvs = bv.astype(str)
                    neq = avs != bvs
                    if neq.any():
                        i = neq.idxmax()
                        bad = (c, av[i], bv[i], None); break
            except Exception as e:
                bad = (c, "cmp-error", str(e)[:80], None); break
        if bad:
            c, x, y, diff = bad
            print(f"FAIL {name}: col={c} spark={x!r} duck={y!r} diff={diff}")
            fails.append(name)
        else:
            print(f"PASS {name} ({len(a)} rows)")
    except Exception as e:
        print(f"FAIL {name}: {type(e).__name__}: {str(e)[:200]}"); fails.append(name)

print(f"\n{len(oracle)-len(fails)}/{len(oracle)} PASS")
sys.exit(1 if fails else 0)
