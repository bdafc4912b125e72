"""Driver simulation: entry() smoke + first-N registry queries vs DuckDB.

Mirrors the external driver's contract check in a fresh process with a
plain (untuned) SparkSession: runs entry(), then compares each of the
first SIM_N registry queries against its oracle_sql() on SIM_SF's
parquet (column-sorted, order-insensitive, None-safe multiset compare).

Usage:
  SIM_N=200 python scripts/driver_sim.py          # full registry
  SIM_N=20 SIM_SF=/root/testdata/sf0.01 python scripts/driver_sim.py
  TZ=America/New_York SIM_N=20 python scripts/driver_sim.py  # TZ probe
  SIM_OUT=CORRECTNESS_FULL_r09.json SIM_N=200 python scripts/driver_sim.py
      # additionally write a per-query JSON artifact (the committed
      # full-registry evidence the driver's ~50-query window can't show)
Exit code 0 = PASS.
"""
import sys, os, math, json, datetime as dt
from decimal import Decimal
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import duckdb
from pyspark.sql import SparkSession

N = int(os.environ.get("SIM_N", "18"))
SF = os.environ.get("SIM_SF", "/root/testdata/sf0.01")
OUT = os.environ.get("SIM_OUT")
ONLY = [s for s in os.environ.get("SIM_ONLY", "").split(",") if s]

import __spark_entry__ as e
from healthcare_aihw_etl_pipeline_spark import session
spark = SparkSession.builder.master(f"local[{session.local_cpus()}]").getOrCreate()

df = e.entry(spark)
rows = df.collect()
print(f"entry: rows={len(rows)} schema={[f.name for f in df.schema.fields]}")
assert len(rows) >= 0

con = duckdb.connect()
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    p = f"{SF}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def skey(row):
    return tuple((c is None, repr(c)) for c in row)

def norm(v):
    if v is None: return None
    if isinstance(v, Decimal): return str(v.normalize())
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(round(v, 6))
    if isinstance(v, dt.datetime): return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date): return v.isoformat()
    if isinstance(v, (list, tuple)): return tuple(norm(x) for x in v)
    return v

qs = e.queries(); osql = e.oracle_sql()
# SIM_ALT_ORACLE=1: substitute each registered alt_oracle (a second,
# independently-written DuckDB formulation whose single-node cost
# stays feasible at sf10) for the primary. Used ONLY by the sf10
# window replay — the driver contract and every sf0.01 sweep grade
# the primary oracles.
if os.environ.get("SIM_ALT_ORACLE") == "1":
    from healthcare_aihw_etl_pipeline_spark.plans.registry import REGISTRY as _REG
    n_alt = 0
    for _n, _q in _REG.items():
        if _q.alt_oracle is not None and _n in osql:
            osql[_n] = _q.alt_oracle
            n_alt += 1
    print(f"SIM_ALT_ORACLE: substituted {n_alt} alternative oracle(s)")
names = ONLY if ONLY else list(qs)[:N]
# SIM_RELEASE=1 (default for full-registry sweeps): evict each query's
# prepared-plan cache entry after comparing. The cache is a SERVING
# feature (repeat executions of the same query); a one-shot sweep never
# re-executes, and 230+ cached plans pin their broadcasts/checkpoint
# blocks in the driver heap — measured: the 239-query sweep exhausts a
# default heap around query ~220 without eviction.
RELEASE = os.environ.get("SIM_RELEASE", "1" if not ONLY else "0") == "1"
if RELEASE:
    from healthcare_aihw_etl_pipeline_spark.plans import registry as _reg
bad = []
report = {}
for name in names:
    try:
        sdf = qs[name](spark, SF)
        cols = sorted(sdf.columns)
        srows = sorted((tuple(norm(r[c]) for c in cols) for r in sdf.collect()), key=skey)
        if name not in osql:
            print(f"{name}: rows={len(srows)} (no oracle)")
            report[name] = {"rows": len(srows), "oracle": False,
                            "status": "rows_only"}
            continue
        rel = con.execute(osql[name])
        dcols = sorted(d[0] for d in rel.description)
        draws = rel.fetchall()
        dmap = [d[0] for d in rel.description]
        drows = sorted((tuple(norm(row[dmap.index(c)]) for c in dcols) for row in draws), key=skey)
        ok_cols = cols == dcols
        ok_cnt = len(srows) == len(drows)
        ok_val = srows == drows
        status = "OK" if (ok_cols and ok_cnt and ok_val) else f"FAIL cols={ok_cols} cnt={ok_cnt}({len(srows)}/{len(drows)}) val={ok_val}"
        print(f"{name}: {status}")
        report[name] = {"rows": len(srows), "oracle": True,
                        "schema_ok": ok_cols, "count_ok": ok_cnt,
                        "values_ok": ok_val,
                        "status": "ok" if status == "OK" else "fail"}
        if not (ok_cols and ok_cnt and ok_val):
            bad.append(name)
            if not ok_val and ok_cnt:
                for a, b in zip(srows, drows):
                    if a != b:
                        print("  spark:", a); print("  duck :", b); break
    except Exception as ex:
        print(f"{name}: ERROR {type(ex).__name__}: {ex}")
        report[name] = {"oracle": name in osql, "status": "error",
                        "error": f"{type(ex).__name__}: {ex}"[:200]}
        bad.append(name)
    finally:
        if RELEASE:
            _reg.invalidate(name=name)
if OUT:
    summary = {
        "sf_dir": SF,
        "n_queries": len(names),
        "n_ok": sum(1 for r in report.values() if r["status"] == "ok"),
        "n_rows_only": sum(1 for r in report.values() if r["status"] == "rows_only"),
        "n_fail": sum(1 for r in report.values() if r["status"] in ("fail", "error")),
    }
    with open(OUT, "w") as f:
        json.dump({"summary": summary, "queries": report}, f, indent=1)
    print(f"wrote {OUT}: {summary}")
print("RESULT:", "PASS" if not bad else f"FAIL {bad}")
sys.exit(1 if bad else 0)
