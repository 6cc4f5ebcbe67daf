#!/usr/bin/env python3
"""Baseline tracker: time every oracle SQL in DuckDB over the same parquet
the Spark bench reads, and emit per-query Spark/DuckDB ratios.

The reference publishes no performance numbers (BASELINE.md), so the only
reproducible baseline is the oracle engine itself executing the identical
semantics on identical data. Run after a bench, on the full per-query
file graft.Bench writes (SPARK_GRAFT_FULL_OUT, BENCH_FULL.json by default;
its compact stdout line carries only the slowest queries):

  sbt -batch "runMain graft.Verify <sf0.01 dir> /tmp/verify_sf001"
  SPARK_GRAFT_SF_DIR=<sf0.1 dir> SPARK_GRAFT_FULL_OUT=/tmp/bench.json \
      sbt -batch "runMain graft.Bench"
  python3 tools/bench_oracle.py <sf0.1 dir> /tmp/verify_sf001 \
      /tmp/bench.json BENCH_ORACLE.json

Per-query timing is min-of-2 (same convention as graft.Bench). Queries whose
oracle reads fixed sample files rather than the sf dir are timed too but
flagged `fixed_input` since they don't scale with sf; the set comes from each
bench file's "fixed_input" field, and a bench file without it is an error.
"""
import json, sys, time

import duckdb

sfdir, oracledir = sys.argv[1], sys.argv[2]
# argv[3] may be a comma-separated list of bench JSONs from REPEATED Bench
# runs; per-query spark time = min across runs (symmetric with DuckDB's
# min-of-N below — both engines get their best observation, which is the
# standard way to suppress host noise)
bench_path = sys.argv[3] if len(sys.argv) > 3 else None
out_path = sys.argv[4] if len(sys.argv) > 4 else None

con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracle = json.load(open(f"{oracledir}/oracle_sql.json"))
bench = {}
# queries reading the fixed reference sample, not the sf dir: the entries
# flagged fixedInput in SparkEntry.queries, published in the full bench file
FIXED_INPUT = set()
if bench_path:
    bench_files = [(bp, json.load(open(bp))) for bp in bench_path.split(",")]
    missing = [bp for bp, b in bench_files if "fixed_input" not in b]
    if missing:
        sys.exit("bench file(s) without \"fixed_input\" (pass the full file "
                 "graft.Bench writes, BENCH_FULL.json by default): "
                 + ", ".join(missing))
    for bp, b in bench_files:
        for q, t in b.get("queries", {}).items():
            bench[q] = min(bench[q], t) if q in bench else t
        FIXED_INPUT |= set(b["fixed_input"])

rows = []
total_duck = 0.0
for name, sql in sorted(oracle.items()):
    times = []
    err = None
    for _ in range(3):
        t0 = time.perf_counter()
        try:
            con.sql(sql).fetchall()
        except Exception as e:
            err = str(e).splitlines()[0]
            print(f"ERR  {name}: {e}")
            break
        times.append(time.perf_counter() - t0)
    if err is not None:
        # record the failure instead of silently dropping the query from
        # rows/totals — an errored oracle must be visible in the output
        rows.append({"query": name, "duckdb_sec": None, "spark_sec":
                     bench.get(name), "ratio": None, "err": err,
                     "fixed_input": name in FIXED_INPUT})
        continue
    duck = min(times)
    total_duck += duck
    spark = bench.get(name)
    rows.append({
        "query": name,
        "duckdb_sec": round(duck, 4),
        "spark_sec": round(spark, 4) if spark is not None else None,
        "ratio": round(spark / duck, 2)
        if spark is not None and duck > 0 else None,
        "fixed_input": name in FIXED_INPUT,
    })

scaled = [r for r in rows if r["spark_sec"] is not None
          and r["duckdb_sec"] is not None and not r["fixed_input"]]
total_spark = sum(r["spark_sec"] for r in scaled)
total_duck_scaled = sum(r["duckdb_sec"] for r in scaled)
# decomposition: sub-0.4s Spark queries measure the fixed per-job floor
# (job submission + stage scheduling), which DuckDB's in-process execution
# does not pay and which amortizes away as data scales; the heavy subset is
# where plan quality actually shows
heavy = [r for r in scaled if r["spark_sec"] >= 0.4]
light = [r for r in scaled if r["spark_sec"] < 0.4]
def _ratio(rs):
    sd = sum(r["duckdb_sec"] for r in rs)
    return round(sum(r["spark_sec"] for r in rs) / sd, 2) if sd > 0 else None
summary = {
    "sf_dir": sfdir,
    "queries": rows,
    "benched_total_spark_sec": round(total_spark, 3),
    "benched_total_duckdb_sec": round(total_duck_scaled, 3),
    "overall_ratio": round(total_spark / total_duck_scaled, 2)
    if total_duck_scaled > 0 else None,
    "heavy_subset": {"n": len(heavy), "threshold_spark_sec": 0.4,
                     "ratio": _ratio(heavy)},
    "floor_subset": {"n": len(light), "spark_sec": round(
        sum(r["spark_sec"] for r in light), 2), "ratio": _ratio(light),
        "note": "dominated by Spark's fixed ~0.1-0.3s per-job floor; "
                "inverts as data scales"},
    "timing": "min-of-3 DuckDB; min over min-of-2 Bench runs for Spark",
}

for r in sorted(scaled, key=lambda r: -(r["ratio"] or 0))[:15]:
    print(f'{r["query"]:28s} spark {r["spark_sec"]:7.3f}  duck {r["duckdb_sec"]:7.3f}  ratio {r["ratio"]}')
print(f'\nTOTAL (benched, sf-scaled)     spark {total_spark:7.3f}  duck {total_duck_scaled:7.3f}  '
      f'ratio {summary["overall_ratio"]}')

if out_path:
    json.dump(summary, open(out_path, "w"), indent=1)
    print(f"wrote {out_path}")
