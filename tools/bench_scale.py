#!/usr/bin/env python3
"""Scale-claim measurement (VERDICT r7 #1): pair Spark vs DuckDB on the
SAME heavy-query subset at two data sizes — the driver's single-row-group
sf0.1 and a 10x multi-file copy (graft.tools.ScaleData) — all four runs in
one session, so the per-query ratio trend is a measurement, not an
argument about Spark's fixed per-job floor.

  sbt -batch "runMain graft.tools.ScaleData /root/testdata/sf0.1 /tmp/graft-x10 10 32"
  SPARK_GRAFT_ONLY=<subset> SPARK_GRAFT_FULL_OUT=/tmp/bench_sf01.json \
      SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt -batch "runMain graft.Bench"
  SPARK_GRAFT_ONLY=<subset> SPARK_GRAFT_FULL_OUT=/tmp/bench_x10.json \
      SPARK_GRAFT_SF_DIR=/tmp/graft-x10 sbt -batch "runMain graft.Bench"
  python3 tools/bench_scale.py /root/testdata/sf0.1 /tmp/graft-x10 \
      /tmp/verify_sf001/oracle_sql.json /tmp/bench_sf01.json \
      /tmp/bench_x10.json BENCH_SCALE.json

DuckDB timing is min-of-3 per (query, size) — same convention as
bench_oracle.py; Spark numbers are graft.Bench's warm min-of-2.
"""
import glob
import json
import os
import sys
import time

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(sfdir):
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sfdir, f"{t}.parquet")
        # driver layout = one file; ScaleData layout = directory of parts
        src = f"'{p}/*.parquet'" if os.path.isdir(p) else f"'{p}'"
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM {src}")
    return con


def time_queries(con, oracle, names):
    out, failed = {}, {}
    for name in names:
        times = []
        try:
            for _ in range(3):
                t0 = time.perf_counter()
                con.sql(oracle[name]).fetchall()
                times.append(time.perf_counter() - t0)
            out[name] = round(min(times), 4)
        except Exception as e:
            failed[name] = str(e).splitlines()[0]
            print(f"ERR  {name}: {failed[name]}")
    return out, failed


def main():
    sf01, x10, oracle_path, bench01_path, bench10_path = sys.argv[1:6]
    out_path = sys.argv[6] if len(sys.argv) > 6 else "BENCH_SCALE.json"
    # optional 8th arg: the BENCH_FULL.json of a single-query
    # SPARK_GRAFT_ONLY=<q> Bench run at the big size (its own warm pass,
    # then min-of-2 back to back), i.e. the SAME convention as the DuckDB
    # min-of-3 below. The subset Bench numbers are interleaved (each
    # query runs cold-ish after 25 others), which DuckDB's hot loop never
    # pays; reporting both labels the harness asymmetry instead of hiding
    # it.
    steady10 = (json.load(open(sys.argv[7]))["queries"]
                if len(sys.argv) > 7 else {})
    oracle = json.load(open(oracle_path))
    spark01 = json.load(open(bench01_path))["queries"]
    spark10 = json.load(open(bench10_path))["queries"]
    names = sorted(set(spark01) & set(spark10) & set(oracle))

    duck01, err01 = time_queries(connect(sf01), oracle, names)
    duck10, err10 = time_queries(connect(x10), oracle, names)

    size01 = sum(os.path.getsize(p) for t in TABLES
                 for p in glob.glob(os.path.join(sf01, f"{t}.parquet"))
                 + glob.glob(os.path.join(sf01, f"{t}.parquet", "*.parquet")))
    size10 = sum(os.path.getsize(p) for t in TABLES
                 for p in glob.glob(os.path.join(x10, f"{t}.parquet"))
                 + glob.glob(os.path.join(x10, f"{t}.parquet", "*.parquet")))

    rows = []
    for n in names:
        r01 = (round(spark01[n] / duck01[n], 2)
               if n in duck01 and duck01[n] > 0 and spark01[n] >= 0 else None)
        r10 = (round(spark10[n] / duck10[n], 2)
               if n in duck10 and duck10[n] > 0 and spark10[n] >= 0 else None)
        s10 = steady10.get(n)
        rows.append({
            "query": n,
            "spark_sf01": spark01[n], "duck_sf01": duck01.get(n),
            "ratio_sf01": r01,
            "spark_x10": spark10[n], "duck_x10": duck10.get(n),
            "ratio_x10": r10,
            "spark_steady_x10": s10,
            "ratio_steady_x10": (round(s10 / duck10[n], 2)
                                 if s10 and n in duck10 and duck10[n] > 0
                                 else None),
            "spark_scaleup": (round(spark10[n] / spark01[n], 2)
                              if spark01[n] > 0 and spark10[n] >= 0 else None),
            "duck_scaleup": (round(duck10[n] / duck01[n], 2)
                             if n in duck01 and n in duck10 and duck01[n] > 0
                             else None),
            "err": err01.get(n) or err10.get(n),
        })

    paired = [r for r in rows if r["ratio_sf01"] and r["ratio_x10"]]
    improved = [r for r in paired if r["ratio_x10"] < r["ratio_sf01"]]
    was_weak = [r for r in paired if r["ratio_sf01"] > 2.0]
    now_ok = [r for r in was_weak if r["ratio_x10"] <= 2.0]
    summary = {
        "n": len(paired),
        "bytes_sf01": size01, "bytes_x10": size10,
        "spark_total_sf01": round(sum(r["spark_sf01"] for r in paired), 2),
        "spark_total_x10": round(sum(r["spark_x10"] for r in paired), 2),
        "duck_total_sf01": round(sum(r["duck_sf01"] for r in paired), 2),
        "duck_total_x10": round(sum(r["duck_x10"] for r in paired), 2),
        "overall_ratio_sf01": round(sum(r["spark_sf01"] for r in paired)
                                    / sum(r["duck_sf01"] for r in paired), 2),
        "overall_ratio_x10": round(sum(r["spark_x10"] for r in paired)
                                   / sum(r["duck_x10"] for r in paired), 2),
        "ratio_fell": len(improved),
        "weak_at_sf01": len(was_weak),
        "weak_recovered_at_x10": len(now_ok),
        "still_weak_at_x10": sorted(r["query"] for r in paired
                                    if r["ratio_x10"] > 2.0),
    }
    steadied = [r for r in paired if r["ratio_steady_x10"]]
    if steadied:
        summary["overall_ratio_steady_x10"] = round(
            sum(r["spark_steady_x10"] for r in steadied)
            / sum(r["duck_x10"] for r in steadied), 2)
        summary["still_weak_steady_x10"] = sorted(
            r["query"] for r in steadied if r["ratio_steady_x10"] > 2.0)
    result = {"summary": summary, "queries": rows}
    json.dump(result, open(out_path, "w"), indent=1)
    print(json.dumps(summary, indent=1))
    for r in sorted(paired, key=lambda r: -(r["ratio_sf01"] or 0)):
        print(f"{r['query']:28s} sf01 {r['spark_sf01']:7.2f}/"
              f"{r['duck_sf01']:7.2f} = {r['ratio_sf01']:6.2f}   "
              f"x10 {r['spark_x10']:7.2f}/{r['duck_x10']:7.2f} = "
              f"{r['ratio_x10']:6.2f}")


if __name__ == "__main__":
    main()
