#!/usr/bin/env python3
"""The sf0.1 floor model (r12 VERDICT #3): turn "the heavy subset is
structurally floor-bound" from an argument into a checkable record.

Joins graft.Bench's per-query census (the `census` map of
BENCH_FULL.json: jobs/stages of the kept timed pass) against BENCH_ORACLE.json's
paired numbers, CALIBRATES the per-stage floor from the floor-subset
queries themselves (median spark_sec/stages over queries under the heavy
threshold — no hand-picked constant), then decomposes every heavy query:

    floor_est  = stages x per_stage_floor
    floor_frac = floor_est / spark_sec     (1.0 -> pure structure)

A heavy query with floor_frac >= --floor-bound (default 0.6) is recorded
as floor-bound: most of its wall time is Spark's fixed per-stage
scheduling/submission cost, which a 100 TB input amortizes away (the
same queries win at x1000 on the scale board). The rest are the real
shave list. Output: FLOOR_MODEL.json (calibration + per-heavy-query
table + the non-floor-bound list), referenced next to the heavy-subset
table this model explains.

  SPARK_GRAFT_FULL_OUT=/tmp/bench_full.json sbt "runMain graft.Bench"
  python3 tools/floor_model.py --census /tmp/bench_full.json \
      --oracle BENCH_ORACLE.json --out FLOOR_MODEL.json
"""
import argparse
import json
import os
import statistics


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--census", required=True)
    ap.add_argument("--oracle", default="BENCH_ORACLE.json")
    ap.add_argument("--out", default="FLOOR_MODEL.json")
    ap.add_argument("--floor-bound", type=float, default=0.6)
    args = ap.parse_args()

    with open(args.census) as f:
        census = json.load(f)["census"]

    oracle = json.load(open(args.oracle))
    threshold = oracle.get("heavy_subset", {}).get("threshold_spark_sec", 0.4)
    rows = {r["query"]: r for r in oracle["queries"]
            if r.get("spark_sec") is not None}

    # calibrate from the floor subset: queries whose wall time IS mostly
    # structure; median is robust to the few that do real work
    per_stage_samples = [
        rows[q]["spark_sec"] / census[q]["stages"]
        for q in rows if q in census
        and rows[q]["spark_sec"] < threshold and census[q]["stages"] > 0]
    if not per_stage_samples:
        raise SystemExit("no floor-subset queries with census rows")
    per_stage = statistics.median(per_stage_samples)

    heavy = []
    for q, r in sorted(rows.items()):
        if r["spark_sec"] < threshold or q not in census:
            continue
        c = census[q]
        floor_est = round(c["stages"] * per_stage, 3)
        frac = round(floor_est / r["spark_sec"], 2) if r["spark_sec"] else None
        heavy.append({
            "query": q,
            "spark_sec": r["spark_sec"],
            "duckdb_sec": r.get("duckdb_sec"),
            "ratio": r.get("ratio"),
            "jobs": c["jobs"],
            "stages": c["stages"],
            "floor_est_sec": floor_est,
            "floor_frac": frac,
            "floor_bound": frac is not None and frac >= args.floor_bound,
        })

    shave_list = [h["query"] for h in heavy if not h["floor_bound"]]
    out = {
        "what": "sf0.1 heavy-subset floor decomposition: floor_est = "
                "stages x per_stage_floor; floor_frac >= %.2f -> the "
                "query's wall time is mostly Spark's fixed per-stage "
                "scheduling cost (amortized at scale; see the x1000 "
                "board), below -> real work, the shave list"
                % args.floor_bound,
        "census_tool": "graft.Bench census (jobs started/stages "
                       "completed in the kept timed pass, attributed by "
                       "a per-query local property, AQE re-plans "
                       "included)",
        "oracle_pairing_stamp": oracle.get("pairing", {}).get("stamp"),
        "per_stage_floor_sec": round(per_stage, 4),
        "calibration": {
            "method": "median spark_sec/stages over the floor subset "
                      "(spark_sec < threshold)",
            "n_floor_queries": len(per_stage_samples),
            "threshold_spark_sec": threshold,
            "spread_p10_p90": [
                round(statistics.quantiles(per_stage_samples, n=10)[0], 4),
                round(statistics.quantiles(per_stage_samples, n=10)[-1], 4),
            ] if len(per_stage_samples) >= 10 else None,
        },
        "heavy": heavy,
        "not_floor_bound": shave_list,
    }
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    os.replace(tmp, args.out)
    print("per-stage floor %.3f s (n=%d); heavy rows %d, floor-bound %d, "
          "shave list: %s" % (per_stage, len(per_stage_samples), len(heavy),
                              sum(1 for h in heavy if h["floor_bound"]),
                              shave_list))


if __name__ == "__main__":
    main()
