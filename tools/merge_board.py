#!/usr/bin/env python3
"""Merge fresh x-scale measurements into BENCH_SCALE_X1000.json's
`heavy_board` — the ONE sanctioned merge path (r13; replaces the retired
per-round merge_r1N_scale.py one-shots the r11/r12 ADVICE flagged for
None-division crashes, stale-ratio retention, and labels that disagreed
with the summed rows).

Per-row semantics (update-or-insert, notes preserved):
  - a Spark `TIME` line (the committed single-query logs under
    tools/sweeps/) updates `spark_x1000` and REMOVES any
    `spark_convention_override` (the row is now on the board convention);
  - a finished DuckDB number updates `duck_x1000`/`duck_reps` and clears
    any prior `duck_status`;
  - a timeout/error records `duck_x1000: null` + a taxonomy `duck_status`
    (never crashes on an absent/None err payload);
  - whenever EITHER column of a row changes, `ratio_x1000` is recomputed
    from the now-current pair or DROPPED — a stale ratio can never
    outlive the numbers it came from.

Board totals (`n_paired`, `spark_total_paired`, `duck_total_paired`,
`overall_ratio_paired`) are recomputed from exactly the rows carrying
both numbers — the labels can no longer disagree with the sum.

  python3 tools/merge_board.py --evid BENCH_SCALE_X1000.json \
      [--spark-log /tmp/x1k_r13.log ...] \
      [--duck-json /tmp/duck_r13.json ...] \
      [--tag r13] [--duck-eval "count+row-hash wrap; ..."] \
      [--note-for query "free-text provenance"] [--dry-run]

Raw inputs should be archived under tools/sweeps/ (memory rule: reboots
must not erase the provenance of a board row).
"""
import argparse
import json
import os
import re


def parse_spark_logs(paths):
    """Single-query log lines: 'TIME <name> <sec> s (min-of-N...'. Later
    files win."""
    out = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                m = re.search(r"TIME (\S+)\s+([0-9.]+) s \(min-of-", line)
                if m and m.group(1) != "__pass_total__":
                    out[m.group(1)] = float(m.group(2))
    return out


def parse_duck_jsons(paths):
    """duck_batch.py payloads ({'queries': {...}}) or bare JSONL streams."""
    out = {}
    for path in paths:
        with open(path) as f:
            text = f.read()
        try:
            payload = json.loads(text)
        except json.JSONDecodeError:
            payload = {"queries": {}}
            for line in text.splitlines():
                line = line.strip()
                if line.startswith("{"):
                    d = json.loads(line)
                    if "query" in d:
                        payload["queries"][d["query"]] = d
        conv = payload.get("convention")
        for name, d in payload.get("queries", {}).items():
            d = dict(d)
            if conv and "convention" not in d:
                d["convention"] = conv
            out[name] = d  # later files win
    return out


def duck_status(d, tag):
    """Taxonomy string for an unfinished duck row; total on any payload."""
    if d.get("timeout") is not None:
        return "DNF: timeout>%ds (%s)" % (int(float(d["timeout"])), tag)
    err = d.get("err")  # may be absent OR an explicit null
    if not err:
        return "DNF: worker died (no error payload) (%s)" % tag
    low = err.lower()
    if "temp directory size limit" in low or "no space left" in low:
        return "DNF: spill-exhausted-disk (%s) (%s)" % (err[:160], tag)
    if "memory" in low or "oom" in low:
        return "DNF: out-of-memory (%s) (%s)" % (err[:160], tag)
    return "DNF: error (%s) (%s)" % (err[:160], tag)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--evid", default="BENCH_SCALE_X1000.json")
    ap.add_argument("--board", default="heavy_board")
    ap.add_argument("--spark-log", nargs="*", default=[])
    ap.add_argument("--duck-json", nargs="*", default=[])
    ap.add_argument("--tag", default="r13")
    ap.add_argument("--duck-eval", default="")
    ap.add_argument("--note-for", nargs=2, action="append", default=[],
                    metavar=("QUERY", "TEXT"))
    ap.add_argument("--dry-run", action="store_true")
    args = ap.parse_args()

    evid = json.load(open(args.evid))
    board = evid[args.board]
    rows = {r["query"]: r for r in board["queries"]}

    spark = parse_spark_logs(args.spark_log)
    duck = parse_duck_jsons(args.duck_json)
    touched = set()

    for name, sec in spark.items():
        row = rows.setdefault(name, {"query": name})
        row["spark_x1000"] = round(sec, 3)
        row.pop("spark_convention_override", None)
        row.pop("spark_eval", None)
        touched.add(name)

    for name, d in duck.items():
        row = rows.setdefault(name, {"query": name})
        if d.get("min") is not None:
            row["duck_x1000"] = d["min"]
            if d.get("times"):
                row["duck_reps"] = d["times"]
            row.pop("duck_status", None)
            if args.duck_eval:
                row["duck_eval"] = args.duck_eval
            elif d.get("convention"):
                row["duck_eval"] = d["convention"]
        else:
            row["duck_x1000"] = None
            row["duck_status"] = duck_status(d, args.tag)
            row.pop("duck_reps", None)
        touched.add(name)

    for name in touched:
        row = rows[name]
        s, dsec = row.get("spark_x1000"), row.get("duck_x1000")
        if s is not None and dsec:  # dsec None or 0 → no ratio
            row["ratio_x1000"] = round(s / dsec, 2)
        else:
            row.pop("ratio_x1000", None)  # never retain a stale ratio
    for q, text in args.note_for:
        row = rows.setdefault(q, {"query": q})
        row["note"] = ((row.get("note", "") + " ").lstrip() + text).strip()

    # machine-checkable verdict on EVERY unpaired row (r13 VERDICT #4):
    # the DNF taxonomy must live on the row, not in prose notes. Paired
    # rows drop any stale verdict. Invariant after every merge: zero rows
    # where both duck_x1000 and `verdict` are absent.
    for row in rows.values():
        if row.get("duck_x1000") is not None:
            row.pop("verdict", None)
            continue
        status = (row.get("duck_status") or "").lower()
        if "timeout" in status:
            row["verdict"] = "dnf_timeout"
        elif "spill-exhausted-disk" in status or "no space" in status:
            row["verdict"] = "dnf_spill"
        elif ("oom" in status or "memory" in status or
              "worker died" in status):
            row["verdict"] = "dnf_worker_death"
        elif status:
            row["verdict"] = "dnf_error"
        else:
            row["verdict"] = "unpaired"

    board["queries"] = [rows[q] for q in sorted(rows)]
    paired = [r for r in board["queries"]
              if r.get("spark_x1000") is not None
              and r.get("duck_x1000") is not None]
    board["n_spark"] = sum(
        1 for r in board["queries"] if r.get("spark_x1000") is not None)
    board["n_paired"] = len(paired)
    if paired:
        st = sum(r["spark_x1000"] for r in paired)
        dt = sum(r["duck_x1000"] for r in paired)
        board["spark_total_paired"] = round(st, 2)
        board["duck_total_paired"] = round(dt, 2)
        board["overall_ratio_paired"] = round(st / dt, 2) if dt else None
    else:
        for k in ("spark_total_paired", "duck_total_paired",
                  "overall_ratio_paired"):
            board.pop(k, None)

    smoke_only = [r["query"] for r in board["queries"]
                  if r.get("spark_x1000") is None
                  and not any(k.startswith("duck") for k in r)]
    print("touched: %s" % sorted(touched))
    print("paired %d/%d  spark %.1f s  duck %.1f s  ratio %s" % (
        board["n_paired"], len(board["queries"]),
        board.get("spark_total_paired", 0.0),
        board.get("duck_total_paired", 0.0),
        board.get("overall_ratio_paired")))
    if smoke_only:
        print("STILL smoke-only (no steady spark AND no duck verdict): %s"
              % smoke_only)
    if args.dry_run:
        print("(dry run — %s not written)" % args.evid)
        return
    tmp = args.evid + ".tmp"
    with open(tmp, "w") as f:
        json.dump(evid, f, indent=1)
        f.write("\n")
    os.replace(tmp, args.evid)


if __name__ == "__main__":
    main()
