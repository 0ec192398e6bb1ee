#!/usr/bin/env python3
"""Automated per-mover A/B adjudication (r13 verdict ask #10, the r05/r13
playbook made standard): find queries whose per-query min regressed >=
threshold between two BENCH_FULL jsons, run ONE dedicated `graft.Tools bench-one` batch on
HEAD, and append a verdict table to BENCH_NOTES.md. A mover whose A/B min
recovers the old time is host noise; one that reproduces the regressed time
is engine-attributed and needs a look.

Usage: movers_ab.py OLD_FULL.json NEW_FULL.json [thresh=1.3] [reps=3]

The A/B runs at SPARK_GRAFT_CPUS cores, 32 when unset: the BENCH_FULL
campaigns it is compared against ran at local[32].
"""
import datetime
import json
import os
import re
import subprocess
import sys


def main():
    old_p, new_p = sys.argv[1], sys.argv[2]
    thresh = float(sys.argv[3]) if len(sys.argv) > 3 else 1.3
    reps = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    old, new = json.load(open(old_p)), json.load(open(new_p))
    movers = []
    for q in sorted(set(old["queries"]) & set(new["queries"])):
        o, n = old["queries"][q]["min"], new["queries"][q]["min"]
        # absolute floor: a 0.06->0.09 s wiggle is never worth a rerun
        if n / o >= thresh and n - o >= 0.3:
            movers.append((q, o, n))
    if not movers:
        print(f"no movers >= {thresh:.2f}x (with >=0.3s absolute delta)")
        return
    names = ",".join(q for q, _, _ in movers)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    print(f"movers: {names}; running bench-one reps={reps} at sf0.1, local[{cpus}]")
    out = subprocess.run(
        ["sbt", "-batch", f"runMain graft.Tools bench-one {names} /root/testdata/sf0.1 {reps}"],
        capture_output=True, text=True,
        env={**os.environ, "SPARK_GRAFT_CPUS": cpus}).stdout
    walls = {}
    for m in re.finditer(r"\[benchone\] rep=(\d+) (\S+) rows=\d+ total=([\d.]+)s", out):
        walls.setdefault(m.group(2), []).append(float(m.group(3)))
    lines = [
        f"\n## Automated movers A/B ({datetime.date.today()}, "
        f"thresh {thresh}x, reps {reps}, local[{cpus}], {old_p} -> {new_p})\n",
        "| query | old min | new min | A/B min | verdict |",
        "|---|---|---|---|---|",
    ]
    for q, o, n in movers:
        ws = walls.get(q, [])
        ab = min(ws) if ws else float("nan")
        if not ws:
            v = "no-data (bench-one produced no line)"
        elif ab <= o * 1.2:
            v = "HOST NOISE — A/B recovers the old time"
        elif ab >= n * 0.8:
            v = "ENGINE — A/B reproduces the regression, investigate"
        else:
            v = "partial — between old and new, rerun full bench"
        lines.append(f"| {q} | {o:.2f} | {n:.2f} | {ab:.2f} | {v} |")
    with open("BENCH_NOTES.md", "a") as f:
        f.write("\n".join(lines) + "\n")
    print("\n".join(lines))


if __name__ == "__main__":
    main()
