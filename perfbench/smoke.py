#!/usr/bin/env python3
"""Smoke check of the benchmark: every workload at a tiny size.

    python3 perfbench/smoke.py

Run from the repository root. For each workload (the two in
BENCHMARK.json plus etl_drops) it runs ``run.py --smoke`` once plain and
once traced, and passes only if each run exits 0, its outputs match the
independently computed expectations (``correct``), at least one
operation ran, none failed, and the printed metrics are exactly the ones
BENCHMARK.json names, each with its unit.
"""

import json
import os
import subprocess
import sys

WORKLOADS = ["etl_bulk", "etl_drops", "dedup_ingest"]


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
              1: {m["name"]: m["unit"] for m in bench["per_layer"]}}
    bad = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--smoke",
                   "--workload", wl, "--seed", "7", "--seconds", "1", "--trace", str(trace)]
            p = subprocess.run(cmd, capture_output=True, text=True)
            tag = "%s trace=%d" % (wl, trace)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                bad.append("%s: exit %d\n%s" % (tag, p.returncode, p.stderr[-2000:]))
                continue
            res = json.loads(lines[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if not res["correct"]:
                bad.append("%s: outputs differ from the expectations" % tag)
            if res["attempted"] < 1 or res["failed"]:
                bad.append("%s: attempted %d, failed %d" % (tag, res["attempted"], res["failed"]))
            if got != wanted[trace]:
                bad.append("%s: metrics %s, expected %s" % (tag, got, wanted[trace]))
            print("%s: %s" % (tag, "ok" if not bad or not bad[-1].startswith(tag) else "FAIL"))
    for b in bad:
        print("smoke: " + b, file=sys.stderr)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
