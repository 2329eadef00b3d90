#!/usr/bin/env python3
"""Benchmark of the validation job and the dedup ingest fold.

    python3 perfbench/run.py --workload etl_bulk --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the
program and the benchmark's JVM program with sbt (``perfbench/build.sbt``, which
compiles the root build unchanged); later runs reuse the build while no
source or build file changed. The run then

1. generates the workload's inputs from ``--seed`` (``gen.py``) and the
   expected outcomes, apart from the program;
2. starts one JVM that sets the workload up, warms it up and times whole
   rounds of operations for ``--seconds``, then (``--trace 0``) sets the
   workload up three more times, each from a stopped session: set-up time
   is the median of those three; with ``--trace 1`` it alternates plain
   and traced rounds;
3. checks every operation's outputs against the expectations, and prints
   one JSON line: ``correct``, ``attempted``, ``failed`` and ``metrics``
   (the end-to-end metrics, or with ``--trace 1`` the per-layer ones).

Every sample, the host's CPU steal and load average, and the checks go
to ``.bench_build/perfbench/runs/``; traced runs also leave their spans
there. See ``perfbench/README.md``.
"""

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
STATE = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

CONFIG = os.path.join("src", "test", "resources", "mapping_config.xml")
PROGRAM = ["build.sbt", os.path.join("src", "main", "scala"), CONFIG]

WORKLOADS = {
    # one large drop, few defects: CSV parse, row rules, the global-rule
    # shuffle and the valid sink dominate
    "etl_bulk": dict(files=1, rows=60000, defect_share=0.03),
    # many small drops, many defects: per-file fixed cost (planning, job
    # launch, persist, three jobs a file) and the error sink dominate
    "etl_drops": dict(files=12, rows=2500, defect_share=0.30),
    # seed index, then folds of micro-batches with planted near-duplicates;
    # 2,000-doc batches, since about 2.5 s of a step does not depend on the
    # batch size and at 1,000 docs that is most of it (see README)
    "dedup_ingest": dict(seed_docs=2000, steps=2, batch=2000, dup_share=0.2),
}
THREADS = 4      # Spark local[N] worker threads, at most the host's CPUs
HEAP = "3g"      # fixed: -Xms = -Xmx, so peak RSS does not follow heap growth
# C1 only: with C2, compiling the generated code keeps running for
# minutes (5-10 s of compiler CPU per operation after four operations on
# a 4-core host), so per-operation times depend on how far it has got
JIT = ["-XX:TieredStopAtLevel=1"]
SETUPS = 3       # set-ups after the measurement (--trace 0), each from a stopped session
DEADLINE_S = 175  # a run's own limit, builds excluded

# tiny inputs for the smoke check (smoke.py)
SMOKE = {
    "etl_bulk": dict(files=1, rows=2000, defect_share=0.03),
    "etl_drops": dict(files=3, rows=600, defect_share=0.30),
    "dedup_ingest": dict(seed_docs=400, steps=2, batch=150, dup_share=0.2),
}


def metric_names():
    """(end-to-end, per-layer) [(name, unit)] as BENCHMARK.json lists them."""
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def fingerprint():
    """Hash of every file the build reads from the program and the
    benchmark: a change to any of them triggers a rebuild."""
    h = hashlib.sha256()
    roots = ["build.sbt", "project", os.path.join("src", "main"),
             os.path.join("perfbench", "build.sbt"),
             os.path.join("perfbench", "project"), os.path.join("perfbench", "src")]
    for r in roots:
        files = [r] if os.path.isfile(r) else []
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += sorted(os.path.join(d, f) for f in fs)
        for p in files:
            h.update(p.encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Returns (classpath, JVM flags) of the built benchmark JVM program."""
    stamp_path = os.path.join(STATE, "build.json")
    fp = fingerprint()
    if os.path.exists(stamp_path):
        with open(stamp_path) as f:
            stamp = json.load(f)
        if stamp["fingerprint"] == fp:
            return stamp["classpath"], stamp["java_options"]
    os.makedirs(STATE, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config=%s "
                           "-Dsbt.offline=true -Xmx2g" % repos)
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                             cwd=os.path.join(ROOT, "perfbench"), env=env,
                             stdout=out, stderr=subprocess.STDOUT, timeout=850)
    if rc != 0:
        die("build failed (rc=%d), see %s" % (rc, log))
    with open(os.path.join(ROOT, "perfbench", "target", "launch.txt")) as f:
        lines = [l.rstrip("\n") for l in f if l.strip()]
    # the program's own JVM flags, minus its heap size, which is fixed here
    opts = [o for o in lines[1:] if not o.startswith(("-Xmx", "-Xms"))]
    with open(stamp_path, "w") as f:
        json.dump({"fingerprint": fp, "classpath": lines[0], "java_options": opts}, f)
    return lines[0], opts


# ---------------------------------------------------------------------------
# inputs and expectations
# ---------------------------------------------------------------------------

def inputs(workload, seed, sizes):
    """Generates (once per seed and size) the workload's inputs; returns
    (directory, expectations)."""
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps(sizes[workload], sort_keys=True).encode()
                             ).hexdigest()[:12]
    d = os.path.join(STATE, "inputs", "%s-seed%d-%s" % (workload, seed, key))
    done = os.path.join(d, "expected.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        p = sizes[workload]
        rng_seed = "%s:%d" % (workload, seed)
        os.makedirs(d)
        if workload.startswith("etl"):
            gen.write_operators(os.path.join(d, "operators.csv"))
            files = gen.make_drops(os.path.join(d, "drops"), rng_seed, p["files"],
                                   p["rows"], p["defect_share"])
            sizes = {n: os.path.getsize(os.path.join(d, "drops", n)) for n in files}
            exp = {"files": files, "rows_per_op": [sum(e["total"] for e in files.values())],
                   "input_bytes": sum(sizes.values())}
        else:
            seed_docs, batches, novel = gen.make_corpus(
                random.Random(rng_seed).getrandbits(64), p["seed_docs"], p["steps"],
                p["batch"], p["dup_share"])
            os.makedirs(os.path.join(d, "docs"))
            gen.write_docs(os.path.join(d, "docs", "seed.csv"), seed_docs)
            for k, b in enumerate(batches):
                gen.write_docs(os.path.join(d, "docs", "batch_%02d.csv" % k), b)
            every = [i for i, _ in seed_docs] + [i for b in batches for i, _ in b]
            exp = {"novel": [gen.id_digest(n) for n in novel],
                   "index_ids": gen.id_digest(every), "index_docs": len(every),
                   "rows_per_op": [len(b) for b in batches]}
        with open(done, "w") as f:
            json.dump(exp, f)
    with open(done) as f:
        return d, json.load(f)


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------

def check_etl(ch, exp):
    """Problems with one ETL operation's outputs ([] when correct)."""
    files = exp["files"]
    bad = []
    got = ch["summaries"]
    for name, e in files.items():
        s = got.get(name)
        want = {k: e[k] for k in ("total", "valid", "invalid", "errors")}
        if s != want:
            bad.append("%s summary %s, expected %s" % (name, s, want))
    if set(got) - set(files):
        bad.append("unexpected files %s" % sorted(set(got) - set(files)))
    want_valid = {n: e["valid"] for n, e in files.items() if e["valid"]}
    if ch["valid_rows"] != want_valid:
        bad.append("valid sink rows %s, expected %s" % (ch["valid_rows"], want_valid))
    want_err = {n: e["by_type"] for n, e in files.items() if e["errors"]}
    if ch["error_rows"] != want_err:
        bad.append("error sink rows %s, expected %s" % (ch["error_rows"], want_err))
    if ch["not_valid_status"] != 0:
        bad.append("%d valid-sink rows not VALID" % ch["not_valid_status"])
    if ch["max_field_value_len"] > 255:
        bad.append("FieldValue of %d characters" % ch["max_field_value_len"])
    return bad


def check_dedup_op(ch, exp, step):
    want = exp["novel"][step]
    return [] if ch["novel"] == want else [
        "step %d novel ids %s, expected %s" % (step, ch["novel"], want)]


def check_dedup_round(ch, exp):
    bad = []
    if ch["index_ids"] != exp["index_ids"]:
        bad.append("index ids %s, expected %s" % (ch["index_ids"], exp["index_ids"]))
    if ch["index_rows"] != exp["index_docs"]:
        bad.append("index holds %d rows for %d docs" % (ch["index_rows"], exp["index_docs"]))
    if ch["index_postings"] != 16 * exp["index_docs"]:
        bad.append("index holds %d postings for %d docs" % (ch["index_postings"],
                                                            exp["index_docs"]))
    return bad


# ---------------------------------------------------------------------------
# run
# ---------------------------------------------------------------------------

def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"cpu_jiffies": cpu, "loadavg": load, "time": time.time()}


def host_summary(a, b):
    d = [y - x for x, y in zip(a["cpu_jiffies"], b["cpu_jiffies"])]
    steal = d[7] if len(d) > 7 else 0
    return {"steal_pct": 100.0 * steal / max(1, sum(d)),
            "steal_s": steal / os.sysconf("SC_CLK_TCK"),
            "loadavg_start": a["loadavg"], "loadavg_end": b["loadavg"]}


def jvm(cp, opts, workload, data, work, args, deadline):
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    cmd = (["java"] + opts + JIT + ["-Xms" + HEAP, "-Xmx" + HEAP,
                              "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
                              "-cp", cp, "perfbench.BenchMain",
                              "--workload", workload, "--inputs", data, "--work", work,
                              "--config", os.path.join(ROOT, CONFIG),
                              "--threads", str(min(THREADS, len(os.sched_getaffinity(0)))),
                              "--seconds", str(args.seconds), "--trace", str(args.trace),
                              "--setups", str(0 if args.trace else SETUPS),
                              "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("the JVM passed the run's time limit, see %s/jvm.log" % work)
    if rc != 0:
        die("the JVM failed (rc=%d), see %s/jvm.log" % (rc, work))
    with open(out) as f:
        return json.load(f)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (smoke.py)")
    args = ap.parse_args()

    missing = [p for p in PROGRAM + ["BENCHMARK.json"] if not os.path.exists(p)]
    if missing:
        die("run from the repository root; missing %s" % ", ".join(missing))
    cp, opts = build()
    t_start = time.time()
    deadline = t_start + DEADLINE_S
    end_to_end, per_layer = metric_names()
    data, exp = inputs(args.workload, args.seed, SMOKE if args.smoke else WORKLOADS)
    work = os.path.join(STATE, "work", args.workload)
    h0 = host_sample()
    rec = jvm(cp, opts, args.workload, data, work, args, deadline)
    setups = rec["setup_samples"]
    host = host_summary(h0, host_sample())

    # every operation's outputs, warm-up included, against the oracle
    problems, failed = [], 0
    measured = [o for r in rec["rounds"] for o in r["ops"]]
    rounds = [(False, r) for r in rec["warmup"]] + [(True, r) for r in rec["rounds"]]
    for is_measured, r in rounds:
        for o in r["ops"]:
            if args.workload.startswith("etl"):
                if o["check"]["failed_files"]:
                    failed += is_measured
                    continue
                problems += check_etl(o["check"], exp)
            else:
                problems += check_dedup_op(o["check"], exp, o["step"])
        if not args.workload.startswith("etl"):
            problems += check_dedup_round(r["check"], exp)

    plain = [o for o in measured if "layers" not in o]
    traced = [o for o in measured if "layers" in o]
    rows = exp["rows_per_op"]
    if args.trace:
        metrics = {}
        for name, unit in per_layer:
            vals = [o["layers"].get(name, 0.0) for o in traced]
            if name == "pipeline.scan_amplification":
                vals = [o["layers"].get("spark.input_bytes", 0.0) / exp["input_bytes"]
                        for o in traced] if "input_bytes" in exp else [0.0]
            elif name == "trace.overhead_ms":
                vals = [1e3 * (median([o["wall_s"] for o in traced]) -
                               median([o["wall_s"] for o in plain]))]
            metrics[name] = {"value": median(vals), "unit": unit}
    else:
        walls = [o["wall_s"] for o in plain]
        values = {
            "setup_s": median(setups),
            "throughput_per_s": sum(rows[o["step"]] for o in plain) / sum(walls),
            "latency_p50_ms": 1e3 * median(walls),
            "cpu_per_op_s": median([o["cpu_s"] for o in plain]),
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in end_to_end}

    result = {"correct": not problems, "attempted": len(measured), "failed": failed,
              "metrics": metrics}
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    name = "%s-seed%d-trace%d%s" % (args.workload, args.seed, args.trace,
                                     "-smoke" if args.smoke else "")
    with open(os.path.join(runs, name + ".json"), "w") as f:
        json.dump({"args": vars(args), "host": host, "setup_samples": setups,
                   "cold_setup_s": rec["cold_setup_s"],
                   "problems": problems, "result": result, "record": rec}, f)
    if args.trace:
        shutil.copy(os.path.join(work, "spans.jsonl"),
                    os.path.join(runs, name + ".spans.jsonl"))
    for p in problems[:20]:
        print("perfbench: WRONG " + p, file=sys.stderr)
    print("perfbench: %s seed=%d ops=%d warmup_rounds=%d steal=%.1f%% load=%s->%s"
          % (args.workload, args.seed, len(measured), len(rec["warmup"]),
             host["steal_pct"], host["loadavg_start"][0], host["loadavg_end"][0]))
    print(json.dumps(result))
    sys.exit(0 if not problems else 1)


if __name__ == "__main__":
    main()
