"""graft benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload traverse_mix --seed 1 --seconds 30 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark runner from source with sbt (offline) and generates the input
tables; later runs reuse both from `.bench_build/`. See perfbench/README.md
for the workloads and every metric.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import gen_data  # noqa: E402
import loadgen  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_build")
TRAVERSE_CYCLES = 12  # more than any run serves
BATCH_WRITE_CYCLES = 4  # batch_mix's writes: a warm-up cycle, then 3 measured
SETUP_BOUND = 0.25  # setup_s's bound in BENCHMARK.json
WORKLOADS = ("traverse_mix", "batch_mix")
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "pinned_mb": "MB", "pass_ratio": "ratio", "req_per_s": "1/s",
    "read_p50_s": "s", "read_p75_s": "s", "write_p50_s": "s", "write_p75_s": "s",
    "batch_s": "s"}
TRAVERSE_OPS = ["kneighbor", "kout_nearest", "shortest_path", "same_neighbors",
                "jaccard", "personal_rank", "rings", "all_shortest_paths", "weighted_sssp"]
OLAP_KERNELS = ["pagerank", "wcc", "kcore", "lpa", "hits", "eccentricity", "louvain",
                "eigenvector_centrality"]
SPARK = ["jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
         "spill_bytes", "executor_run_s", "executor_cpu_s", "gc_s", "job_busy_s"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def fail(msg):
    log("perfbench: " + msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def _tree_hash():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True) +
                   glob.glob(os.path.join(HERE, "src/**/*"), recursive=True) +
                   [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
                    os.path.join(ROOT, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + runner once per source tree; returns the classpath
    and the source digest."""
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("engine sources (build.sbt, src/main/scala/graft) not found; "
             "run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    digest = _tree_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip(), digest
    os.makedirs(WORK, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    log("perfbench: building engine and runner (sbt, offline) ...")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export perfbench/Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        log(p.stdout[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"perfbench: built in {time.time() - t:.0f} s")
    return lines[-1].strip(), digest


def _file_hash(name):
    with open(os.path.join(HERE, name), "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def data_dir():
    d = os.path.join(WORK, "data-" + _file_hash("gen_data.py"))
    if not os.path.exists(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen_data.generate(d)
        loadgen.pools(d)
        open(os.path.join(d, "DONE"), "w").close()
    return d


# ---------------------------------------------------------------- one JVM run

def run_jvm(cp, workload, seed, seconds, trace, data, key):
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    base = os.path.join(WORK, "runs", f"{workload}-s{seed}-{'trace' if trace else 'plain'}")
    if os.path.exists(base + "-key.txt"):
        os.remove(base + "-key.txt")
    pools = loadgen.pools(data)
    if workload == "traverse_mix":
        reqs = loadgen.generate(seed, pools, TRAVERSE_CYCLES)
    else:  # the writes among the batch queries
        reqs = loadgen.generate(seed, pools, BATCH_WRITE_CYCLES, reads=())
    with open(base + "-requests.json", "w") as f:
        json.dump({"requests": reqs}, f)
    cpus = min(4, os.cpu_count() or 1)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dlog4j2.level=ERROR"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main", "--workload", workload, "--data", data,
            "--requests", base + "-requests.json", "--out", base + "-raw.json",
            "--seed", str(seed), "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--cpus", str(cpus), "--workdir", WORK]
    if os.path.exists(base + "-raw.json"):
        os.remove(base + "-raw.json")
    with open(base + "-jvm.log", "w") as logf:
        p = subprocess.Popen(cmd, cwd=WORK, stdin=subprocess.DEVNULL, stdout=logf,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=170)
        except subprocess.TimeoutExpired:
            fail(f"benchmark JVM timed out; see {base}-jvm.log")
        finally:  # also on SIGTERM (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0 or not os.path.exists(base + "-raw.json"):
        fail(f"benchmark JVM exited {rc}; see {base}-jvm.log")
    with open(base + "-key.txt", "w") as f:
        f.write(key)
    with open(base + "-raw.json") as f:
        return json.load(f), base


# ---------------------------------------------------------------- metrics

def pct(xs, q):
    """The q-th percentile (0 < q < 100) by the Harrell-Davis estimator: a
    Beta-weighted mean of all order statistics, steadier than any single
    one at the few samples a run has."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return float("nan")
    a, b = q / 100.0 * (n + 1), (1 - q / 100.0) * (n + 1)
    lbeta = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def cdf(x, steps=400):  # regularized incomplete beta, midpoint rule
        h = x / steps
        return h * sum(math.exp((a - 1) * math.log((k + 0.5) * h) +
                                (b - 1) * math.log(1 - (k + 0.5) * h) - lbeta)
                       for k in range(steps))
    cuts = [0.0] + [cdf(i / n) for i in range(1, n)] + [1.0]
    w = [cuts[i + 1] - cuts[i] for i in range(n)]
    return sum(wi * x for wi, x in zip(w, xs)) / sum(w)


def end_to_end(raw, failures):
    ops = raw["ops"]
    reads = [o["wall_s"] for o in ops if o["kind"] == "read"]
    writes = [o["wall_s"] for o in ops if o["kind"] == "write"]
    if raw["workload"] == "traverse_mix":  # the first cycle
        batch_s = sum(o["wall_s"] for o in ops if o["id"].startswith("c00."))
    else:  # the first write cycle is a warm-up
        batch_s = sum(o["wall_s"] for o in ops if o["api"] == "registry")
        writes = [o["wall_s"] for o in ops
                  if o["kind"] == "write" and not o["id"].startswith("c00.")]
    return {
        "setup_s": raw["setup_s"],
        "pinned_mb": raw["pinned_mb"],
        "pass_ratio": (len(ops) - len(failures)) / len(ops),
        "req_per_s": len(ops) / raw["timed_s"],
        "read_p50_s": pct(reads, 50), "read_p75_s": pct(reads, 75),
        "write_p50_s": pct(writes, 50), "write_p75_s": pct(writes, 75),
        "batch_s": batch_s,
    }


def per_layer(raw, failures, plain):
    """Every per-layer metric (name -> (value, unit)); 0 where the workload
    does not exercise that layer."""
    ops = raw["ops"]
    m = {}
    for name in raw["artifacts"]:
        m[f"core.load.{name}_s"] = (raw["load_s"].get(name, 0.0), "s")
    m["core.load.session_s"] = (raw["session_s"], "s")
    m["core.load.sum_s"] = (sum(raw["load_s"].values()), "s")
    m["core.load.untraced_setup_s"] = (plain["setup_s"], "s")
    # the load-phase split: traced session start + per-artifact spans
    # against the untraced setup_s
    split = (raw["session_s"] + m["core.load.sum_s"][0]) / plain["setup_s"] - 1.0
    m["core.load.split_gap"] = (abs(split), "ratio")
    if abs(split) > SETUP_BOUND:
        log(f"perfbench: traced load spans differ from untraced setup_s by {split:+.1%}")
    m["core.pin.cached_mb"] = (raw["pinned_mb"], "MB")
    m["core.pin.views_added"] = (sum(o["views_added"] for o in ops), "count")
    m["core.pin.ops_adding_views"] = (sum(1 for o in ops if o["views_added"]), "count")

    def med(xs):
        xs = list(xs)
        return statistics.median(xs) if xs else 0.0
    for api in ("cypher", "gremlin"):
        sel = [o for o in ops if o["api"] == api and o["kind"] == "read"]
        m[f"api.{api}.build_s"] = (med(o["build_s"] for o in sel), "s")
        m[f"api.{api}.build_jobs"] = (med(o["counters"]["build_jobs"] for o in sel), "count")
    sel = [o for o in ops if o["kind"] == "write"]
    m["api.write.build_s"] = (med(o["build_s"] for o in sel), "s")
    m["api.write.build_jobs"] = (med(o["counters"]["build_jobs"] for o in sel), "count")
    for t in TRAVERSE_OPS:
        sel = [o for o in ops if o["op"] == t]
        m[f"traverse.{t}.call_s"] = (med(o["wall_s"] for o in sel), "s")
        m[f"traverse.{t}.jobs"] = (med(o["counters"]["jobs"] for o in sel), "count")
    for k in OLAP_KERNELS:
        sel = [o for o in ops if o["op"] == "q_" + k]
        m[f"olap.{k}_s"] = (sum(o["wall_s"] for o in sel), "s")
        m[f"olap.{k}_jobs"] = (sum(o["counters"]["jobs"] for o in sel), "count")
    family = raw["families"]  # batch query -> operator family
    fam = dict.fromkeys(family.values(), 0.0)
    for o in ops:
        if o["op"] in family:
            fam[family[o["op"]]] += o["wall_s"]
    for f, v in fam.items():
        m[f"ops.{f}_s"] = (v, "s")
    units = {"jobs": "count", "stages": "count", "tasks": "count",
             "shuffle_write_bytes": "B", "shuffle_read_bytes": "B", "spill_bytes": "B"}
    for k in SPARK:
        m[f"spark.{k}"] = (sum(o["counters"][k] for o in ops), units.get(k, "s"))
    m["spark.driver_gap_s"] = (sum(o["wall_s"] for o in ops) - m["spark.job_busy_s"][0], "s")
    for k, v in raw["controls"].items():
        m[f"spark.{k}_s"] = (v, "s")
    m["fail_ratio"] = (len(failures) / len(ops), "ratio")
    traced = end_to_end(raw, failures)
    for k in ("setup_s", "req_per_s", "read_p50_s", "batch_s"):
        m[f"trace.overhead.{k}"] = (traced[k] / plain[k] - 1.0 if plain[k] else 0.0, "ratio")
    return m


# ---------------------------------------------------------------- main

def measure(cp, digest, data, a, trace, reuse=False):
    """One JVM run and its answer check. With `reuse`, an untraced run of
    the same sources, workload, seed and length made earlier in this
    checkout is checked again instead of being repeated."""
    key = f"{digest} {a.workload} {a.seed} {a.seconds}"
    base = os.path.join(WORK, "runs", f"{a.workload}-s{a.seed}-plain")
    if reuse and os.path.exists(base + "-key.txt") and open(base + "-key.txt").read() == key:
        with open(base + "-raw.json") as f:
            raw = json.load(f)
    else:
        raw, base = run_jvm(cp, a.workload, a.seed, a.seconds, trace, data, key)
    cache = os.path.join(data, "oracle-cache-" + _file_hash("oracle.py"))
    failures = oracle.check_run(raw, data, loadgen.oracle_sql, cache)
    with open(base + "-check.json", "w") as f:
        json.dump({"failures": failures, "controls": raw["controls"]}, f, indent=1)
    for i, why in sorted(failures.items()):
        op = next(o for o in raw["ops"] if o["id"] == i)
        log(f"perfbench: FAILED {i} {op['op']}: {why}")
    return raw, failures, base


def main():
    ap = argparse.ArgumentParser(description="graft benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    cp, digest = build()
    data = data_dir()

    # the traced run is compared with the untraced run of the same seed
    raw, failures, base = measure(cp, digest, data, a, trace=False, reuse=bool(a.trace))
    plain = end_to_end(raw, failures)
    # the host-drift controls, recorded with every run
    print(json.dumps({"controls": raw["controls"]}))
    if a.trace:
        traw, tfail, tbase = measure(cp, digest, data, a, trace=True)
        metrics = per_layer(traw, tfail, plain)
        with open(tbase + "-spans.json", "w") as f:
            json.dump({"spans": traw["trace"]["spans"], "jobs": traw["trace"]["jobs"],
                       "load_counters": traw["trace"]["load_counters"],
                       "ops": [{k: o[k] for k in ("id", "op", "api", "kind", "wall_s",
                                                  "build_s", "views_added", "counters")}
                               for o in traw["ops"]]}, f)
        log(f"perfbench: spans written to {tbase}-spans.json")
        ops, nfail = traw["ops"], len(tfail)
    else:
        metrics = {k: (v, END_TO_END[k]) for k, v in plain.items()}
        ops, nfail = raw["ops"], len(failures)
    print(json.dumps({
        "correct": nfail == 0 and len(failures) == 0,
        "attempted": len(ops), "failed": nfail,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
