#!/usr/bin/env python3
"""Benchmark of the PPDB engine: four workloads, end-to-end and per-layer metrics.

Usage (from the repository root):
  python3 ppdbbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads: ppdb_ingest, corpus_curation, relational_analytics (the ones
BENCHMARK.json lists), and ppdb_lookup, which runs the same way but is not
in BENCHMARK.json (see ppdbbench/README.md). ppdbbench/meta.json holds the
input sizes, recall floors and what each workload exercises.

Steps:
1. Build the engine from source together with the harness (ppdbbench/harness,
   an sbt build of its own) unless the build under .bench_build matches the
   current sources.
2. Generate the seeded inputs (ppdbbench/gen.py), cached by seed and size.
3. Run the harness JVM: set-up several times (a session through
   GraftSession; for ppdb_lookup also the store ingest), one untimed check
   pass (which also takes the cold start), then timed passes for S seconds
   (at least the workload's min_passes). With --trace 1 an untimed warm-up
   pass comes first, then untraced and traced passes alternate; the run
   reports per-layer metrics and the tracing overhead (traced against
   untraced CPU time per pass).
4. Check the check pass's outputs (ppdbbench/oracle.py).
5. Print every metric with its unit, then, as the last line, one JSON object
   with the keys correct, attempted, failed and metrics.

The full record (spans, errors with exception class and message, checks,
host stamp) is written to .bench_build/records/.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

INPUTS = {"ppdb_ingest": "ppdb", "ppdb_lookup": "ppdb",
          "corpus_curation": "corpus", "relational_analytics": "relational"}
SETUPS = 5
RUN_DEADLINE_S = 165  # from after the build to the end of the harness JVM
BUILD_TIMEOUT_S = 700
KEEP_INPUT_SETS = 10

# Spark 4 on JDK 17 needs these outside spark-submit (as in the root build.sbt)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"ppdbbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    """Hash of everything the harness build compiles."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "harness", "src"),
             os.path.join(ROOT, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "harness", "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt; return the runtime classpath."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"no {need} at {ROOT}: the benchmark builds the engine from the repository")
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp, cp_file = os.path.join(BUILD, "source.sha256"), os.path.join(BUILD, "classpath.txt")
    digest = source_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true "
                           f"-Dsbt.repository.config={repos} -Xmx2g")
    log = os.path.join(BUILD, "build.log")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    with open(log, "w") as lf:
        try:
            p = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 f"-Djava.io.tmpdir={tmp}", "export harness/Runtime/fullClasspath"],
                cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                stderr=lf, stdin=subprocess.DEVNULL, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log})")
        lf.write(p.stdout)
    cps = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cps:
        fail(f"build failed (exit {p.returncode}); see {log}")
    open(cp_file, "w").write(cps[-1].strip())
    open(stamp, "w").write(digest)
    return cps[-1].strip()


def inputs(kind, seed):
    import gen
    root = os.path.join(BUILD, "data")
    d = gen.ensure(kind, seed, root)
    os.utime(d)
    # keep the cache bounded: the newest few sets of this kind
    sets = sorted((os.path.join(root, x) for x in os.listdir(root) if x.startswith(kind + "-")),
                  key=os.path.getmtime, reverse=True)
    for old in sets[KEEP_INPUT_SETS:]:
        shutil.rmtree(old, ignore_errors=True)
    return d, json.load(open(os.path.join(d, "info.json")))


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
    return f[7], sum(f)


def host_stamp(heap, ticks0):
    steal, total = (b - a for a, b in zip(ticks0, cpu_ticks()))
    return {"nproc": len(os.sched_getaffinity(0)), "heap": heap,
            "loadavg": open("/proc/loadavg").read().split()[:3],
            "steal_frac": round(steal / max(total, 1), 4)}


def unit_of(name):
    """Unit of a metric that BENCHMARK.json does not list, from its suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_mb", "MB"),
                         ("_frac", "frac"), ("_jobs", "count"), ("_failures", "count")):
        if name.endswith(suffix):
            return unit
    return "ratio"


def pct(xs, q):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(INPUTS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    ticks0 = cpu_ticks()
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_file):
        fail("no BENCHMARK.json at the repository root")
    bench = json.load(open(bench_file))
    cp = build()

    import oracle
    meta = json.load(open(os.path.join(HERE, "meta.json")))
    heap = meta["heap"]
    t_gen = time.time()
    data, info = inputs(INPUTS[a.workload], a.seed)
    t_jvm = time.time()
    work = os.path.join(BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    rec_path = os.path.join(work, "record.json")
    p = meta["params"]
    cfg = {
        "workload": a.workload, "run_id": f"{a.workload}-s{a.seed}-t{a.trace}",
        "data": data, "work": work, "out": rec_path, "seconds": a.seconds,
        "trace": bool(a.trace), "setups": SETUPS,
        "min_passes": meta["workloads"][a.workload]["min_passes"],
        "cores": len(os.sched_getaffinity(0)),
        "input_rows": {"ppdb": info.get("rules"),
                       "corpus": info.get("docs", 0) + info.get("vectors", 0),
                       "relational": sum(info.get(t, 0) for t in
                                         ("lineitem", "orders", "events", "documents"))
                       }[INPUTS[a.workload]],
        "docs": info.get("docs", 0), "dim": info.get("dim", 0),
        "score_cut": p["score_cut"],
        "keys": meta["workloads"]["relational_analytics"]["keys"],
        "params": {"minhash_threshold": p["minhash"]["threshold"],
                   "minhash_num_hashes": p["minhash"]["num_hashes"],
                   "minhash_bands": p["minhash"]["bands"],
                   "ann_threshold": p["ann"]["threshold"], "ann_tables": p["ann"]["tables"],
                   "ann_max_bucket": p["ann"]["max_bucket"]},
    }
    cfg_path = os.path.join(work, "config.json")
    json.dump(cfg, open(cfg_path, "w"))
    # a fixed, pre-touched heap: peak RSS is then the heap plus the peak of
    # native memory, instead of wherever adaptive heap sizing happened to
    # stop; no perf-data file, so the JVM writes nothing outside the checkout.
    # A fixed set of six JIT compiler threads (the default on 4 cores is 3):
    # the compiler's CPU time is left out of cpu_s, and with more threads
    # the code of the timed passes is compiled sooner and to a more even
    # degree from run to run (quartile spread of ppdb_ingest's cpu_s over
    # ten seeds on a quiet 4-core VM: 0.091 with the default, 0.041 with six)
    cmd = ["java", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
           "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:CICompilerCount=6",
           *ADD_OPENS, "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           "-cp", cp, "ppdbbench.Harness", cfg_path]
    log = os.path.join(work, "harness.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, RUN_DEADLINE_S - (time.time() - t_gen)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; see {log}")
    if rc != 0 or not os.path.exists(rec_path):
        tail = open(log, errors="replace").read()[-2000:]
        fail(f"harness exited with {rc}; log tail:\n{tail}")
    rec = json.load(open(rec_path))

    t_oracle = time.time()
    info_all = {"data": data, "score_cut": p["score_cut"], "params": cfg["params"]}
    checks, extra = oracle.run(a.workload, rec, work, meta["recall_floors"], info_all)
    failed_checks = [c for c in checks if not c[1]]
    attempted = rec["attempted"]
    failed = min(attempted, len(rec["errors"]) + rec["mismatches"] + len(failed_checks))

    pass_s = rec["pass_s"]
    wall = statistics.median(pass_s)
    cpu = statistics.median(rec["pass_cpu_s"])
    e2e = {
        "setup_s": statistics.median(rec["setup_s"]),
        "cpu_s": cpu,
        "wall_s": wall,
        "rows_per_s": cfg["input_rows"] / wall,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    if a.workload == "ppdb_lookup":
        e2e["lookup_p50_ms"] = pct(rec["call_ms"], 0.5)
        e2e["lookup_p90_ms"] = pct(rec["call_ms"], 0.9)
    layer = {}
    if a.trace:
        layer = dict(rec["layer"])
        layer.update(extra)
        layer["trace.overhead_frac"] = (
            statistics.median(rec["traced_pass_cpu_s"]) / cpu - 1.0)
        # layers this workload does not call did no work: they read 0
        metrics = {m["name"]: {"value": float(layer.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": float(e2e[m["name"]]), "unit": m["unit"]}
                   for m in bench["end_to_end"]}

    t_end = time.time()
    timing = {"build_s": t_gen - t_start, "gen_s": t_jvm - t_gen, "jvm_s": t_oracle - t_jvm,
              "setups_s": sum(rec["setup_s"]), "check_pass_s": rec["check_s"],
              "oracle_s": t_end - t_oracle, "total_s": t_end - t_start}
    stamp = host_stamp(heap, ticks0)
    full = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "host": stamp, "input": info, "checks": checks, "errors": rec["errors"],
            "mismatches": rec["mismatches"], "attempted": attempted, "failed": failed,
            "passes": len(pass_s), "calls": len(rec["call_ms"]),
            "end_to_end": e2e, "timing": timing, "record": rec}
    json.dump(full, open(os.path.join(records, f"{cfg['run_id']}.json"), "w"))

    print(f"host nproc={stamp['nproc']} heap={heap} loadavg={' '.join(stamp['loadavg'])} "
          f"steal_frac={stamp['steal_frac']}")
    print(f"workload {a.workload} seed={a.seed} passes={len(pass_s)} "
          f"calls={len(rec['call_ms'])} input_bytes={info['bytes']}")
    print("timing " + " ".join(f"{k}={v:.1f}" for k, v in timing.items()))
    for name, ok, detail in checks:
        print(f"check {name} {'ok' if ok else 'FAIL'}: {detail}")
    for e in rec["errors"]:
        print(f"error {e['call']}: {e['error']}")
    print(f"metric failed_frac {failed / attempted:.6f} frac")
    # every measured value, including those BENCHMARK.json does not list
    # (wall_s and rows_per_s; the lookup percentiles and lookup layer
    # metrics of ppdb_lookup)
    shown = {**{n: (v, unit_of(n)) for n, v in (layer if a.trace else e2e).items()},
             **{n: (m["value"], m["unit"]) for n, m in metrics.items()}}
    for n, (v, u) in shown.items():
        print(f"metric {n} {v:.6g} {u}")
    print(json.dumps({"correct": not failed_checks and failed == 0,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
