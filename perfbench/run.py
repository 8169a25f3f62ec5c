#!/usr/bin/env python3
"""The benchmark command.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine together
with the harness (`perfbench/build.sbt`); later runs reuse the build while
the sources are unchanged. Each run generates its inputs from the seed,
starts one JVM that runs the workload's timed closed loop, checks every
output, and prints one JSON line last: end-to-end metrics with `--trace 0`,
per-layer metrics with `--trace 1`. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("interactive", "corpus-pipeline", "index-refresh")
CORPUS_ITERATIONS = 12
# untimed corpus-pipeline iterations before the timed ones, to warm the JIT
CORPUS_WARMUPS = 1
JVM_TIMEOUT_S = 140  # plus twice --seconds
JAVA_OPTS = ["-Xmx4g", "-XX:-UsePerfData"] + [
    x for p in (
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar")
    for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_key():
    """Digest of every file the build reads, so a stale build is rebuilt."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "src"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine plus harness once; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    key = source_key()
    if os.path.exists(stamp):
        with open(stamp) as f:
            lines = f.read().splitlines()
        if len(lines) == 2 and lines[0] == key:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    if "-Dsbt.repository.config" not in opts and os.path.exists(repo_cfg):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repo_cfg}"
    env["SBT_OPTS"] = (opts + " -Dsbt.server.autostart=false").strip()
    res = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=840)
    cps = [l.strip() for l in res.stdout.splitlines()
           if "scala-library" in l and not l.startswith("[")]
    if res.returncode != 0 or not cps:
        sys.stderr.write(res.stdout[-4000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as f:
        f.write(f"{key}\n{cps[-1]}\n")
    return cps[-1]


# ---------------------------------------------------------------- stats

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    (percentile, value, sample count). With n samples sorted ascending, the
    value at rank n - beyond (1-based) has exactly `beyond` samples beyond
    it; its percentile is 100 * (n - beyond) / n. None below beyond + 1
    samples."""
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    return 100.0 * (n - beyond) / n, s[n - beyond - 1], n


def self_check_tail():
    xs = list(range(1, 101))
    ok = tail(xs) == (90.0, 90, 100)
    ok &= tail(list(range(11))) == (100.0 * 1 / 11, 0, 11)
    ok &= tail(list(range(10))) is None
    beyond = sum(1 for x in xs if x > tail(xs)[1])
    return ok and beyond == 10


def self_check_generator(seed, gen):
    """Same seed -> byte-identical inputs; different seed -> different."""
    with tempfile.TemporaryDirectory(dir=os.path.join(HERE, ".work")) as d:
        digests = []
        for i, s in enumerate((seed, seed, seed + 1)):
            out = os.path.join(d, str(i))
            gen.generate_base(s, out)
            gen.generate_iteration(s, 0, os.path.join(out, "iter_0"))
            digests.append(gen.digest(out))
    return digests[0] == digests[1] and digests[0] != digests[2]


# ---------------------------------------------------------------- metrics

END_TO_END = [("setup_s", "s"), ("op_p50_s", "s"), ("heap_live_mb", "MB")]

PER_LAYER = [
    ("setup.session_s", "s"), ("setup.input_gen_s", "s"), ("setup.warmup_s", "s"),
    ("setup.index_create_s", "s"), ("engine.warm_s", "s"), ("engine.release_s", "s"),
    ("engine.resident_mb", "MB"), ("operators.construct_s", "s"),
    ("operators.construct_jobs", "count"), ("plans.plan_s", "s"), ("plans.exchanges", "count"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.no_job_s", "s"), ("exec.task_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.core_busy_frac", "ratio"),
    ("exec.input_mb", "MB"), ("exec.shuffle_write_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.unattributed_task_s", "s"), ("sources.publish_s", "s"), ("sources.readback_s", "s")]

# index-refresh only (a workload BENCHMARK.json does not register)
INDEX_LAYER = [
    ("sources.append_s", "s"), ("sources.delete_s", "s"),
    ("sources.refresh_s.mh", "s"), ("sources.refresh_s.ssim", "s"),
    ("sources.refresh_s.cluster", "s"), ("sources.refresh_s.phash", "s"),
    ("sources.refresh_growth", "ratio"), ("sources.probe_s", "s"),
    ("sources.files_per_window", "count"), ("sources.bytes_per_window", "B")]


def latencies(workload, ok_ops):
    """The workload's headline latencies. interactive runs every query twice
    and keeps each query's better time (best of two, as graft.Bench does):
    a few seconds of load from outside the process then cannot move the
    median, while a slower query still shows in both of its samples."""
    if workload == "interactive":
        best = {}
        for o in ok_ops:
            best[o["name"]] = min(o["wall_s"], best.get(o["name"], o["wall_s"]))
        return list(best.values())
    if workload == "index-refresh":
        return [o["info"]["refresh_window_s"] for o in ok_ops]
    return [o["wall_s"] for o in ok_ops]


def step_sum(op, prefix):
    return sum(v for k, v in op["steps"].items() if k == prefix or k.startswith(prefix + "."))


def end_to_end(raw, ok_ops, setup_s):
    return {
        "setup_s": setup_s,
        "op_p50_s": median(latencies(raw["workload"], ok_ops)),
        "heap_live_mb": raw["heap_live_mb"],
    }


def report(raw, ok_ops, setup_s, failed, attempted):
    """The metrics by the names the benchmark's README uses, for the log."""
    w = raw["workload"]
    lat = latencies(w, ok_ops)
    out = {"setup_s": (setup_s, "s"), "failed_frac": (failed / attempted, "ratio"),
           "heap_live_mb": (raw["heap_live_mb"], "MB")}
    if w == "interactive":
        t = tail(lat)
        out["query_p50_s"] = (median(lat), "s")
        out["query_tail_s"] = ((t[1], "s", f"p{t[0]:.1f} of {t[2]}") if t
                               else (max(lat or [0.0]), "s", f"max of {len(lat)} (< 11 samples)"))
        out["queries_per_s"] = (len(ok_ops) / raw["loop_s"], "1/s")
    elif w == "corpus-pipeline":
        out["pipeline_s"] = (median(lat), "s", f"median of {len(lat)}")
    else:
        probes = [p for o in ok_ops for p in o["info"]["probe_s"]]
        out["refresh_p50_s"] = (median(lat), "s", f"median of {len(lat)}")
        out["probe_p50_s"] = (median(probes), "s", f"median of {len(probes)}")
        out["bytes_per_doc"] = (raw["warehouse_bytes_added"] / max(1, raw["docs_arrived"]), "B")
    return out


def per_layer(raw, ok_ops, gen_s):
    ph = raw["phases"]
    ex = [o["exec"] for o in ok_ops]
    n = max(1, len(ok_ops))

    def med_step(prefix):
        return median([step_sum(o, prefix) for o in ok_ops if any(
            k == prefix or k.startswith(prefix + ".") for k in o["steps"])])

    def mean_exec(k):
        return sum(e.get(k, 0) for e in ex) / n

    def med_exec(k):
        return median([e.get(k, 0) for e in ex])

    refresh = [step_sum(o, "refresh") for o in ok_ops if "refresh.mh" in o["steps"]]
    q = max(1, len(refresh) // 4)
    growth = (sum(refresh[-q:]) / sum(refresh[:q])) if len(refresh) >= 2 else 0.0
    probes = [p for o in ok_ops for p in o["info"].get("probe_s", [])]
    wall = sum(o["wall_s"] for o in ok_ops)
    exch = [sum(v for k, v in o["info"].items() if k.startswith("exchanges")) for o in ok_ops]
    windows = [o for o in ok_ops if "files_added" in o["info"]]
    m = {
        "setup.session_s": ph.get("session_s", 0.0),
        "setup.input_gen_s": gen_s,
        "setup.warmup_s": ph.get("warmup_s", 0.0),
        "setup.index_create_s": ph.get("index_create_s", 0.0),
        "engine.warm_s": ph.get("warm_s", 0.0),
        "engine.release_s": med_step("release"),
        "engine.resident_mb": median([o["info"].get("resident_mb", 0.0) for o in ok_ops]),
        "operators.construct_s": med_step("construct"),
        "operators.construct_jobs": mean_exec("construct_jobs"),
        "plans.plan_s": med_step("plan"),
        "plans.exchanges": sum(exch) / n,
        "exec.action_s": med_step("action"),
        "exec.jobs": mean_exec("jobs"),
        "exec.stages": mean_exec("stages"),
        "exec.tasks": mean_exec("tasks"),
        "exec.no_job_s": med_exec("no_job_s"),
        "exec.task_s": med_exec("task_s"),
        "exec.task_cpu_s": med_exec("task_cpu_s"),
        "exec.gc_s": med_exec("gc_s"),
        "exec.core_busy_frac": sum(e.get("task_s", 0) for e in ex) / max(1e-9, wall * raw["cores"]),
        "exec.input_mb": mean_exec("input_mb"),
        "exec.shuffle_write_mb": mean_exec("shuffle_write_mb"),
        "exec.spill_mb": mean_exec("spill_mb"),
        "exec.unattributed_task_s": raw["listener"]["unattributed"]["task_s"],
        "sources.append_s": med_step("append"),
        "sources.delete_s": med_step("delete"),
        "sources.refresh_growth": growth,
        "sources.probe_s": median(probes),
        "sources.files_per_window": (sum(o["info"]["files_added"] for o in windows) / len(windows)
                                     if windows else 0.0),
        "sources.bytes_per_window": (sum(o["info"]["bytes_added"] for o in windows) / len(windows)
                                     if windows else 0.0),
        "sources.publish_s": med_step("publish"),
        "sources.readback_s": med_step("readback"),
    }
    for f in ("mh", "ssim", "cluster", "phash"):
        m[f"sources.refresh_s.{f}"] = med_step(f"refresh.{f}")
    return m


# ---------------------------------------------------------------- checks

def oracle_checks(raw, inputs, work):
    """Each output compared with its DuckDB oracle: (name, ok, detail)."""
    import oracle
    sql = raw.get("oracle_sql", {})
    out = []
    if raw["workload"] == "interactive":
        con = oracle.connect(inputs)
        for w in raw["warmup"]:
            if w["ok"] and w["name"] in sql:
                ok, detail = oracle.compare(con, os.path.join(work, "results", w["name"]), sql[w["name"]])
                out.append((f"oracle/{w['name']}", ok, detail))
    elif raw["workload"] == "corpus-pipeline":
        for o in raw["ops"]:
            if not o["ok"]:
                continue
            con = oracle.connect(os.path.join(inputs, o["name"]))
            for q in sorted(sql):
                ok, detail = oracle.compare(con, os.path.join(work, "results", o["name"], q), sql[q])
                out.append((f"oracle/{o['name']}/{q}", ok, detail))
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no engine sources under {ROOT}/src/main/scala; run from a full checkout")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")

    classpath = build()
    t0 = time.time()
    import gen
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(os.path.join(work, "tmp"))
    g0 = time.time()
    gen.generate_base(args.seed, inputs)
    if args.workload == "corpus-pipeline":
        for k in range(CORPUS_WARMUPS):
            gen.generate_iteration(args.seed, CORPUS_ITERATIONS + k, os.path.join(inputs, f"warm_{k}"))
        for k in range(CORPUS_ITERATIONS):
            gen.generate_iteration(args.seed, k, os.path.join(inputs, f"iter_{k}"))
    gen_s = time.time() - g0

    raw_path = os.path.join(work, "raw.json")
    cmd = (["java"] + JAVA_OPTS + [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graft.perfbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--cores", str(len(os.sched_getaffinity(0))), "--inputs", inputs,
           "--work", work, "--out", raw_path])
    j0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S + 2 * args.seconds)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness timed out; log in {work}/jvm.log")
    if rc != 0 or not os.path.exists(raw_path):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(raw_path) as f:
        raw = json.load(f)
    setup_s = raw["first_op_ms"] / 1e3 - t0
    j1 = time.time()

    checks = [(c["name"], c["ok"], c["detail"]) for c in raw["checks"]]
    checks += oracle_checks(raw, inputs, work)
    j2 = time.time()
    checks.append(("tail-helper", self_check_tail(), ""))
    checks.append(("generator-seeded", self_check_generator(args.seed, gen), ""))
    timings = {"jvm_s": j1 - j0,
               "jvm_checks_s": (raw["end_ms"] - raw["first_op_ms"]) / 1e3 - raw["loop_s"],
               "jvm_stop_s": j1 - raw["end_ms"] / 1e3,
               "oracle_s": j2 - j1, "self_checks_s": time.time() - j2}

    ops = raw["ops"]
    ok_ops = [o for o in ops if o["ok"]]
    # an operation whose output fails its check counts as failed
    bad_out = {n.split("/")[1] for n, ok, _ in checks
               if not ok and n.startswith(("oracle/", "readback/"))}
    failed_ops = [o for o in ops if not o["ok"] or o["name"] in bad_out]
    attempted, failed = len(ops), len(failed_ops)
    if raw["workload"] == "interactive":
        attempted += len(raw["warmup"])
        failed += sum(1 for w in raw["warmup"] if not w["ok"] or w["name"] in bad_out)
    if raw["workload"] == "index-refresh":
        fams = {n.split("/")[1] for n, _, _ in checks if n.startswith("index-equals-cold/")}
        bad = {n.split("/")[1] for n, ok, _ in checks if n.startswith("index-equals-cold/") and not ok}
        attempted += len(fams)
        failed += len(bad)
    ok_ops = [o for o in ok_ops if o["name"] not in bad_out]

    for name, ok, detail in checks:
        if not ok:
            print(f"CHECK FAILED {name}: {detail}")
    for o in ops:
        if not o["ok"]:
            print(f"OP FAILED {o['name']}: {o['error']}")
    rep = report(raw, ok_ops, setup_s, failed, max(1, attempted))
    print("report " + json.dumps({"workload": args.workload, "seed": args.seed, "trace": args.trace,
                                  "checks": len(checks), "checks_failed": sum(1 for c in checks if not c[1]),
                                  "timings": timings,
                                  "metrics": rep}))
    if args.trace:
        values = per_layer(raw, ok_ops, gen_s)
        names = PER_LAYER + (INDEX_LAYER if args.workload == "index-refresh" else [])
        metrics = {k: {"value": values[k], "unit": u} for k, u in names}
    else:
        values = end_to_end(raw, ok_ops, setup_s)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
    shutil.copy(raw_path, os.path.join(HERE, ".work", f"last-{args.workload}-{args.trace}.json"))
    shutil.rmtree(work, ignore_errors=True)
    correct = all(ok for _, ok, _ in checks) and failed == 0
    print(json.dumps({"correct": correct, "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
