#!/usr/bin/env python3
"""catbench: the graft catalog benchmark.

    python3 catbench/run.py --workload {catalog_mutate,dedup_ingest}
                            --seed N --seconds S --trace {0,1} [--plant-wrong 1]

Run from the repository root. It compiles `src/main/scala` plus the
harness in `catbench/scala` (once per source hash, under `.bench_build/`),
writes the workload's seeded inputs and schedule into a run-scoped
directory under `.bench_build/`, runs the harness JVM on them, checks
every op result and the final store state against an independent model,
prints a table of every metric with its unit and sample count, and ends
with one JSON line: end-to-end metrics with `--trace 0`, per-layer
metrics with `--trace 1`. `--plant-wrong 1` plants one wrong expectation
(the negative control: the run must then report `correct: false`).

Each workload is one client thread in a closed loop over a fixed seeded
schedule of rounds. Set-up seeds a fresh store SETUP_REPS times (the
last one is kept) and runs round 0 untimed; the timed phase runs the
next ROUNDS rounds, so every run executes the same ops and the store
state before op i is the same in every run. `--seconds` does not change
the work: the timed phase takes about that long on a 4-core x86 host.
A traced run runs twice the rounds and traces every other op; the
per-layer metrics come from the traced ops, the latency classes from
the others, and the tracing overhead compares the two.

Op latencies (and so `ops_per_s`) leave out the time the hypervisor
stole from this VM: each op's wall time is scaled by the share of the
guest's CPU time during the op that was not stolen (`/proc/stat`
steal against user+nice+system+irq+softirq). On an unshared host this
is the wall time; on a shared one it removes the neighbours' share,
which otherwise swings the figures by up to 2x from minute to minute.
The wall-time figures are printed beside them.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check    # noqa: E402
import inputs   # noqa: E402

# timed rounds per run: the same in every run, whatever the host's speed
ROUNDS = {"catalog_mutate": 1, "dedup_ingest": 1}
SETUP_REPS = 2
HEAP = "2g"
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
_jvm = None  # the running harness, stopped if this process is


def _stop(signum, _frame):
    if _jvm is not None and _jvm.poll() is None:
        os.killpg(_jvm.pid, signal.SIGKILL)
        _jvm.wait()
    sys.exit(128 + signum)


def log(msg):
    print("[catbench] " + msg, file=sys.stderr, flush=True)


def fail(msg):
    log("error: " + msg)
    sys.exit(2)


# ---- build ----

def spark_jars():
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark jars under %s (set SPARK_HOME)" % jars)
    return jars


def build(root, jars):
    """Compile the engine and the harness into a directory keyed by the
    hash of every source file; reuse it when present."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail("no src/main/scala under %s: run from the repository root" % root)
    srcs += sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    h = hashlib.sha256()
    for s in srcs:
        h.update(os.path.relpath(s, root).encode())
        with open(s, "rb") as fh:
            h.update(fh.read())
    base = os.path.join(root, ".bench_build", "catbench")
    out = os.path.join(base, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp-%d" % os.getpid()
    os.makedirs(tmp)
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-cp", tmp, "-d", tmp] + srcs
    # -cp and cwd keep scalac's default classpath (".") out of the build
    r = subprocess.run(cmd, cwd=base, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        fail("compilation failed")
    os.rename(tmp, out)
    log("built %d sources in %.1f s" % (len(srcs), time.time() - t0))
    return out


# ---- one run ----

def prepare(workload, seed, trace, run_dir):
    """Seeded inputs + schedule; returns the schedule path. A traced run
    has twice the timed rounds, with every other op traced, starting
    with the first op in odd rounds and the second in even ones: each op
    type then runs once traced and once not, and the order alternates
    between types, so the warm-up trend over the rounds cancels out of
    the tracing overhead."""
    inp = os.path.join(run_dir, "input")
    os.makedirs(inp)
    rounds = ROUNDS[workload] * (2 if trace else 1)
    if workload == "dedup_ingest":
        inputs.write_docs(os.path.join(inp, "docs.parquet"), seed, rounds + 1)
    else:
        inputs.write_files(os.path.join(inp, "files.parquet"), seed)
    lines, pos = [], {}
    for ln in getattr(inputs, workload)(seed, rounds):
        f = ln.split("\t")
        r = int(f[2])
        j = pos[r] = pos.get(r, -1) + 1
        if trace and f[0] == "timed" and (j + r) % 2 == 1:
            f[0] = "traced"
        lines.append("\t".join(f))
    path = os.path.join(run_dir, "schedule.tsv")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("\n".join(lines) + "\n")
    return path


def launch(classes, jars, run_dir, workload, schedule, deadline):
    global _jvm
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp]
           + [x for p in ADD_OPENS for x in ("--add-opens", p)]
           + ["-cp", classes + os.pathsep + os.path.join(jars, "*"), "catbench.Main",
              "--workload", workload, "--schedule", schedule,
              "--input", os.path.join(run_dir, "input"), "--run-dir", run_dir,
              "--setup-reps", str(SETUP_REPS), "--cores", str(cores)])
    env = dict(os.environ, SPARK_GRAFT_CATALOG_STORE=os.path.join(run_dir, "catalog-store"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        _jvm = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=logf,
                                stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = _jvm.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(_jvm.pid, signal.SIGKILL)
            _jvm.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("harness JVM exited with %s" % rc)


def read_ops(run_dir):
    sched = {}
    with open(os.path.join(run_dir, "schedule.tsv"), encoding="utf-8") as fh:
        for i, line in enumerate(fh):
            sched[i] = line.rstrip("\n").split("\t")[4:]
    ops = []
    with open(os.path.join(run_dir, "out", "ops.tsv"), encoding="utf-8") as fh:
        for line in fh:
            f = line.rstrip("\n").split("\t")
            busy, steal = int(f[8]), int(f[9])
            wall = float(f[4])
            ops.append({"idx": int(f[0]), "phase": f[1], "cls": f[2], "name": f[3],
                        "wall_ms": wall, "ms": wall * (1.0 - steal / max(1, busy + steal)),
                        "traced": f[5] == "true", "result": f[6], "error": f[7],
                        "args": sched[int(f[0])]})
    return ops


def verify(workload, ops, run_dir, plant_wrong):
    """every op that ran, warm-up included, in schedule order"""
    out = os.path.join(run_dir, "out")
    inp = os.path.join(run_dir, "input")
    fails = [(o["idx"], "%s raised %s" % (o["name"], o["error"])) for o in ops if o["error"]]
    if fails:
        return fails
    if workload == "catalog_mutate":
        return check.check_catalog_mutate(ops, out, plant_wrong)
    return check.check_dedup_ingest(ops, out, inp, plant_wrong)


def op_type(o):
    """an op class's member: the call, or for a query its shape"""
    return o["args"][0] if o["name"] == "query" else o["name"]


def class_latency(ops, key="ms", suffix=""):
    """Per latency class: the p50 over its ops, and the geometric mean
    over the class's op types of each type's median. The p50 follows the
    types in the middle; the gmean weighs a change in any type alike. No
    p90: no class reaches 100 samples in a run."""
    out = {}
    for cls in ("read", "write", "admin", "maint"):
        by_type = {}
        for o in ops:
            if o["cls"] == cls:
                by_type.setdefault(op_type(o), []).append(o[key])
        ms = [x for xs in by_type.values() for x in xs]
        if ms:
            out["%s_p50%s_ms" % (cls, suffix)] = (statistics.median(ms), len(ms))
            out["%s_gmean%s_ms" % (cls, suffix)] = (statistics.geometric_mean(
                [statistics.median(xs) for xs in by_type.values()]), len(ms))
    return out


def trace_overhead_pct(ops):
    """traced vs untraced ops of this run: per op type, the median traced
    latency over the median untraced one; the median of those ratios,
    minus one, in percent"""
    ms = {}
    for o in ops:
        ms.setdefault((op_type(o), o["phase"]), []).append(o["ms"])
    ratios = [statistics.median(ms[(t, "traced")]) / statistics.median(ms[(t, "timed")])
              for (t, ph) in ms if ph == "traced" and (t, "timed") in ms]
    return 100.0 * (statistics.median(ratios) - 1.0)


# ---- run history: counter repeatability ----

def history_path(root):
    return os.path.join(root, ".bench_build", "catbench", "runs.jsonl")


def load_history(root, ver):
    """this version's recorded runs"""
    if not os.path.exists(history_path(root)):
        return []
    with open(history_path(root)) as fh:
        runs = [json.loads(line) for line in fh if line.strip()]
    return [r for r in runs if r.get("version") == ver]


def version(classes):
    """the build plus this benchmark's Python: runs compare only within it"""
    h = hashlib.sha256(os.path.basename(classes).encode())
    for f in sorted(glob.glob(os.path.join(HERE, "*.py"))):
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def record_run(root, args, ver, run_dir, counts):
    """Append this run's store counts and (traced) per-op job/task
    counts, keyed by schedule position, to the history."""
    ops = {}
    cpath = os.path.join(run_dir, "out", "counters.tsv")
    if os.path.exists(cpath):
        with open(cpath) as fh:
            for line in fh:
                idx, name, jobs, tasks = line.rstrip("\n").split("\t")
                ops[idx] = [name, int(jobs), int(tasks)]
    rec = {"version": ver, "workload": args.workload, "seed": args.seed, "trace": args.trace,
           "counts": counts, "ops": ops}
    with open(history_path(root), "a") as fh:
        fh.write(json.dumps(rec) + "\n")


def print_repeatability(hist, workload):
    """For each count, whether it repeated exactly across runs of one seed
    (per-op counts: at the same schedule position)."""
    by_seed = {}
    for r in hist:
        if r["workload"] == workload:
            by_seed.setdefault(r["seed"], []).append(r)
    verdict = {}
    for _, runs in sorted(by_seed.items()):
        same = [r for r in runs if r["trace"] == runs[-1]["trace"]]
        if len(same) >= 2:
            for key in same[0]["counts"]:
                vals = {round(r["counts"][key], 9) for r in same}
                verdict.setdefault(key, []).append(len(vals) == 1)
        traced = [r for r in runs if r["ops"]]
        if len(traced) < 2:
            continue
        for i in set.intersection(*(set(r["ops"]) for r in traced)):
            name = traced[0]["ops"][i][0]
            for col, label in ((1, "jobs"), (2, "tasks")):
                vals = {r["ops"][i][col] for r in traced}
                verdict.setdefault("%s.%s" % (label, name), []).append(len(vals) == 1)
    print("counter repeatability across runs of one seed (per-op counts at one schedule position):")
    if not verdict:
        print("  fewer than two runs of one seed so far")
    for k, ok in sorted(verdict.items()):
        print("  %-15s %-28s %-6s (%d seed/position pairs)"
              % (workload, k, "exact" if all(ok) else "VARIES", len(ok)))


# ---- main ----

def unit_of(name, units):
    if name in units:
        return units[name]
    if name.startswith("ops_per_"):
        return "1/s"
    for part, unit in (("_ms", "ms"), ("_mb", "MB"), ("ratio", "ratio"), ("amp", "ratio"),
                       ("pct", "%"), ("_bytes", "bytes")):
        if part in name:
            return unit
    return "s" if name.endswith("_s") else "count"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(ROUNDS), required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    root = os.getcwd()
    signal.signal(signal.SIGTERM, _stop)
    signal.signal(signal.SIGINT, _stop)
    jars = spark_jars()
    classes = build(root, jars)
    started = time.time()
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run_dir = os.path.join(root, ".bench_build", "catbench", "run-%d" % os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        schedule = prepare(args.workload, args.seed, args.trace, run_dir)
        t1 = time.time()
        launch(classes, jars, run_dir, args.workload, schedule, started + JVM_TIMEOUT_S)
        t2 = time.time()
        log("inputs %.1f s, harness %.1f s" % (t1 - t0, t2 - t1))
        ops = read_ops(run_dir)
        with open(os.path.join(run_dir, "out", "summary.json")) as fh:
            s = json.load(fh)
        fails = verify(args.workload, ops, run_dir, args.plant_wrong)
        log("checks %.1f s; in the harness: JVM start %.1f s, session %.1f s, seed %s s, "
            "warm-up %.1f s, timed %.1f s, final state %.1f s" % (
                time.time() - t2, s["jvm_start_s"], s["session_s"],
                "/".join("%.1f" % (x - s["session_s"] - s["setup.warm_s"])
                         for x in s["setup_reps_s"]),
                s["setup.warm_s"], s["timed_wall_s"], s["finish_s"]))
        measured = [o for o in ops if o["phase"] != "warm"]
        timed = [o for o in measured if o["phase"] == "timed"]
        failed_idx = {i for i, _ in fails if i is not None}
        failed = len([o for o in measured if o["idx"] in failed_idx])
        if fails and not failed:
            failed = 1  # a final-state mismatch fails the run
        for i, msg in fails[:10]:
            log("CHECK FAILED%s: %s" % ("" if i is None else " at op %d" % i, msg))

        lat = class_latency(timed)
        counts = {"space_amp": s["store_bytes"] / max(1.0, s["user_bytes"]),
                  "store.files_on_disk": s["store_files"]}
        if "offered" in s:
            counts["dedup.admit_ratio"] = s["admitted"] / max(1.0, s["offered"])
        layer = {k: v for k, v in s.items() if not isinstance(v, list)}
        layer.update(counts)
        layer.update({k: v for k, (v, _) in lat.items()})
        if args.trace:
            layer["trace.overhead_pct"] = trace_overhead_pct(measured)
            trace_dir = os.path.join(root, ".bench_build", "catbench", "traces")
            os.makedirs(trace_dir, exist_ok=True)
            shutil.copy(os.path.join(run_dir, "out", "trace.jsonl"), os.path.join(
                trace_dir, "%s-seed%d.jsonl" % (args.workload, args.seed)))
        if not fails:
            ver = version(classes)
            record_run(root, args, ver, run_dir, counts)
            print_repeatability(load_history(root, ver), args.workload)

        e2e = {"setup_s": (s["setup_s"], len(s["setup_reps_s"])),
               "ops_per_s": (1000.0 * len(measured) / sum(o["ms"] for o in measured),
                             len(measured)),
               "ops_per_wall_s": (len(measured) / s["timed_wall_s"], len(measured)),
               "space_amp": (counts["space_amp"], 1),
               "retained_heap_mb": (s["retained_heap_mb"], 1)}
        e2e.update(lat)
        e2e.update(class_latency(timed, "wall_ms", "_wall"))
        report(args, spec, e2e, layer, len(measured), fails, failed)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(args, spec, e2e, layer, attempted, fails, failed):
    """the metric table, then the one-line result"""
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    print("%-36s %14s  %-6s %s" % ("end-to-end metric", "value", "unit", "samples"))
    for k, (v, n) in sorted(e2e.items()):
        print("%-36s %14.4f  %-6s %d" % (k, v, unit_of(k, units), n))
    if args.trace:
        print("%-36s %14s  %-6s" % ("per-layer metric (traced rounds)", "value", "unit"))
        for k in sorted(layer):
            print("%-36s %14.4f  %-6s" % (k, layer[k], unit_of(k, units)))
        names = [m["name"] for m in spec["per_layer"]]
        vals = layer
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        vals = {k: v for k, (v, _) in e2e.items()}
    missing = [k for k in names if k not in vals]
    if missing:
        fail("the run produced no %s" % ", ".join(missing))
    metrics = {k: {"value": vals[k], "unit": units[k]} for k in names}
    print(json.dumps({"correct": not fails, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))
    if fails:
        sys.exit(1)


if __name__ == "__main__":
    main()
