"""One command for the graft benchmark.

    python3 perfbench/run.py --workload sparql-interactive --seed 1 --seconds 10 --trace 0

Builds the library and the harness from this checkout (once; the build is
reused while the sources are unchanged), generates the workload's inputs
from the seed, runs the harness JVM, checks its answers against
independent ones, and prints, as the last line, one JSON object with
`correct`, `attempted`, `failed` and `metrics` (end-to-end metrics with
`--trace 0`, per-layer metrics with `--trace 1`). See perfbench/README.md.
"""
import argparse
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

import gen  # noqa: E402
import checks  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
# 3 GB with a fixed young generation, so that peak RSS follows the work
# rather than when the collector happened to grow the heap (see
# README.md, "Machine assumptions")
JVM_HEAP = ["-Xmx3g", "-Xmn256m"]
RUN_LIMIT_S = 170        # whole run, build excluded
BUILD_LIMIT_S = 850
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = ["setup_s", "latency_p50_s", "ops_per_s", "peak_rss_mb"]
UNITS = {"setup_s": "s", "latency_p50_s": "s", "ops_per_s": "1/s",
         "peak_rss_mb": "MB"}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def _source_stamp():
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, "src", "main"), HARNESS):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", "project"))
            for name in sorted(files):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, ROOT).encode() + b"\0")
                with open(p, "rb") as f:
                    h.update(f.read())
    for p in (os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile library + harness with sbt; return the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = _source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           f"-Dsbt.global.base={os.path.join(BUILD, 'sbt-global')}",
           "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as f:
        code = _run(cmd, HARNESS, env, f, BUILD_LIMIT_S)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    cp = [l for l in lines if "harness-target" in l and os.pathsep in l and " " not in l]
    if code != 0 or not cp:
        die(f"build failed (exit {code}); see {log}")
    with open(cp_file, "w") as f:
        f.write(cp[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1]


def _run(cmd, cwd, env, out, limit):
    """Run `cmd` in its own process group; kill the group on timeout and
    wait for it, so nothing outlives the run."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                         stderr=subprocess.STDOUT, start_new_session=True)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest whole percentile with at least ten samples beyond it,
    by nearest rank; with ten samples or fewer, the maximum. Returns
    (value, percentile)."""
    n = len(xs)
    if n <= 10:
        return (max(xs) if xs else 0.0), 100
    p = math.floor(100 * (1 - 10 / n))
    return sorted(xs)[max(0, math.ceil(p / 100 * n) - 1)], p


WRITE_KINDS = {"ingest", "update"}
READ_KINDS = {"select", "ask", "read"}


def end_to_end(res, ops, workload):
    walls = [o["wall_s"] for o in ops]
    wall = res["timed_wall_s"] or 1e-9
    t, pct = tail(walls)
    m = {"setup_s": res["jvm_to_session_s"] + res["graph_s"] + res["warm_s"],
         "latency_p50_s": median(walls), "ops_per_s": len(ops) / wall,
         "peak_rss_mb": res["peak_rss_mb"]}
    detail = {"latency_tail_s": t, "tail_percentile": pct, "ops": len(ops),
              "timed_wall_s": wall}
    if workload == "corpus-dedup":
        detail["docs_per_s"] = sum(o["items"] for o in ops) / wall
        detail["corpus_docs"] = res["facts"]["docs"]
    else:
        detail["triples_per_s"] = sum(o["items"] for o in ops
                                      if o["kind"] in WRITE_KINDS) / wall
        detail["write_p50_s"] = median([o["wall_s"] for o in ops
                                        if o["kind"] in WRITE_KINDS])
        detail["read_p50_s"] = median([o["wall_s"] for o in ops
                                       if o["kind"] in READ_KINDS])
        detail["writes"] = sum(1 for o in ops if o["kind"] in WRITE_KINDS)
    return m, detail


PER_LAYER = [
    "setup.session_s", "setup.graph_s", "setup.warm_s",
    "sparql.build_s", "sparql.parse_s", "sparql.compile_s",
    "update.apply_s", "display.sniffs",
    "catalyst.analyze_s", "catalyst.optimize_s", "catalyst.plan_s",
    "plan.exchanges", "plan.broadcast_joins",
    "exec.jobs", "exec.stages", "exec.tasks", "exec.job_wall_s",
    "exec.task_run_s", "exec.task_cpu_s", "exec.core_busy_frac",
    "exec.sched_wait_s", "exec.shuffle_write_bytes", "exec.shuffle_read_bytes",
    "exec.spill_bytes", "exec.result_rows", "exec.result_bytes",
    "exec.driver_gap_s", "jvm.gc_s",
    "pipeline.exact_s", "pipeline.minhash_s", "pipeline.ngram_s",
    "pipeline.simhash_s", "pipeline.quality_s", "pipeline.knn_s",
    "pipeline.pairs_out", "pipeline.planted_recall",
    "store.ingest_s", "store.load_s", "store.bytes_written", "store.write_amp",
    "store.files", "store.compactions",
    "op.wall_s", "trace.overhead_frac", "trace.identity_err_frac"]
LAYER_UNITS = {"display.sniffs": "count",
               "plan.exchanges": "count", "plan.broadcast_joins": "count",
               "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
               "exec.core_busy_frac": "fraction", "exec.result_rows": "count",
               "pipeline.pairs_out": "count", "pipeline.planted_recall": "fraction",
               "store.write_amp": "ratio", "store.files": "count",
               "store.compactions": "count", "trace.overhead_frac": "fraction",
               "trace.identity_err_frac": "fraction"}
# the layer sums must match the operations' wall time to within this share
IDENTITY_TOL = 0.02
IDENTITY = ["build_s", "catalyst.analyze_s", "catalyst.optimize_s",
            "catalyst.plan_s", "exec.job_wall_s", "exec.driver_gap_s"]


def unit_of(name):
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    return "bytes" if name.endswith("_bytes") or name.endswith("bytes_written") else "s"


def per_layer(res, ops, facts):
    traced = [o for o in ops if o.get("traced")]

    def mean(key, sel=lambda o: True):
        xs = [o["layers"].get(key, 0.0) for o in traced if sel(o)]
        return sum(xs) / len(xs) if xs else 0.0

    m = {k: 0.0 for k in PER_LAYER}
    m["setup.session_s"] = res["jvm_to_session_s"]
    m["setup.graph_s"] = res["graph_s"]
    m["setup.warm_s"] = res["warm_s"]
    for k in PER_LAYER:
        if k.startswith(("exec.", "catalyst.", "plan.", "jvm.", "display.")):
            m[k] = mean(k)
    m["sparql.build_s"] = mean("build_s", lambda o: o["kind"] in READ_KINDS)
    m["sparql.parse_s"] = mean("sparql.parse_s", lambda o: o["kind"] in READ_KINDS | {"update"})
    m["sparql.compile_s"] = mean("sparql.compile_s", lambda o: o["kind"] in {"select", "read"})
    m["update.apply_s"] = mean("update.apply_s", lambda o: o["kind"] == "update")
    for k in PER_LAYER:
        if k.startswith("pipeline.") and k != "pipeline.planted_recall":
            m[k] = mean(k, lambda o: o["kind"] == "pass")
        if k.startswith("store."):
            m[k] = mean(k, lambda o: o["kind"] == "ingest")
    m["pipeline.planted_recall"] = facts.get("planted_recall", 0.0)
    m["op.wall_s"] = sum(o["wall_s"] for o in traced) / max(1, len(traced))
    # tracing overhead: each repeatable operation ran twice back to back,
    # traced and untraced, the order alternating from pair to pair
    pairs = {}
    for o in ops:
        if "pair" in o:
            pairs.setdefault(o["pair"], {})[o["traced"]] = o["wall_s"]
    both = [p for p in pairs.values() if len(p) == 2]
    den = sum(p[False] for p in both)
    m["trace.overhead_frac"] = sum(p[True] - p[False] for p in both) / den if den else 0.0
    # weighted by wall time, so that a millisecond of timer granularity on
    # a 15 ms update does not count as 10%
    err = sum(abs(o["wall_s"] - sum(o["layers"].get(k, 0.0) for k in IDENTITY))
              for o in traced)
    wall = sum(o["wall_s"] for o in traced)
    m["trace.identity_err_frac"] = err / wall if wall else 0.0
    return m


# ------------------------------------------------------------------- main

def run(args):
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (src/main/scala/graft not found)")
    if not shutil.which("sbt") or not shutil.which("java"):
        die("sbt and java must be on PATH")
    classpath = build()
    t_run = time.time()
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    inputs, out = os.path.join(work, "inputs"), os.path.join(work, "out")
    try:
        digest = gen.generate(args.workload, args.seed, inputs)
        os.makedirs(os.path.join(work, "tmp"))
        cmd = (["java"] + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + JVM_HEAP + ["-Dspark.ui.enabled=false",
                  "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                  "-cp", classpath, "perfbench.Main", args.workload, inputs, out,
                  str(args.seconds), str(args.trace)])
        log = os.path.join(work, "jvm.log")
        with open(log, "w") as f:
            code = _run(cmd, ROOT, dict(os.environ), f,
                        max(10, RUN_LIMIT_S - (time.time() - t_run)))
        result_file = os.path.join(out, "result.json")
        if code != 0 or not os.path.exists(result_file):
            with open(log) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            die(f"harness failed (exit {code})")
        with open(result_file) as f:
            res = json.load(f)
        with open(os.path.join(inputs, "script.json")) as f:
            script = json.load(f)
        ops = res["ops"]
        verdict = checks.check(args.workload, inputs, out, script, res)
        failed = sum(1 for o in ops if not o["ok"] or o["i"] in verdict["bad_ops"])
        attempted = max(1, len(ops))
        e2e, detail = end_to_end(res, ops, args.workload)
        detail.update(verdict["facts"])
        detail["fail_frac"] = failed / attempted
        detail["input_digest"] = digest
        for line in verdict["notes"]:
            print(f"check: {line}")
        if args.trace:
            layers = per_layer(res, ops, verdict["facts"])
            ok_identity = layers["trace.identity_err_frac"] <= IDENTITY_TOL
            print(f"trace: layer sums vs op wall: error "
                  f"{layers['trace.identity_err_frac']:.4f} "
                  f"({'within' if ok_identity else 'OUTSIDE'} {IDENTITY_TOL}), "
                  f"tracing overhead {layers['trace.overhead_frac']:.4f}")
            verdict["correct"] &= ok_identity
            metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}
        else:
            metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in END_TO_END}
        print("workload metrics: " + json.dumps(detail, sort_keys=True))
        line = {"correct": verdict["correct"] and failed == 0,
                "attempted": attempted, "failed": failed, "metrics": metrics}
        if args.record:
            with open(args.record, "a") as f:
                f.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                    "trace": args.trace, "detail": detail,
                                    "result": line}) + "\n")
        print(json.dumps(line))
    finally:
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", help="append the result as a JSON line to this file")
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--self-test", action="store_true",
                    help="generator digest and correctness-gate self-tests (no JVM)")
    args = ap.parse_args()
    if args.self_test:
        sys.exit(0 if checks.self_test(os.path.join(BUILD, "selftest")) else 1)
    if not args.workload:
        ap.error("--workload is required")
    run(args)


if __name__ == "__main__":
    main()
