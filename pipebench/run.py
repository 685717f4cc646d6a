#!/usr/bin/env python3
"""Pipeline benchmark: build the program, generate a workload's inputs from
a seed, run one JVM that sets up and then runs the workload's pipeline pass
after pass for a fixed time, check every pass's outputs, and print the
metrics.

    python3 pipebench/run.py --workload topics --seed 1 --seconds 8 --trace 0
    python3 pipebench/run.py --selftest

Run from the repository root. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics
are the end-to-end ones of BENCHMARK.json, with --trace 1 the per-layer
ones. The line before it, `PIPEBENCH_STAMP {...}`, says what produced the
result (commit or source digest, cores, heap, JDK, Spark, seed, input
digest, pass counts); the same is written under pipebench/.work/results/.

Builds, inputs, Spark local directories and sink outputs all live under
pipebench/.build and pipebench/.work.
"""

import argparse
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORKLOADS = ("topics", "dedup")
HEAP = "3g"
RUN_LIMIT_S = 170  # a run must end within 180 s, builds aside
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
E2E = (("setup_s", "s"), ("pass_s", "s"), ("docs_per_s", "docs/s"),
       ("cpu_s", "s"), ("peak_pinned_mb", "MB"))
LAYERS = ("ingest", "text", "ml.vocab", "ml.lda", "ml.coherence",
          "ml.similarity", "ml.components", "sink")
LAYER_METRICS = (("wall_s", "s"), ("idle_s", "s"), ("jobs", "count"),
                 ("stages", "count"), ("tasks", "count"), ("task_s", "s"),
                 ("gc_s", "s"), ("input_mb", "MB"), ("shuffle_write_mb", "MB"),
                 ("output_mb", "MB"), ("rows_out", "rows"),
                 ("task_failures", "count"))
EXTRA_METRICS = (("ingest.files", "count"), ("ml.vocab.kept_ratio", "ratio"),
                 ("ml.lda.iterations", "count"), ("ml.lda.jobs_per_iter", "ratio"),
                 ("ml.components.rounds", "count"),
                 ("ml.components.jobs_per_round", "ratio"),
                 ("ml.similarity.pair_yield", "ratio"),
                 ("unattributed_s", "s"), ("trace_overhead_s", "s"))


def spark_cores():
    """Spark's local cores: one fewer than nproc (at most 4), so that the
    driver thread, the JIT compiler and the GC have a core of their own
    and do not queue behind a stage's tasks."""
    return max(1, min(4, os.cpu_count() or 1) - 1)


def per_layer_units():
    units = {"%s.%s" % (l, m): u for l in LAYERS for m, u in LAYER_METRICS}
    units.update(EXTRA_METRICS)
    return units


def fail(msg):
    print("pipebench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars(root):
    """The jar directory the program's build.sbt names as unmanagedBase."""
    with open(os.path.join(root, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m or not os.path.isdir(m.group(1)):
        fail("build.sbt names no existing unmanagedBase jar directory")
    return m.group(1)


def sources(root, sub):
    out = []
    for base, dirs, files in os.walk(os.path.join(root, sub)):
        dirs.sort()
        out += [os.path.join(base, f) for f in sorted(files)]
    return out


def build(root, jars):
    """Compile the program (src/main) and the benchmark (pipebench/src) with
    the Scala compiler among the program's jars; skip when the sources are
    unchanged since the last build. Returns (classpath, source digest)."""
    prog = sources(root, "src/main")
    bench = sources(root, "pipebench/src")
    jarlist = sorted(os.listdir(jars))
    h = hashlib.sha256()
    for p in prog + bench:
        h.update(os.path.relpath(p, root).encode() + b"\0")
        with open(p, "rb") as f:
            h.update(f.read())
    h.update("\n".join(jarlist).encode())
    key = h.hexdigest()
    out = os.path.join(HERE, ".build")
    classes = [os.path.join(out, "bench"), os.path.join(out, "program")]
    cp_jars = [os.path.join(jars, j) for j in jarlist if j.endswith(".jar")]
    stamp = os.path.join(out, "key")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return classes + cp_jars, key
    compiler = [j for j in cp_jars if re.search(
        r"/scala-(compiler|library|reflect)-2\.13\.[0-9]+\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala 2.13 compiler among the program's jars")
    shutil.rmtree(out, ignore_errors=True)
    steps = (("program", [p for p in prog if p.endswith(".scala")], cp_jars),
             ("bench", [p for p in bench if p.endswith(".scala")],
              [classes[1]] + cp_jars))
    for name, srcs, cp in steps:
        dest = os.path.join(out, name)
        os.makedirs(dest)
        t0 = time.time()
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", dest,
             "-classpath", ":".join(cp)] + srcs,
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
        if r.returncode != 0:
            sys.stderr.write(r.stdout)
            fail("compiling %s failed" % name)
        print("pipebench: built %s in %.1f s" % (name, time.time() - t0),
              file=sys.stderr)
    resources = os.path.join(root, "src/main/resources")
    if os.path.isdir(resources):
        shutil.copytree(resources, classes[1], dirs_exist_ok=True)
    with open(stamp, "w") as f:
        f.write(key)
    return classes + cp_jars, key


def run_jvm(classpath, work, args, deadline):
    """Start the benchmark JVM; return ({session_s, setup_s}, result): the
    seconds from process start to the session and to the ready line."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # the JVM options of the program's build.sbt, except: a fixed heap
    # well below its 16g ceiling, so that heap resizing does not add to the
    # spread of the timings; temporary files in `work`; no hsperfdata file
    # in the system temporary directory
    cmd = (["java", "-XX:-UsePerfData", "-Xms" + HEAP, "-Xmx" + HEAP,
            "-XX:ReservedCodeCacheSize=2g",
            "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
           + ["-cp", ":".join(classpath), "graft.pipebench.Main"] + args)
    log = open(os.path.join(work, "jvm.log"), "w")
    t0 = time.monotonic()
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                            cwd=work)
    watchdog = threading.Timer(max(1.0, deadline - time.monotonic()), proc.kill)
    watchdog.start()
    clocks, result = {}, None
    try:
        for line in proc.stdout:
            if line.startswith("PIPEBENCH_SESSION"):
                clocks["session_s"] = time.monotonic() - t0
            elif line.startswith("PIPEBENCH_READY"):
                clocks["setup_s"] = time.monotonic() - t0
            elif line.startswith("PIPEBENCH_RESULT "):
                result = json.loads(line.split(" ", 1)[1])
        proc.wait()
    finally:
        watchdog.cancel()
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        log.close()
    if proc.returncode != 0 or result is None:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail("benchmark JVM failed (exit %s)" % proc.returncode)
    return clocks, result


def git_commit(root):
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    return r.stdout.strip() or None


def make_inputs(work, workload, seed, kinds):
    out = {}
    for kind in kinds:
        d = os.path.join(work, "inputs", kind)
        manifest = gen.generate(workload, seed, kind, d)
        out[kind] = (d, manifest, gen.digest(d))
    return out


def metric(value, unit):
    return {"value": value, "unit": unit}


def main_run(a, root, classpath, key, start):
    cores = spark_cores()
    work = os.path.join(HERE, ".work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inputs = make_inputs(work, a.workload, a.seed, ("warm", "main"))
    args = ["--mode", "run", "--workload", a.workload, "--cores", str(cores),
            "--work", work, "--warm", inputs["warm"][0],
            "--input", inputs["main"][0], "--seconds", str(a.seconds),
            "--trace", str(a.trace)]
    clocks, res = run_jvm(classpath, work, args, start + RUN_LIMIT_S)
    passes = res["passes"]
    warm = res["warm"]
    attempted = len(passes) + len(warm)
    failed = sum(1 for p in warm + passes if p["failures"])
    untraced = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    pass_s = statistics.median(p["wall_s"] for p in untraced)
    if a.trace:
        # the layers of the traced pass with the median wall time, so the
        # layers' walls and unattributed_s add up to that pass's pass_s
        pick = sorted(traced, key=lambda p: p["wall_s"])[(len(traced) - 1) // 2]
        layers = dict(pick["layers"])
        layers["unattributed_s"] = pick["wall_s"] - sum(
            layers["%s.wall_s" % l] for l in LAYERS)
        layers["trace_overhead_s"] = (
            statistics.median(p["wall_s"] for p in traced) - pass_s)
        units = per_layer_units()
        metrics = {k: metric(layers[k], u) for k, u in units.items()}
    else:
        values = {
            "setup_s": clocks["setup_s"],
            "pass_s": pass_s,
            "docs_per_s": res["docs"] / pass_s,
            "cpu_s": statistics.median(p["cpu_s"] for p in untraced),
            "peak_pinned_mb": statistics.median(p["pinned_mb"] for p in untraced),
        }
        metrics = {k: metric(values[k], u) for k, u in E2E}
    stamp = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "trace": a.trace, "git_commit": git_commit(root),
        "source_digest": key, "nproc": os.cpu_count(), "cores": cores,
        "heap": HEAP, "heap_max_mb": res["heap_max_mb"],
        "vmhwm_mb": res["vmhwm_kb"] / 1024.0,
        "jdk": res["java_version"], "spark": res["spark_version"],
        "input_sizes": {k: v[1]["size"] for k, v in inputs.items()},
        "input_digests": {k: v[2] for k, v in inputs.items()},
        "session_s": clocks["session_s"],
        "warmup_walls_s": [p["wall_s"] for p in warm],
        "warmup_passes": len(warm), "timed_passes": len(passes),
        "pass_walls_s": [p["wall_s"] for p in passes],
        "codegen_compiles": [p["codegen_compiles"] for p in warm + passes],
        "failures": [p["failures"] for p in warm + passes if p["failures"]],
        "info": passes[-1]["info"],
        "time_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    out = {"correct": failed == 0, "attempted": attempted, "failed": failed,
           "metrics": metrics}
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    name = "%s-seed%d-trace%d.json" % (a.workload, a.seed, a.trace)
    with open(os.path.join(results, name), "w") as f:
        json.dump({"stamp": stamp, "result": out, "passes": passes,
                   "warm": warm}, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("PIPEBENCH_STAMP " + json.dumps(stamp))
    print(json.dumps(out))


def main_selftest(a, classpath):
    """Plant each output corruption and require its check to fire."""
    cores = spark_cores()
    report, ok = {}, True
    for w in WORKLOADS:
        work = os.path.join(HERE, ".work", "selftest-" + w)
        shutil.rmtree(work, ignore_errors=True)
        os.makedirs(work)
        inputs = make_inputs(work, w, a.seed, ("main",))
        args = ["--mode", "selftest", "--workload", w, "--cores", str(cores),
                "--work", work, "--input", inputs["main"][0]]
        _, res = run_jvm(classpath, work, args, time.monotonic() + 600)
        st = res["selftest"]
        report[w] = st
        ok = ok and not st["clean_failures"]
        for name, r in sorted(st["corruptions"].items()):
            ok = ok and r["detected"]
            print("%-8s %-18s %s  fired: %s" % (
                w, name, "DETECTED" if r["detected"] else "MISSED",
                ", ".join(r["fired"])))
        print("%-8s clean outputs: %s" % (
            w, "pass" if not st["clean_failures"] else st["clean_failures"]))
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"selftest_ok": ok, "seed": a.seed, "report": report}))
    sys.exit(0 if ok else 1)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=8)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--selftest", action="store_true")
    a = p.parse_args()
    if not a.selftest and a.workload is None:
        p.error("--workload is required")
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src/main/scala"))):
        fail("run from the repository root: no build.sbt and src/main/scala here")
    classpath, key = build(root, spark_jars(root))
    if a.selftest:
        main_selftest(a, classpath)
    else:
        main_run(a, root, classpath, key, time.monotonic())


if __name__ == "__main__":
    main()
