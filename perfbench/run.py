#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload nightly_sync --seed 1 --seconds 20 --trace 0

Run from the root of a graft checkout. The first run compiles graft's main
sources together with the benchmark program (perfbench/scala) through the
benchmark's own sbt build and caches the classpath under perfbench/.build;
later runs reuse it until a source file changes. The benchmark JVM generates the
workload's inputs from the seed, runs the closed loop for --seconds, checks
the outputs and writes a raw record, from which this script prints every
metric and, as its last line, the result object. With --trace 1 the run
alternates traced and untraced operations and reports per-layer metrics and
the tracing overhead; spans go to perfbench/out/.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import report  # noqa: E402
from stats import TAIL_BEYOND, tail  # noqa: E402

BUILD_DIR = os.path.join(HERE, ".build")
OUT_DIR = os.path.join(HERE, "out")
WORK_DIR = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files(root):
    dirs = [os.path.join(root, "src", "main"), os.path.join(HERE, "scala")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in dirs:
        for base, _, names in os.walk(d):
            files.extend(os.path.join(base, n) for n in names)
    return sorted(files)


def build(root):
    """Compile once per source state; returns the runtime classpath."""
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    stamp_file = os.path.join(BUILD_DIR, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env:
        submit = shutil.which("spark-submit")
        if not submit:
            fail("set SPARK_HOME: graft compiles against the jars of a Spark installation")
        env["SPARK_HOME"] = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
        env["SBT_OPTS"] = " ".join(opts)
    log_path = os.path.join(BUILD_DIR, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=HERE, env=env,
                               stdout=subprocess.PIPE, stderr=log, text=True,
                               timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log_path}")
        log.write(p.stdout)
    lines = [ln for ln in p.stdout.splitlines() if "scala-2.13/classes" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); see {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, args, work, result_path, spans_path, log_path):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores()), "--scale", str(args.scale),
              "--work", work, "--result", result_path,
              "--spans", spans_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"benchmark JVM timed out after {JVM_TIMEOUT_S} s; see {log_path}", 1)
    if code != 0 or not os.path.exists(result_path):
        fail(f"benchmark JVM failed (exit {code}); see {log_path}", 1)
    with open(result_path, encoding="utf-8") as f:
        return json.loads(f.read())


def fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(report.KINDS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (1 = benchmark sizes)")
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a graft checkout (src/main/scala/graft not found)")
    cp = build(root)

    os.makedirs(OUT_DIR, exist_ok=True)
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(WORK_DIR, f"{tag}-{os.getpid()}")
    spans_path = os.path.join(OUT_DIR, f"spans-{tag}.jsonl")
    log_path = os.path.join(OUT_DIR, f"jvm-{tag}.log")
    t0 = time.time()
    try:
        res = run_jvm(cp, args, work, os.path.join(work, "result.json"), spans_path, log_path)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    w = args.workload
    alias = report.ALIASES[w]
    print(f"workload {w} seed {args.seed} trace {args.trace} cores {res['cores']} "
          f"wall {time.time() - t0:.1f} s")
    print("inputs " + " ".join(f"{k}={fmt(v) if isinstance(v, float) else v}"
                               for k, v in sorted(res["inputs"].items())))
    counts = {}
    for o in res["ops"]:
        counts[o["kind"]] = counts.get(o["kind"], 0) + 1
    print("operations " + " ".join(f"{k}={n}" for k, n in sorted(counts.items()))
          + f"  (session {res['session_s']:.1f} s, setups "
          + "/".join(f"{x:.1f}" for x in res["setup_gen_s"])
          + f" s, loop {res['loop_s']:.1f} s, checks {res['checks_s']:.1f} s)")
    for name, ok, detail in ((c["name"], c["ok"], c["detail"]) for c in res["checks"]):
        print(f"check {'ok  ' if ok else 'FAIL'} {name}" + ("" if ok else f": {detail}"))
    for f in res["failures"]:
        print(f"failure {f}")
    print(f"failed_share {res['failed']}/{res['attempted']}")

    if args.trace == 0:
        e2e = report.end_to_end(res, res["ops"])
        main_durs = [o["dur_s"] for o in res["ops"] if o["kind"] == report.KINDS[w]["main"]]
        for name, unit in report.END_TO_END:
            print(f"metric {name} = {fmt(e2e[name])} {unit}  [{alias.get(name, name)}]")
        value, pct, beyond, n = tail(main_durs)
        print(f"tail {alias['main_tail']} = {fmt(value)} s  (p{pct:.0f} of {n} samples, {beyond} beyond; "
              f"a supported tail needs {TAIL_BEYOND + 1} samples)")
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in report.END_TO_END}
    else:
        spans = report.load_spans(spans_path) if os.path.exists(spans_path) else []
        layers = report.per_layer(res, spans)
        for name, secs in report.self_times(spans).items():
            print(f"self_time {name} = {fmt(secs)} s")
        for name, unit, _ in report.PER_LAYER:
            print(f"layer {name} = {fmt(layers[name])} {unit}")
        print(f"spans {os.path.relpath(spans_path, root)} ({len(spans)} spans)")
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit, _ in report.PER_LAYER}
    missing = [k for k, v in metrics.items() if v["value"] is None]
    if missing:
        fail(f"no samples for {', '.join(missing)}", 1)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
