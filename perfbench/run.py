#!/usr/bin/env python3
"""graft's end-to-end benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1> [--tiny]

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline) into `perfbench/.build`; later runs
reuse the build while no source file changed. Each run generates its
inputs from the seed, runs the workload in one JVM (closed loop, one
caller, `local[<cores>]`), checks the outputs against the DuckDB oracle
and the planted cases, and prints one JSON object as its last line:
the end-to-end metrics with `--trace 0`, the per-layer metrics with
`--trace 1`. Everything it writes stays under `perfbench/.build` and
`perfbench/.work`; the run's own directory is removed when it ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
JVM_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 850
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

END_TO_END = {
    "setup_s": "s",
    "op_ms": "ms",
    "output_mb": "MB",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    stamp, cp_file = os.path.join(BUILD, "stamp"), os.path.join(BUILD, "classpath")
    digest = sources_digest()
    if os.path.exists(cp_file) and os.path.exists(stamp):
        with open(stamp) as s, open(cp_file) as c:
            if s.read() == digest:
                return c.read()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Keep sbt's temporary files and the JVM's perf data out of the
    # system temp dir.
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building graft and the harness (sbt, offline)")
    t0 = time.time()
    res = subprocess.run(["sbt", "--batch", *opts, "export Runtime/fullClasspath"],
                         cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                         text=True, timeout=BUILD_TIMEOUT_S)
    # The exported classpath is the one output line that is not a log line.
    cps = [ln.strip() for ln in res.stdout.splitlines()
           if ln.strip() and not ln.startswith("[") and "spark-sql" in ln]
    if res.returncode != 0 or not cps:
        sys.stderr.write(res.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {res.returncode})")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    log(f"built in {time.time() - t0:.0f} s")
    return cps[-1]


def run_jvm(classpath, args, data, work):
    result = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")],
           "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false",
           "-cp", classpath, "graftbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--data", data, "--work", work, "--result", result]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        res = subprocess.run(cmd, stdout=logf, stderr=subprocess.STDOUT, timeout=JVM_TIMEOUT_S)
    with open(os.path.join(work, "jvm.log")) as f:
        jvm_log = f.read()
    if res.returncode != 0:
        sys.stderr.write(jvm_log[-4000:])
        raise SystemExit(f"benchmark JVM failed (exit {res.returncode})")
    sys.stderr.writelines(ln + "\n" for ln in jvm_log.splitlines() if ln.startswith("[perfbench]"))
    with open(result) as f:
        return json.load(f)


def end_to_end(r, ops):
    return {
        "setup_s": r["setup_s"],
        "op_ms": stats.median([o["ms"] for o in ops]),
        "output_mb": stats.median([o["bytes"] for o in ops]) / 1e6,
    }


def per_layer(r):
    ops = [o for o in r["ops"] if not o["failed"]]
    plain = stats.median([o["ms"] for o in ops if not o["traced"]])
    traced = stats.median([o["ms"] for o in ops if o["traced"]])
    metrics = {k: {"value": v["value"], "unit": v["unit"]} for k, v in r["layers"].items()}
    metrics["overhead.op_ms"] = {"value": traced - plain, "unit": "ms"}
    return metrics


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test input sizes")
    args = ap.parse_args(argv)
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("run from a graft checkout: build.sbt and src/main/scala/graft are missing")
    classpath = build()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        data = os.path.join(work, "inputs")
        t0 = time.time()
        gen.generate(args.workload, args.seed, data, tiny=args.tiny)
        t1 = time.time()
        r = run_jvm(classpath, args, data, os.path.join(work, "jvm"))
        t2 = time.time()
        checks = check.run(args.workload, data, os.path.join(work, "jvm", "check"))
        log(f"inputs {t1 - t0:.1f} s, workload {t2 - t1:.1f} s, check {time.time() - t2:.1f} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for name, ok, why in checks:
        if not ok:
            log(f"check failed: {name}: {why}")
    ops = r["ops"]
    log(f"set-up {r['setup_s']:.2f} s; op ms " + ", ".join(f"{o['ms']:.0f}" for o in ops))
    failed = sum(o["failed"] for o in ops) + sum(not ok for _, ok, _ in checks)
    good = [o for o in ops if not o["failed"]]
    if args.trace:
        metrics = per_layer(r)
    elif good:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in end_to_end(r, good).items()}
    else:
        raise SystemExit("every measured operation failed")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + len(checks),
        "failed": failed,
        "metrics": metrics,
    }))


if __name__ == "__main__":
    main()
