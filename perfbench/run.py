#!/usr/bin/env python3
"""Repository benchmark: one workload per fresh JVM.

    python3 perfbench/run.py --workload <sweep_wide|sweep_deep|catalog|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark from source into .bench_build/ (sbt, offline); later runs reuse
the build while the sources are unchanged. The last stdout line is one
JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1). A wrong
output or a failed op exits 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["sweep_wide", "sweep_deep", "catalog"]
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    dirs = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
            os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(ROOT, "build.sbt")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(base, n) for n in sorted(names)]
    return files


def build():
    """Compiles once per source state; returns the runtime classpath."""
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(engine):
        raise SystemExit(f"[perfbench] no engine sources at {engine}: "
                         "run from the root of a repository checkout")
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "classpath-" + h.hexdigest()[:16])
    if os.path.exists(stamp):
        with open(stamp) as fh:
            return fh.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = " ".join([
        "-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g",
        "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false", "-XX:-UsePerfData"]
        + ([f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')}"]
           if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else []))
    log("building engine + benchmark (sbt compile)")
    t0 = time.time()
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=900)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or ".jar" not in lines[-1]:
        raise SystemExit("[perfbench] build failed, see .bench_build/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp, "w") as fh:
        fh.write(lines[-1])
    return lines[-1]


def run_jvm(cp, workload, seed, seconds, trace):
    work = os.path.join(BUILD, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graft.perfbench.Main", "--workload", workload,
              "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work])
    logf = os.path.join(work, f"{workload}-{seed}-{int(trace)}.log")
    env = dict(os.environ)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    with open(logf, "w") as err:
        p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=err,
                           text=True, timeout=170)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"[perfbench] {workload} run failed (exit {p.returncode}), see {logf}")
    return json.loads(lines[-1])


def run_one(cp, workload, seed, seconds, trace):
    r = run_jvm(cp, workload, seed, seconds, trace)
    errors = list(r["errors"])
    if "catalog_check" in r:
        import oracle
        c = r["catalog_check"]
        errors += oracle.check(c["tables"], c["out"], c["queries"],
                               os.path.join(c["tables"], "_oracle"))
    for e in errors[:20]:
        log(f"{workload}: {e}")
    correct = r["correct"] and not errors
    metrics = r["metrics"]
    summary = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    print(f"{workload} seed={seed} ops_attempted={r['attempted']} "
          f"ops_failed={r['failed']} correct={correct} {summary}", flush=True)
    return {"correct": correct, "attempted": r["attempted"], "failed": r["failed"],
            "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    sys.path.insert(0, HERE)
    cp = build()
    names = WORKLOADS if a.workload == "all" else [a.workload]
    results = [run_one(cp, w, a.seed, a.seconds, a.trace == 1) for w in names]
    ok = all(r["correct"] for r in results)
    for r in results:
        print(json.dumps(r), flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
