#!/usr/bin/env python3
"""Job-level benchmark for the graft library.

Usage (from the repository root):

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke            # every workload once, tiny inputs, all checks

Builds the library together with the benchmark (sbt, offline) into
`perfbench/target` the first time, or whenever a source changed, then runs
`perfbench.Main` in one JVM. The last line of stdout is the result as
JSON; the full record of the run (labels, samples, checks, traced layers)
is copied to `.bench_build/results/`.
"""
import hashlib
import os
import shutil
import subprocess
import sys

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
OUT = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

WORKLOADS = ("daily_merge", "monthly_refresh", "stream_ingest", "corpus_ops")

# Spark 4 on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse(argv):
    args = {"workload": None, "seed": "1", "seconds": "10", "trace": "0", "smoke": False, "record": False}
    it = iter(argv)
    for a in it:
        if a in ("--workload", "--seed", "--seconds", "--trace"):
            v = next(it, None)
            if v is None:
                fail(f"{a} needs a value")
            args[a[2:]] = v
        elif a == "--smoke":
            args["smoke"] = True
        elif a == "--record":
            args["record"] = True
        else:
            fail(f"unexpected argument {a!r}")
    if not args["smoke"] and args["workload"] not in WORKLOADS:
        fail(f"--workload must be one of {', '.join(WORKLOADS)}")
    if args["trace"] not in ("0", "1"):
        fail("--trace must be 0 or 1")
    return args


def sources():
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(BENCH, "src"), LIB_SRC):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles library + benchmark once per source state; returns the classpath."""
    if not os.path.isdir(LIB_SRC) or not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("the library sources (src/main/scala/graft) are not in this directory; "
             "run from the repository root")
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    fp = fingerprint(sources())
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env.setdefault("SBT_OPTS", " ".join(opts))
    log_path = os.path.join(OUT, "build.log")
    with open(log_path, "w") as log:
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "export Runtime/fullClasspath"], cwd=BENCH, env=env,
                               stdout=subprocess.PIPE, stderr=log, text=True, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s (log: {log_path})")
        log.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if "perfbench" in l and "classes" in l and ":" in l]
    if p.returncode != 0 or not lines:
        fail(f"build failed (exit {p.returncode}); log: {log_path}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return cp


def git_sha():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return "unknown"
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def main():
    args = parse(sys.argv[1:])
    cp = build()
    tag = "smoke" if args["smoke"] else f"{args['workload']}-seed{args['seed']}-trace{args['trace']}"
    work = os.path.join(OUT, "runs", tag)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Xss4m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
              f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
              "--work", work, "--expected", os.path.join(BENCH, "expected_corpus.json"),
              "--seed", args["seed"], "--seconds", args["seconds"], "--trace", args["trace"]])
    if args["workload"]:
        cmd += ["--workload", args["workload"]]
    if args["smoke"]:
        cmd.append("--smoke")
    if args["record"]:
        cmd.append("--record")
    env = dict(os.environ, PERFBENCH_GIT_SHA=git_sha())
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    sys.stdout.write(out)
    sys.stdout.flush()
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    for name in os.listdir(work):
        if name.endswith(".json"):
            shutil.copy(os.path.join(work, name), os.path.join(results, f"{tag}-{name}"))
    shutil.rmtree(work, ignore_errors=True)
    if proc.returncode != 0:
        fail(f"benchmark exited with code {proc.returncode}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
