#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 30 --trace 0

The first run in a checkout builds the engine and the harness from source
(sbt, offline) into .bench_build/, and writes there the query_mix corpus,
which depends on no seed. Each run works in its own directory
under .bench_work/, which is removed when the run ends. The last line of
standard output is one JSON object: correct, attempted, failed and the
metrics (end-to-end ones with --trace 0, per-layer ones with --trace 1).
The exit code is 0 only when the run completed and every output checked
correct. See perfbench/README.md for what each metric means.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
BENCH = ROOT / "perfbench"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = ROOT / ".bench_build"
WORK = ROOT / ".bench_work"
CORPUS = BUILD / "corpus"
# class-data archive of the JDK, Spark and engine classes the corpus writer
# loads; every run maps it (README.md, "How it drives the program")
ARCHIVE = BUILD / "classes.jsa"
WORKLOADS = ("query_mix", "cte_monitor", "doc_stream")
# an invocation ends within RUN_LIMIT_S seconds of its start, or within
# BUILD_LIMIT_S when it builds; a JVM still running then is killed
START = time.time()
RUN_LIMIT_S = 175
BUILD_LIMIT_S = 880
limit_s = RUN_LIMIT_S

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties",
             BENCH / "run.py"]
    for base in (BENCH / "src", ENGINE_SRC):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness and write the query_mix corpus once per
    source state; return the classpath and the source stamp."""
    if not (ENGINE_SRC.is_dir() and (BENCH / "build.sbt").is_file()):
        die("engine sources not found: run from the root of a full checkout")
    stamp = source_stamp()
    cp_file = BUILD / "target" / "classpath.txt"
    stamp_file = BUILD / "stamp"
    if (cp_file.is_file() and ARCHIVE.is_file() and stamp_file.is_file()
            and stamp_file.read_text() == stamp):
        return cp_file.read_text().strip(), stamp
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    global limit_s
    limit_s = BUILD_LIMIT_S
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "writeClasspath"], cwd=BENCH, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=BUILD_LIMIT_S - 240)
    if proc.returncode != 0 or not cp_file.is_file():
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    classpath = cp_file.read_text().strip()
    shutil.rmtree(CORPUS, ignore_errors=True)
    ARCHIVE.unlink(missing_ok=True)
    WORK.mkdir(exist_ok=True)
    code, _ = run_jvm(
        java_cmd(classpath, ["corpus", str(CORPUS)],
                 f"-XX:ArchiveClassesAtExit={ARCHIVE}"),
        WORK / "last-corpus.log")
    if code != 0 or not ARCHIVE.is_file():
        sys.stderr.write((WORK / "last-corpus.log").read_text()[-4000:])
        die("writing the query_mix corpus or the class-data archive failed")
    stamp_file.write_text(stamp)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return classpath, stamp


def java_cmd(classpath, args,
             cds=f"-XX:SharedArchiveFile={ARCHIVE}"):
    # JVM log lines go to stderr: stdout carries only the result. With
    # -Xshare:on a run whose archive cannot be mapped fails instead of
    # running without it.
    cmd = ["java", "-Xmx3g", "-Xshare:on", cds, "-Duser.timezone=UTC",
           "-Xlog:disable", "-Xlog:all=warning:stderr",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Main"] + args


def run_jvm(cmd, log):
    """Run the JVM to completion, or kill it when the invocation runs
    out of time; return its exit code and stdout. Its stderr goes to
    `log`."""
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(
                timeout=max(1.0, START + limit_s - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            out, _ = proc.communicate()
            return -1, out
    return proc.returncode, out


def clean_stale_runs():
    """Remove run directories left by runs whose process is gone."""
    if not WORK.is_dir():
        return
    for d in WORK.glob("run-*"):
        pid = d.name.rsplit("-", 1)[-1]
        if pid.isdigit() and not Path(f"/proc/{pid}").exists():
            shutil.rmtree(d, ignore_errors=True)


def one_run(classpath, a, traced, untraced_wall=None):
    """One JVM run in a fresh directory; returns the parsed result."""
    run_dir = WORK / f"run-{a.workload}-{a.seed}-{int(traced)}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--trace", "1" if traced else "0", "--work", str(run_dir),
            "--corpus", str(CORPUS)]
    if untraced_wall is not None:
        args += ["--untraced-wall", repr(untraced_wall)]
    log = WORK / f"last-{a.workload}-{int(traced)}.log"
    try:
        code, out = run_jvm(java_cmd(classpath, args), log)
        if traced and (run_dir / "trace.json").is_file():
            traces = WORK / "traces"
            traces.mkdir(exist_ok=True)
            shutil.copy(run_dir / "trace.json",
                        traces / f"{a.workload}-{a.seed}.json")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 and not (lines and lines[-1].startswith("{")):
        sys.stderr.write(log.read_text()[-6000:])
        die(f"{a.workload} run failed (exit {code}); log in {log}", 1)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for a uniform command line; sizes are fixed in the code
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_file = ROOT / "BENCHMARK.json"
    if not spec_file.is_file():
        die("BENCHMARK.json not found: run from the root of a checkout")
    spec = json.loads(spec_file.read_text())
    classpath, stamp = build()
    WORK.mkdir(exist_ok=True)
    clean_stale_runs()

    # untraced wall_s history of this build only
    walls = WORK / f"untraced-wall-{a.workload}-{stamp[:16]}.json"

    def record_wall(result):
        past = json.loads(walls.read_text()) if walls.is_file() else []
        walls.write_text(json.dumps(
            past[-19:] + [result["metrics"]["wall_s"]["value"]]))

    if a.trace:
        # tracing overhead = traced wall_s minus the median untraced wall_s
        # of this build; make one untraced run first if there is none
        if not walls.is_file():
            record_wall(one_run(classpath, a, traced=False))
        past = sorted(json.loads(walls.read_text()))
        result = one_run(classpath, a, traced=True,
                         untraced_wall=past[len(past) // 2])
        wanted = [m["name"] for m in spec["per_layer"]]
    else:
        result = one_run(classpath, a, traced=False)
        wanted = [m["name"] for m in spec["end_to_end"]]
    if result["metrics"].keys() != set(wanted):
        die(f"metric names differ from BENCHMARK.json: "
            f"{sorted(set(wanted) ^ result['metrics'].keys())}", 3)
    if not a.trace:
        record_wall(result)

    for name in wanted:
        m = result["metrics"][name]
        print(f"{name:32s} {m['value']!s:>24} {m['unit']}")
    print(f"{'attempted':32s} {result['attempted']:>24}")
    print(f"{'failed':32s} {result['failed']:>24}")
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
