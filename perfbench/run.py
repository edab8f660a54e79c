#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload catalog_small --seed 1 --seconds 12 --trace 0

Workloads: catalog_small, catalog_heavy, cp_mixed (see perfbench/WORKLOADS.md).
The first run in a checkout builds the harness with sbt (perfbench/build.sbt
compiles the program from source); later runs reuse the build until a source
file changes. Everything a run writes goes under .bench_build/ in the checkout.

--trace 1 prints the per-layer metrics instead of the end-to-end ones, writes
the spans to .bench_build/run/<workload>/trace/, and reports tracing overhead
against the untraced runs of the same workload, build and --seconds recorded
in this checkout.
--record 1 rewrites the workload's goldens in perfbench/goldens.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ("catalog_small", "catalog_heavy", "cp_mixed")
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
HEAP = "3g"

# Spark on JDK 17 needs these outside spark-submit; the same list as the
# program's build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_child(cmd, timeout, **kw):
    """Run `cmd` in a process group of its own and return its exit code
    (None if it ran past `timeout` seconds). Whatever way this returns or
    raises, a signal included, the whole group is killed and waited for."""
    proc = subprocess.Popen(cmd, stdin=subprocess.DEVNULL, start_new_session=True, **kw)
    try:
        proc.communicate(timeout=timeout)
        return proc.returncode
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()


def source_stamp():
    """Hash of every file the build reads, so an edit forces a rebuild."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "src" / "main", ROOT / "project", BENCH / "src", BENCH / "project"):
        files += [p for p in d.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(files):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build the harness if the sources changed; return its classpath and
    the source stamp it was built from."""
    out = BUILD / "perfbench"
    out.mkdir(parents=True, exist_ok=True)
    stamp, cp_file = out / "stamp", out / "classpath"
    want = source_stamp()
    if cp_file.exists() and stamp.exists() and stamp.read_text() == want:
        return cp_file.read_text().strip(), want
    log = out / "build.log"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    with open(log, "w") as f:
        rc = run_child(cmd, BUILD_TIMEOUT_S, cwd=BENCH, stdout=f, stderr=subprocess.STDOUT)
    lines = log.read_text().splitlines()
    cp = lines[-1].strip() if lines else ""
    if rc != 0 or "classes" not in cp:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}", 1)
    cp_file.write_text(cp)
    stamp.write_text(want)
    return cp, want


def history(workload):
    return BUILD / "results" / f"{workload}.jsonl"


def tracing_overhead(workload, stamp, seconds, named):
    """Traced named metrics against the median of the untraced runs recorded
    in this checkout from the same build and the same --seconds."""
    hist = history(workload)
    rows = [json.loads(l) for l in hist.read_text().splitlines()] if hist.exists() else []
    past = [r["metrics"] for r in rows
            if r.get("stamp") == stamp and r.get("seconds") == seconds]
    out = {}
    for name, m in named.items():
        base = [p[name] for p in past if name in p]
        if not base or name == "fail_ratio":
            continue
        med = statistics.median(base)
        out[name] = {"traced": m["value"], "untraced_median": med,
                     "untraced_runs": len(base),
                     "overhead": (m["value"] / med - 1) if med else None}
    return {"tracing_overhead": out or None,
            "note": None if out else
            "no untraced run of this workload, build and --seconds in this checkout yet"}


def main():
    # A termination signal unwinds through run_child, which stops the child.
    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, lambda n, _: sys.exit(128 + n))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no program sources under {ROOT}; run from a full checkout")
    cp, stamp = classpath()

    work = BUILD / "run" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}",
           "-XX:ReservedCodeCacheSize=1g",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--cores", str(cores), "--data", str(BENCH / "data" / "sf0.01"),
            "--work", str(work), "--goldens", str(BENCH / "goldens.json"),
            "--record", str(a.record)]
    out = work / "stdout"
    with open(out, "w") as f:
        rc = run_child(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdout=f)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 1)
    lines = out.read_text().splitlines()
    if rc != 0 or not lines:
        print("\n".join(lines))
        fail(f"harness exited with {rc}", 1)

    result = json.loads(lines[-1])
    named = {}
    for l in lines[:-1]:
        print(l)
        if l.startswith('{"metric"'):
            m = json.loads(l)
            named[m["metric"]] = m
    if a.trace:
        print(json.dumps(tracing_overhead(a.workload, stamp, a.seconds, named)))
    elif not a.record:
        hist = history(a.workload)
        hist.parent.mkdir(parents=True, exist_ok=True)
        with open(hist, "a") as f:
            f.write(json.dumps({"stamp": stamp, "seconds": a.seconds, "seed": a.seed,
                                "metrics": {k: v["value"] for k, v in named.items()}}) + "\n")
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
