#!/usr/bin/env python3
"""Build and run the repository benchmark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload in turn
    python3 perfbench/run.py --make-reference                 # rewrite reference.json

Run from the repository root. The first run compiles the application and
the benchmark with sbt (offline) into ``target/`` directories; later runs
reuse the build until a source file changes. Each run starts one JVM at
``local[<cores>]`` and prints, as the last line of standard output, one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
Quartiles, samples, the facts of the run and the traced side file are
written under ``perfbench/out/``.
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
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORKLOADS = ["query_mix", "egress_fanout", "stream_epochs"]
HEAP = "3g"
NPROC = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
# Spark's task slots, and the processor count the JVM sizes its GC and JIT
# threads by: half the cores, so that the driver thread, the JIT and the
# collector run beside the tasks instead of queueing behind them
SLOTS = max(1, NPROC // 2)
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark on JDK 17 outside spark-submit needs these (as in build.sbt).
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


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; on timeout kill the whole group
    and wait for it, so nothing it started outlives the benchmark."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except BaseException:  # timeout, Ctrl-C, or SIGTERM (see main)
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def cpu_ticks():
    """(steal, total) CPU ticks since boot, or None off Linux."""
    try:
        fields = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
    except (OSError, ValueError):
        return None
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def sources():
    """Every file the build reads, application and benchmark."""
    files = [ROOT / "build.sbt", BENCH / "build.sbt"]
    files += sorted((ROOT / "project").glob("*.properties"))
    files += sorted((ROOT / "project").glob("*.sbt"))
    files += sorted((BENCH / "project").glob("*.properties"))
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return [f for f in files if f.is_file()]


def source_sha256():
    h = hashlib.sha256()
    for f in sources():
        if BENCH in f.parents:
            continue
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the recorded classpath is newer than every
    source; return the runtime classpath."""
    stamp = BENCH / "target" / "classpath.txt"
    if stamp.exists() and stamp.stat().st_mtime >= max(f.stat().st_mtime for f in sources()):
        return stamp.read_text().strip()
    log("building (sbt, offline)")
    env = dict(os.environ)
    if "-Dsbt.offline=true" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (exit {code})")
    stamp.parent.mkdir(parents=True, exist_ok=True)
    stamp.write_text(lines[-1] + "\n")
    log(f"built in {time.time() - t0:.1f} s")
    return lines[-1]


def git_commit():
    if shutil.which("git") is None or not (ROOT / ".git").exists():
        return None
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else None


def fresh_work_dir():
    work = BENCH / "work"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    return work


def jvm(cp, work, args):
    """The benchmark JVM's command line; the launch time goes last so
    set-up time counts JVM start."""
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    # a fixed heap; the throughput collector runs no GC threads beside the
    # program, and a small young generation keeps allocation in a small,
    # reused stretch of memory
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Xmn64m",
           f"-XX:ActiveProcessorCount={SLOTS}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j.configurationFile={BENCH / 'log4j2.properties'}"]
    cmd += [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return cmd + ["-cp", cp, "perfbench.Main", "--work", str(work),
                  "--data", str(BENCH / "data"), "--nproc", str(NPROC)] + args + [
        "--launched-ms", str(int(time.time() * 1000))]


def run_workload(cp, workload, seed, seconds, trace, facts):
    work = fresh_work_dir()
    out = BENCH / "out"
    out.mkdir(exist_ok=True)
    result = work / "result.json"
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--reference", str(BENCH / "reference.json"),
            "--result", str(result),
            "--detail", str(out / f"{workload}_seed{seed}_trace{trace}.json"),
            "--untraced", str(out / f"{workload}_seed{seed}_trace0.json")]
    for k, v in facts.items():
        if v is not None:
            args += [f"--{k}", v]
    ticks0 = cpu_ticks()
    try:
        code, stdout = run_group(jvm(cp, work, args), RUN_TIMEOUT_S, cwd=ROOT,
                                 stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"{workload}: no result within {RUN_TIMEOUT_S} s")
    sys.stdout.write(stdout)
    if code != 0 or not result.exists():
        raise SystemExit(f"{workload}: benchmark JVM failed (exit {code})")
    res = json.loads(result.read_text())
    ticks1 = cpu_ticks()
    if ticks0 and ticks1 and ticks1[1] > ticks0[1]:
        # CPU time the hypervisor gave to other guests during the run: a
        # noisy neighbour shows here, not in the program
        detail = out / f"{workload}_seed{seed}_trace{trace}.json"
        d = json.loads(detail.read_text())
        d["facts"]["steal_share"] = (ticks1[0] - ticks0[0]) / (ticks1[1] - ticks0[1])
        detail.write_text(json.dumps(d) + "\n")
    shutil.rmtree(work, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--make-reference", action="store_true",
                    help="run the current code on the fixed inputs and rewrite reference.json")
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # stops the JVM too
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise SystemExit(f"no application sources next to {BENCH.name}/ (build.sbt, src/main)")
    if not a.make_reference and a.workload is None:
        ap.error("--workload is required")
    cp = build()
    facts = {"commit": git_commit(), "source-sha256": source_sha256()}
    if a.make_reference:
        work = fresh_work_dir()
        code, _ = run_group(jvm(cp, work, ["--make-reference", str(BENCH / "reference.json")]),
                            1800, cwd=ROOT, stdin=subprocess.DEVNULL)
        shutil.rmtree(work, ignore_errors=True)
        raise SystemExit(code)
    if a.workload != "all":
        res = run_workload(cp, a.workload, a.seed, a.seconds, a.trace, facts)
        print(json.dumps(res))
        return
    merged = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        res = run_workload(cp, w, a.seed, a.seconds, a.trace, facts)
        print(json.dumps(res))
        merged["correct"] = merged["correct"] and res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        merged["metrics"].update({f"{w}.{k}": v for k, v in res["metrics"].items()})
    print(json.dumps(merged))


if __name__ == "__main__":
    main()
