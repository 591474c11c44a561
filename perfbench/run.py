#!/usr/bin/env python3
"""Run one workload of the graft benchmark and print its result line.

usage (from the root of a checkout):
    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --tool survey|sustain

The first run in a checkout builds the engine and the benchmark from source
with sbt and computes the DuckDB oracle's expected results for the batch
queries; both are cached under `.bench_build/perfbench` and redone when a
source file changes. Then the benchmark JVM runs the workload. The last line of stdout is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`; with `--trace 1` the line
before it names the trace file (spans and every metric).
"""
import argparse
import fcntl
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

WORKLOADS = ("batch_sf01", "stream_kafka")
# `survey`: per-query cost of every CEP and window query (the batch
# workload's query selection); `sustain`: the stream app's latency and
# backlog over a series of offered rates (the stream workload's rates)
TOOLS = ("survey", "sustain")
BENCH = Path(__file__).resolve().parent
ROOT = Path.cwd()
CACHE = ROOT / ".bench_build" / "perfbench"
# bumped when the oracle cache layout changes
PREP_VERSION = "2"
BUILD_TIMEOUT_S = 800
PREP_TIMEOUT_S = 600
RUN_TIMEOUT_S = 170
TOOL_TIMEOUT_S = 900
# the untraced result line stays compact
MAX_LINE_BYTES = 1024

# what spark-submit adds on JDK 17; the engine's build.sbt passes the same
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def fingerprint(paths) -> str:
    h = hashlib.sha256()
    for base in paths:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def sources():
    """The files the build depends on."""
    build_defs = [p for d in (ROOT / "project", BENCH / "project")
                  for p in sorted(d.glob("*.sbt")) + sorted(d.glob("*.scala"))]
    return [ROOT / "build.sbt", ROOT / "project" / "build.properties", ROOT / "src" / "main",
            BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / "src"] + build_defs


def run_child(cmd, timeout: int, **kw) -> subprocess.CompletedProcess:
    """Run `cmd` to completion in its own process group; past `timeout`, or
    when this process is terminated, the whole group is killed and waited
    for."""
    with subprocess.Popen(cmd, text=True, start_new_session=True, **kw) as p:
        def kill(*_):
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
        def terminated(signum, _frame):
            kill()
            sys.exit(128 + signum)
        previous = {s: signal.signal(s, terminated) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            kill()
            fail(f"{cmd[0]} did not finish within {timeout}s")
        finally:
            for s, h in previous.items():
                signal.signal(s, h)
        return subprocess.CompletedProcess(cmd, p.returncode, out)


def build() -> str:
    """Compile engine and benchmark; return the runtime classpath."""
    stamp, cp_file = CACHE / "build.stamp", CACHE / "classpath.txt"
    fp = fingerprint(sources())
    if stamp.exists() and cp_file.exists() and stamp.read_text() == fp:
        return cp_file.read_text()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.exists():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx3g")
    r = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                  BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                  stderr=subprocess.STDOUT)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    return lines[-1].strip()


def java(cp: str, args, timeout: int, stdout):
    tmp = CACHE / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opens = [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # a fixed, pre-touched heap, a stop-the-world collector (no concurrent
    # GC threads competing with the task threads) and a fixed processor
    # count keep the JVM's own variation out of the run-to-run spread
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", *opens, "-Xms4g", "-Xmx4g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC",
           f"-XX:ActiveProcessorCount={cores}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main", *args]
    # Spark's scratch space stays in the cache (`spark.local.dir`)
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    return run_child(cmd, timeout, cwd=ROOT, env=env, stdout=stdout)


def prep(cp: str) -> None:
    """Compute the oracle's expected results once per source state."""
    stamp = CACHE / "prep.stamp"
    fp = PREP_VERSION + fingerprint([BENCH / "data"] + sources())
    if stamp.exists() and stamp.read_text() == fp:
        return
    r = java(cp, ["prep", "--cache", str(CACHE), "--data", str(BENCH / "data")],
             PREP_TIMEOUT_S, stdout=sys.stderr)
    if r.returncode != 0:
        fail("listing the oracle SQL failed")
    sys.path.insert(0, str(BENCH))
    import oracle
    oracle.compute(CACHE, BENCH / "data" / "sf0.1")
    stamp.write_text(fp)


def result_line(stdout: str, spec: dict, trace: bool) -> str:
    """The JVM's last stdout line, checked against the metrics `spec`
    (BENCHMARK.json) declares for an untraced or a traced run."""
    lines = stdout.strip().splitlines()
    if not lines:
        raise ValueError("no output")
    line = lines[-1]
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"unexpected keys {sorted(r)}")
    if type(r["attempted"]) is not int or r["attempted"] < 1 or type(r["failed"]) is not int:
        raise ValueError("attempted and failed must be whole numbers, attempted at least 1")
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: m.get("unit") for k, m in r["metrics"].items()}
    if got != declared:
        raise ValueError(f"metrics {got} differ from the declared {declared}")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or type(m["value"]) not in (int, float):
            raise ValueError(f"bad metric {name}: {m}")
    if not trace and len(line.encode()) >= MAX_LINE_BYTES:
        raise ValueError(f"result line is {len(line.encode())} bytes")
    return line


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tool", choices=TOOLS,
                    help="instead of a workload, print the figures its settings were chosen from")
    a = ap.parse_args()
    if a.tool is None and (a.workload is None or a.seed is None or a.seconds is None):
        ap.error("--workload, --seed and --seconds are required")
    if a.tool is None and a.seconds < 1:
        fail("--seconds must be at least 1")
    missing = [p for p in sources() + [ROOT / "BENCHMARK.json"] if not p.exists()]
    if missing:
        fail(f"not the root of a graft checkout (missing {', '.join(str(p) for p in missing)})")

    CACHE.mkdir(parents=True, exist_ok=True)
    with open(CACHE / "lock", "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        cp = build()
        prep(cp)
    if a.tool is not None:
        r = java(cp, [a.tool, "--cache", str(CACHE), "--data", str(BENCH / "data")],
                 TOOL_TIMEOUT_S, stdout=None)
        sys.exit(r.returncode)
    r = java(cp, ["run", "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", str(a.trace),
                  "--cache", str(CACHE), "--data", str(BENCH / "data")],
             RUN_TIMEOUT_S, stdout=subprocess.PIPE)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"workload {a.workload} exited with {r.returncode}")
    try:
        line = result_line(r.stdout, json.loads((ROOT / "BENCHMARK.json").read_text()), a.trace == 1)
    except ValueError as e:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"bad result line: {e}")
    sys.stdout.write(r.stdout[: r.stdout.rstrip().rfind("\n") + 1])
    print(line)


if __name__ == "__main__":
    main()
