#!/usr/bin/env python3
"""Benchmark driver for graft: build, run one workload, print the result.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

The first call builds graft and the runner from source with sbt (the build
file is perfbench/build.sbt) into .bench_build/ and perfbench/target/; later
calls reuse that build while the sources are unchanged. Each run starts one
JVM (perfbench.Main), which stages the seeded inputs, measures for --seconds,
checks the outputs and reports its metrics.

Standard output ends with two lines: a host record
({"host": ..., "detail": ...}) and the result, one JSON object with exactly
the keys correct, attempted, failed and metrics. --trace 0 reports the
end-to-end metrics of BENCHMARK.json, --trace 1 its per-layer metrics.
Everything the run writes stays under .bench_build/ in the checkout.
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

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The heap is not pre-touched and starts small, so the peak resident set
# follows what the run really holds, heap caches included. The young
# generation has a fixed size: left adaptive, the collector's sizing choices
# moved the peak by 11-17% from run to run.
HEAP_MAX = "3g"
HEAP_START = "768m"
HEAP_YOUNG = "512m"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit; the same list as the root build.sbt.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build depends on, in a stable order."""
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    return files


def source_digest():
    h = hashlib.sha256()
    for p in sources():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath of an identical source tree
    is already there; return the runtime classpath."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    digest = source_digest()
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == digest:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        fail("sbt is not on PATH")
    BUILD.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if not env.get("SPARK_HOME"):
        # the first spark-submit on PATH that sits in a distribution with
        # jars/ (a pip-installed pyspark wrapper does not)
        homes = [Path(d, "spark-submit").resolve().parent.parent
                 for d in env.get("PATH", "").split(os.pathsep) if Path(d, "spark-submit").exists()]
        homes = [h for h in homes if (h / "jars").is_dir()]
        if not homes:
            fail("set SPARK_HOME to a Spark distribution")
        env["SPARK_HOME"] = str(homes[0])
    # every JVM the sbt script starts keeps its files inside the checkout
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData").strip()
    tmp = BUILD / "sbt-tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-J-XX:-UsePerfData",
             f"-J-Djava.io.tmpdir={tmp}", f"-Djna.tmpdir={tmp}", "-Dsbt.boot.lock=false",
             "-Dsbt.server.autostart=false", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    out_lines = proc.stdout.splitlines()
    with open(log, "a") as f:
        f.write(proc.stdout)
    classes = str(BENCH / "target")
    cps = [l.strip() for l in out_lines if classes in l and ":" in l and not l.startswith("[")]
    if proc.returncode != 0 or not cps:
        tail = "\n".join(out_lines[-30:])
        fail(f"build failed (exit {proc.returncode}); see {log}\n{tail}", 3)
    cp_file.write_text(cps[-1])
    stamp_file.write_text(digest)
    return cps[-1]


def java_cmd(cp, work, main, args):
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    if not java:
        fail("java not found")
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return [java, f"-Xms{HEAP_START}", f"-Xmn{HEAP_YOUNG}", f"-Xmx{HEAP_MAX}", "-XX:-UsePerfData", *opens,
            f"-Djava.io.tmpdir={work / 'tmp'}",
            f"-Dderby.system.home={work / 'derby'}",
            f"-Dderby.stream.error.file={work / 'derby.log'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, main, *args]


def cpu_sample():
    """(busy jiffies, steal jiffies, cpu count) from /proc/stat."""
    with open("/proc/stat") as f:
        lines = f.read().splitlines()
    v = [int(x) for x in lines[0].split()[1:]]
    idle = v[3] + (v[4] if len(v) > 4 else 0)
    steal = v[7] if len(v) > 7 else 0
    ncpu = sum(1 for l in lines if l.startswith("cpu") and l[3:4].isdigit())
    return sum(v[:8]) - idle - steal, steal, ncpu


def run_jvm(cmd, log_path, timeout):
    """Run the JVM in its own process group; kill the group on timeout.
    Returns (exit code, stdout text)."""
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err,
                                stdin=subprocess.DEVNULL, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            return None, ""
    return proc.returncode, out


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def selftest():
    cp = build()
    work = BUILD / "work" / f"selftest-{os.getpid()}"
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    try:
        code, out = run_jvm(java_cmd(cp, work, "perfbench.SelfTest", []), work.parent / "selftest.log", 120)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(out)
    if code != 0:
        fail(f"selftest failed; see {BUILD / 'work' / 'selftest.log'}", 1)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    # measurement aid, not part of a benchmark run: the live generator's
    # rate in mutations/s, for finding the rate the CDC stream sustains
    ap.add_argument("--live-rate", type=float)
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}; run from the root of a graft checkout")
    if not spec_path.exists():
        fail("BENCHMARK.json not found")
    if a.selftest:
        return selftest()
    spec = json.loads(spec_path.read_text())
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names or a.seed is None or not a.seconds or a.seconds < 1:
        fail(f"need --workload {{{','.join(names)}}} --seed N --seconds S [--trace 0|1]")

    cp = build()
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    logs = BUILD / "logs"
    logs.mkdir(parents=True, exist_ok=True)
    log_path = logs / f"{a.workload}-s{a.seed}-t{a.trace}.log"

    load_before = os.getloadavg()
    busy0, steal0, ncpu = cpu_sample()
    kids0 = os.times()
    t0 = time.time()
    try:
        code, out = run_jvm(java_cmd(cp, work, "perfbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            *(["--live-rate", str(a.live_rate)] if a.live_rate else [])]), log_path, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    wall = time.time() - t0
    busy1, steal1, _ = cpu_sample()
    kids1 = os.times()
    load_after = os.getloadavg()

    if code is None:
        fail(f"{a.workload} timed out; see {log_path}", 1)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if code != 0 or not lines:
        tail = "".join(open(log_path).readlines()[-40:])
        fail(f"{a.workload} failed (exit {code}); see {log_path}\n{tail}", 1)
    res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])

    hz = os.sysconf("SC_CLK_TCK")
    ours = (kids1.children_user + kids1.children_system) - (kids0.children_user + kids0.children_system)
    foreign_cores = max(0.0, ((busy1 - busy0) / hz - ours) / wall)
    steal_share = (steal1 - steal0) / hz / (wall * ncpu)
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "load_before": [round(x, 2) for x in load_before],
        "load_after": [round(x, 2) for x in load_after],
        "foreign_cpu_cores": round(foreign_cores, 3),
        "steal_share": round(steal_share, 4),
        "heap_max_mb": res["detail"].get("heap_max_mb"),
        "seed": a.seed,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
        "run_wall_s": round(wall, 2),
    }
    # another process on the cores: CPU time burnt by processes outside
    # this run, or time stolen by the host
    host["contended"] = foreign_cores > 0.5 or steal_share > 0.05
    if host["contended"]:
        print(f"perfbench: contended run: {json.dumps(host)}", file=sys.stderr)

    kind = "per_layer" if a.trace else "end_to_end"
    got = res["layer"] if a.trace else res["e2e"]
    metrics = {}
    missing = []
    for m in spec[kind]:
        v = got.get(m["name"])
        if v is None:
            missing.append(m["name"])
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing and not a.trace:
        fail(f"{a.workload} did not report {missing}", 1)
    if missing:
        print(f"perfbench: {a.workload} has no {len(missing)} per-layer metrics "
              f"(reported as 0): {' '.join(missing)}", file=sys.stderr)
    result = {"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
              "failed": int(res["failed"]), "metrics": metrics}
    record = {"host": host, "detail": res["detail"]}
    results = BUILD / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{a.workload}-s{a.seed}-t{a.trace}.json").write_text(
        json.dumps({**record, "result": result}, indent=1))
    print(json.dumps(record))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
