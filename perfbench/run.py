#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a source tree:

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --selftest

Builds the library and the benchmark from source (sbt, once per source
state; the classpath is cached under .bench_build/), then runs one
workload in a fresh JVM with local[nproc] and the root build's JVM flags.
Every index, landing and output directory lives under a per-run directory
in .bench_build/runs/, deleted at exit. Prints a `{"report": ...}` line,
then the result line `{"correct", "attempted", "failed", "metrics"}` last.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["olap_mix", "curate_batch", "retrieval_rw"]

# The same --add-opens list and module flag as the root build.sbt
# `javaOptions`; the self-test checks the two lists agree.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
JVM_FLAGS = [f for p in ADD_OPENS for f in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
    "--add-modules=jdk.incubator.vector",
    "-Dspark.ui.enabled=false",
    "-Dspark.sql.session.timeZone=UTC",
]
# A fixed, pre-touched heap: peak RSS then does not depend on when the
# collector chose to grow the heap, only on memory outside it.
HEAP = "2560m"
RUN_TIMEOUT_S = 170
PIN_TIMEOUT_S = 1800
BUILD_TIMEOUT_S = 850


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties", BENCH / ".jvmopts"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_hash():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes() + b"\0")
    return h.hexdigest()


def spark_jars():
    """The Spark installation's jar directory: $SPARK_HOME/jars, else next to
    the spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = Path(shutil.which("spark-submit")).resolve().parents[1]
    if not home or not (Path(home) / "jars").is_dir():
        raise SystemExit("perfbench: no Spark installation (set SPARK_HOME)")
    return Path(home) / "jars"


def build(stamp):
    """Compile with sbt unless the cached classpath matches `stamp`."""
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "source.sha256"
    if cp_file.exists() and stamp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    BUILD.mkdir(exist_ok=True)
    log("building library + benchmark with sbt")
    t0 = time.time()
    out = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        env=dict(os.environ, SPARK_JARS=str(spark_jars())),
        timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout)
        raise SystemExit(f"sbt build failed (exit {out.returncode})")
    cp = lines[-1].strip()
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def run_jvm(cp, workload, seed, seconds, trace, extra):
    run_dir = BUILD / "runs" / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={run_dir / 'tmp'}",
           f"-Dderby.system.home={run_dir}"] + JVM_FLAGS + [
        "-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", str(trace), "--root", str(run_dir),
        "--pins", str(BENCH / "pins"), "--commit", git_commit(),
        "--trace-out", str(BUILD / "traces" / f"{workload}-seed{seed}.json")] + extra
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "spark-local"))
    timeout = PIN_TIMEOUT_S if "--pin" in extra else RUN_TIMEOUT_S
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                            text=True, stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{workload} run timed out after {timeout} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out)
        raise SystemExit(f"{workload} run failed (exit {proc.returncode})")
    return json.loads(lines[-2]), json.loads(lines[-1])


def tracing_overhead(workload, report, result, trace):
    """Untraced runs leave their latency figures behind; a traced run of the
    same workload and seed reports its own against them."""
    last = BUILD / "last" / f"{workload}-seed{report['report']['seed']}.json"
    lat = report["report"]["latency_ms"]["all"]
    if not trace:
        last.parent.mkdir(exist_ok=True)
        last.write_text(json.dumps({"p50": lat.get("p50"), "ops_per_s": result["attempted"]
                                    / report["report"]["measured_s"]}))
        return
    if last.exists() and lat.get("p50"):
        base = json.loads(last.read_text())
        report["report"]["tracing_overhead"] = {
            "query_p50_ms_traced": lat["p50"], "query_p50_ms_untraced": base["p50"],
            "p50_ratio": lat["p50"] / base["p50"]}


def check_layout():
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (BENCH / "build.sbt").is_file():
        raise SystemExit("perfbench: no library sources next to perfbench/ "
                         "(run from the root of a full source tree)")


def bench_spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def validate(result, names, workload):
    errors = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"result keys {sorted(result)}")
    if not isinstance(result.get("attempted"), int) or result["attempted"] < 1:
        errors.append("attempted must be a whole number >= 1")
    if result.get("correct") is not True or result.get("failed") != 0:
        errors.append(f"correct={result.get('correct')} failed={result.get('failed')}")
    metrics = result.get("metrics", {})
    if set(metrics) != set(names):
        errors.append(f"metrics {sorted(set(metrics) ^ set(names))} missing or extra")
    for n, m in metrics.items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)):
            errors.append(f"metric {n} malformed: {m}")
    return [f"{workload}: {e}" for e in errors]


def jvm_flag_parity():
    """The root build's javaOptions must carry the same module flags."""
    text = (ROOT / "build.sbt").read_text()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", text, re.S)
    root_opens = re.findall(r'"([^"]+)"', opens.group(1)) if opens else []
    errors = []
    if root_opens != ADD_OPENS:
        errors.append(f"--add-opens differ from build.sbt: {root_opens}")
    if '"--add-modules=jdk.incubator.vector"' not in text:
        errors.append("build.sbt javaOptions lack --add-modules=jdk.incubator.vector")
    return errors


def selftest(cp):
    """A few ops of every workload, untraced and traced: the output schema,
    the metric names of BENCHMARK.json and every result check."""
    spec = bench_spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    errors = jvm_flag_parity()
    if [w["name"] for w in spec["workloads"]] != WORKLOADS:
        errors.append("BENCHMARK.json workloads differ from run.py's")
    for w in WORKLOADS:
        for trace, names in ((0, e2e), (1, layer)):
            report, result = run_jvm(cp, w, 1, 1, trace, ["--short"])
            errors += validate(result, names, f"{w} trace={trace}")
            if report["report"]["provenance"]["simd_active"] is not True:
                errors.append(f"{w}: SIMD inactive")
    for e in errors:
        log(f"SELFTEST FAIL {e}")
    print(json.dumps({"selftest": "fail" if errors else "ok", "errors": errors}))
    return 1 if errors else 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="run a few ops of each workload and validate output and checks")
    ap.add_argument("--pin", action="store_true",
                    help="record this run's results as the pinned expectations")
    args = ap.parse_args()
    check_layout()
    cp = build(source_hash())
    if args.selftest:
        return selftest(cp)
    if not args.workload:
        ap.error("--workload is required")
    extra = ["--pin"] if args.pin else []
    report, result = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace, extra)
    report["report"]["provenance"]["source_sha256"] = source_hash()
    tracing_overhead(args.workload, report, result, args.trace)
    print(json.dumps(report))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
