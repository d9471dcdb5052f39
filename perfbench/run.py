#!/usr/bin/env python3
"""Benchmark of the graft ETL and query engine.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Workloads: etl_bulk and query_mix (see
perfbench/README.md). The first run builds the harness and
the engine from source with sbt (offline) into perfbench/target; later runs
reuse the build while the sources are unchanged. Everything a run writes
goes under .bench_build/ in the repository root.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics of a traced run with --trace 1.
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

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["etl_bulk", "query_mix"]
RUN_LIMIT_S = 175  # a run without a build must end within 180 s
BUILD_LIMIT_S = 700

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text()) \
    if (ROOT / "BENCHMARK.json").is_file() else None
QUERIES = [m["name"][len("query."):-len(".s")] for m in (SPEC or {}).get("per_layer", [])
           if m["name"].startswith("query.") and m["name"].endswith(".s")]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def tree_stamp(paths):
    """Hash of the names and contents of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        files = [top] if top.is_file() else sorted(p for p in top.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compile harness + engine; returns the runtime classpath."""
    stamp = tree_stamp([ROOT / "src" / "main", HERE / "src" / "main",
                        HERE / "build.sbt", HERE / "project" / "build.properties"])
    cache = BUILD / "classpath.json"
    if cache.is_file():
        cached = json.loads(cache.read_text())
        if cached["stamp"] == stamp:
            return cached["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SPARK_HOME" not in env and shutil.which("spark-submit"):
        env["SPARK_HOME"] = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building harness and engine with sbt", file=sys.stderr)
    proc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], BUILD_LIMIT_S, cwd=HERE, env=env)
    if proc is None or proc[0] != 0:
        if proc:
            sys.stderr.write(proc[1][-4000:])
        fail("build failed")
    lines = [ln for ln in proc[1].splitlines() if "scala-2.13/classes" in ln and os.pathsep in ln]
    if not lines:
        fail("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cache.write_text(json.dumps({"stamp": stamp, "classpath": lines[-1].strip()}))
    return lines[-1].strip()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; (returncode, stdout) or None on timeout.
    The whole group is killed and reaped on timeout or interruption."""
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=max(1.0, limit_s))
        return proc.returncode, out
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def query_tables():
    """Directory of the fixed query_mix tables, generated on first use."""
    sys.path.insert(0, str(HERE))
    import gen_tables
    out = BUILD / "tables" / tree_stamp([HERE / "gen_tables.py", HERE / "table_stats.json",
                                         HERE / "table_stats.py"])[:16]
    if not out.is_dir():
        tmp = out.with_name(out.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(str(tmp))
        tmp.rename(out)
    return out


def check_queries(work, result):
    """Compare each query's first result with its expected digest. A
    wrong or missing result fails that query's verifying run and all of
    its timed runs."""
    sys.path.insert(0, str(HERE))
    import duckdb
    import qcheck
    expected = json.loads((HERE / "expected_query_mix.json").read_text())
    con = duckdb.connect()
    for name in QUERIES:
        runs, throws = result["query_ops"][name]
        got = qcheck.result_digest(con, str(work / "qout" / name))
        result["attempted"] += 1
        if got != {k: expected[name][k] for k in ("columns", "rows", "checksum")}:
            print(f"perfbench: {name}: result {got} != expected {expected[name]}",
                  file=sys.stderr)
            result["failed"] += 1 + runs - throws


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    args = ap.parse_args()

    if SPEC is None or not (ROOT / "src" / "main" / "scala" / "graft").is_dir() \
            or not (ROOT / "config" / "config.yaml").is_file():
        fail(f"engine sources or BENCHMARK.json not found under {ROOT}")
    load_start = os.getloadavg()[0]
    classpath = build()
    started = time.monotonic()
    data = query_tables() if args.workload == "query_mix" else BUILD
    work = BUILD / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    # a fixed heap keeps peak RSS from following the collector's resizing
    cmd = [str(java), "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += ["-cp", classpath, "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", args.trace,
            "--root", str(ROOT), "--work", str(work), "--data", str(data),
            "--cpus", str(len(os.sched_getaffinity(0)))]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep scratch in the run's directory
    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    proc = run_bounded(cmd, RUN_LIMIT_S - (time.monotonic() - started), cwd=ROOT, env=env)
    if proc is None:
        fail("harness timed out")
    if proc[0] != 0 or not proc[1].strip():
        fail(f"harness exited with {proc[0]}")
    result = json.loads(proc[1].strip().splitlines()[-1])

    if args.workload == "query_mix":
        check_queries(work, result)
    metrics = result["metrics"]
    if "failed_frac" in metrics:
        metrics["failed_frac"]["value"] = result["failed"] / result["attempted"]
    spec = {m["name"]: m["unit"] for m in SPEC["per_layer" if args.trace == "1" else "end_to_end"]}
    if {k: v["unit"] for k, v in metrics.items()} != spec:
        fail("printed metrics differ from BENCHMARK.json")
    if args.trace == "1":
        spans = BUILD / "spans" / f"{args.workload}-seed{args.seed}.jsonl"
        spans.parent.mkdir(exist_ok=True)
        shutil.copy(work / "spans.jsonl", spans)
        print(f"perfbench: spans written to {spans.relative_to(ROOT)}")
    shutil.rmtree(work, ignore_errors=True)
    print(f"perfbench: workload={args.workload} seed={args.seed} "
          f"load_1min_at_start={load_start:.2f} cpus={len(os.sched_getaffinity(0))}")
    print(json.dumps({"correct": result["failed"] == 0, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
