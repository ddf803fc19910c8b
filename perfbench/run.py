#!/usr/bin/env python3
"""graft benchmark: one closed-loop client on one JVM per run.

    python3 perfbench/run.py --workload etl_cycle|dashboard|curate \
        --seed N --seconds S --trace 0|1

Builds the library and the benchmark if their sources changed (see
build.py), runs graftbench.Main from the compiled classpath in a fresh
workspace under perfbench/.work, checks the outputs (for `curate`
against DuckDB here), and prints the environment and then, as the last
line, the result JSON. --trace 1 prints the per-layer metrics instead
of the end-to-end ones and writes the spans to perfbench/.out.
"""
import argparse
import csv
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("etl_cycle", "dashboard", "curate")
# local[K]: two cores disagreed less across JVMs than four, and the
# ops are latency-bound either way
K = 2
HEAP = "2g"
# a fixed young generation: every workload cycles it many times, so
# the resident peak follows the live (old generation) data, not how far
# the collector happened to grow eden
YOUNG = "256m"
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def check_curate(check_dir):
    """Each shard's survivors equal the DuckDB mirror of the library's
    pipeline_curate oracle SQL on that shard. Returns mismatches."""
    import duckdb
    sql = (check_dir / "oracle.sql").read_text()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    problems = []
    for line in (check_dir / "shards.txt").read_text().splitlines():
        i, path = line.split("\t")
        con.execute(f"CREATE OR REPLACE VIEW documents AS "
                    f"SELECT * FROM read_parquet('{path}/*.parquet')")
        want = sorted(",".join(str(v) for v in r) for r in con.execute(
            f"SELECT doc_id, source, n_chars, split FROM ({sql})").fetchall())
        with open(check_dir / f"survivors-{i}.csv", newline="") as f:
            got = sorted(",".join(r) for r in csv.reader(f))
        if got != want:
            problems.append(f"shard {i}: {len(got)} survivors, DuckDB mirror has {len(want)}, "
                            f"{len(set(got) ^ set(want))} differ")
    con.close()
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        ap.error("--seconds must be at least 1")

    classpath = build.build()
    bench = build.BENCH
    run_dir = bench / ".work" / f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    out_dir = bench / ".out"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    env = dict(os.environ)
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-Duser.timezone=UTC",
            f"-Djava.io.tmpdir={run_dir / 'tmp'}",
            f"-Dspark.local.dir={run_dir / 'tmp'}",
            f"-Dderby.system.home={run_dir}",
            # Derby stands in for the serving database; its commit
            # fsyncs would add disk latency that is not graft's
            "-Dderby.system.durability=test",
            f"-Dspark.hadoop.hadoop.tmp.dir={run_dir / 'tmp'}",
            "-XX:-UsePerfData",
            f"-Dlog4j2.configurationFile={bench / 'log4j2.properties'}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classpath, "graftbench.Main", a.workload, str(a.seed),
              str(a.seconds), str(a.trace), str(K), str(run_dir), str(out_dir)])
    t0 = time.time()
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE, text=True)

    def stop(reason):
        proc.kill()
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(reason)

    # a stopped benchmark stops its JVM too
    signal.signal(signal.SIGTERM, lambda *_: stop("benchmark stopped"))
    signal.signal(signal.SIGINT, lambda *_: stop("benchmark stopped"))
    try:
        stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        stop(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or len(lines) < 2 or not lines[-2].startswith("env "):
        sys.stderr.write(stdout)
        shutil.rmtree(run_dir, ignore_errors=True)
        sys.exit(f"benchmark JVM failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    info = json.loads(lines[-2][len("env "):])
    info["jvm_wall_s"] = time.time() - t0

    problems = []
    if a.workload == "curate":
        problems = check_curate(Path(info["workspace"]) / "check")
        for p in problems:
            print(f"check failed: {p}", file=sys.stderr)
    result["correct"] = bool(result["correct"]) and not problems
    shutil.rmtree(run_dir, ignore_errors=True)

    (out_dir / f"result-{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps({"env": info, "result": result}, indent=1) + "\n")
    print("env " + json.dumps(info))
    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
