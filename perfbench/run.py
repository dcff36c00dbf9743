#!/usr/bin/env python3
"""Benchmark of the graft engine. Run from the root of a checkout:

    python3 perfbench/run.py --workload join_exec --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source on first use (sbt, offline),
writes the seeded inputs, computes each query's expected result fingerprint
with DuckDB, then runs the workload in one JVM (perfbench.Main) and prints
its result as the last line of standard output: one JSON object with
`correct`, `attempted`, `failed` and `metrics` (the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`). Everything it writes
goes under perfbench/work/; the run's full record is in
perfbench/work/runs/<workload>-<seed>-trace<t>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
sys.path.insert(0, HERE)
import gen  # noqa: E402
from fingerprint import fingerprint  # noqa: E402

WORKLOADS = ("join_exec", "ops_pipeline")
# ops_pipeline reads the two tables of the engine's sf 0.1 test data that
# its queries use, committed here unchanged; --seed orders the queries.
OPS_DATA = os.path.join(HERE, "data", "sf0.1")
# join_exec star schema, generated from --seed.
JOIN_FACT_ROWS = 300_000
JOIN_DIM_ROWS = 50_000
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build compiles, to tell a stale build."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_command(launch):
    """Spark's scratch files (shuffle, spill, block manager) go to the JVM's
    temp dir, kept inside the checkout."""
    cp, *opts = launch
    return ["java", HEAP, f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", *opts,
            "-cp", cp, "perfbench.Main"]


def build():
    """Compile engine and benchmark once per source state; return the
    launch lines (classpath, then JVM options) and the oracle SQL."""
    stamp = os.path.join(WORK, "build.txt")
    launch_file = os.path.join(HERE, "target", "launch.txt")
    oracles_file = os.path.join(WORK, "oracles.json")
    digest = source_digest()
    if not (os.path.exists(stamp) and open(stamp).read() == digest
            and os.path.exists(launch_file) and os.path.exists(oracles_file)):
        log("building engine and benchmark with sbt")
        env = dict(os.environ, COURSIER_MODE="offline")
        env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Dsbt.offline=true",
                                    "-Dsbt.override.build.repos=true", "-Xmx2g"]).strip()
        subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       check=True, timeout=BUILD_TIMEOUT_S)
        launch = open(launch_file).read().splitlines()
        subprocess.run(java_command(launch) + ["--oracles", oracles_file],
                       cwd=WORK, stdout=sys.stderr, stderr=sys.stderr, check=True,
                       timeout=RUN_TIMEOUT_S)
        with open(stamp, "w") as fh:
            fh.write(digest)
    return open(launch_file).read().splitlines(), json.load(open(oracles_file))


def generated(path, write):
    """Write inputs into `path` once, atomically."""
    if not os.path.exists(os.path.join(path, "DONE")):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def inputs(workload, seed):
    if workload == "ops_pipeline":
        return OPS_DATA
    data = os.path.join(WORK, "data")
    path = os.path.join(data, f"join-{seed}")
    if os.path.isdir(data):  # keep one seed's star schema at a time
        for old in os.listdir(data):
            if old.startswith("join-") and os.path.join(data, old) != path:
                shutil.rmtree(os.path.join(data, old), ignore_errors=True)
    return generated(path, lambda d: gen.write_join_tables(
        d, seed, JOIN_FACT_ROWS, JOIN_DIM_ROWS))


def expected(workload, data, oracles):
    """The DuckDB answer of each query, as fingerprints, cached per data
    dir and oracle SQL."""
    key = hashlib.sha256(json.dumps(oracles[workload], sort_keys=True).encode()).hexdigest()
    path = os.path.join(WORK, "expected", f"{os.path.basename(data)}-{workload}-{key[:16]}.tsv")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        con = duckdb.connect()
        for f in sorted(os.listdir(data)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"'{os.path.join(data, f)}'")
        lines = []
        for name, sql in oracles[workload].items():
            cur = con.execute(sql)
            rows, digest = fingerprint([d[0] for d in cur.description], cur.fetchall())
            lines.append(f"{name}\t{rows}\t{digest}\n")
        with open(path + ".tmp", "w") as fh:
            fh.writelines(lines)
        os.rename(path + ".tmp", path)
    return path


def input_stamp(workload, data, seed):
    tables = {f[:-8]: {"rows": pq.ParquetFile(os.path.join(data, f)).metadata.num_rows,
                       "bytes": os.path.getsize(os.path.join(data, f))}
              for f in sorted(os.listdir(data)) if f.endswith(".parquet")}
    scale = ({"fact_rows": JOIN_FACT_ROWS, "dim_rows": JOIN_DIM_ROWS, "data_seed": seed}
             if workload == "join_exec"
             else {"sf": 0.1, "source": "engine test data"})
    return {"scale": scale, "tables": tables}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=float)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        sys.exit("perfbench: engine sources (src/main/scala/graft) not found; "
                 "run from the root of a full checkout")
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "tmp"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"))
    launch, oracles = build()
    started = time.monotonic()
    data = inputs(a.workload, a.seed)
    exp = expected(a.workload, data, oracles)
    out = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-trace{a.trace}.json")
    log_path = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-trace{a.trace}.log")
    cmd = java_command(launch) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--data", data, "--expected", exp, "--out", out]
    with open(log_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=WORK, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            stdout, _ = proc.communicate(
                timeout=max(10, RUN_TIMEOUT_S - (time.monotonic() - started)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            sys.exit(f"perfbench: run timed out; see {log_path}")
    if proc.returncode != 0:
        sys.exit(f"perfbench: JVM exited with {proc.returncode}; see {log_path}")
    result = json.loads(stdout.strip().splitlines()[-1])
    artifact = json.load(open(out))
    artifact["inputs"] = input_stamp(a.workload, data, a.seed)
    with open(out, "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
