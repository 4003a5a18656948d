"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload report-scan --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Workloads: ingest-report and report-scan (see perfbench/README.md);
``all`` runs each in turn and prints one result line per workload.
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. Everything else goes to standard error.

This process orchestrates and checks, and is not itself measured: it
generates the seeded inputs, starts the API server (ingest-report) and
the Spark driver process (worker.py) in its own session, enforces the
time limit, stops and waits for every process it started, and compares
the driver's report-scan outputs with their DuckDB oracles.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest-report", "report-scan")
TIME_LIMIT_S = 170
JVM_MEM = "2g"
# The heap is committed at its full size (-Xms = -Xmx) and the young
# generation is fixed (-Xmn), so G1 neither grows the heap nor resizes
# eden by its timing goals: the JVM's resident set then follows the
# memory the program keeps, not when the collector chose to expand (with
# adaptive sizing the committed heap of report-scan ran 0.85-1.04 GB
# between runs of the same code). The JIT compiler threads are started
# once and kept, so that probes.ProcTree can tell their CPU apart: a
# compiler thread that exits takes its name, not its CPU, off the books.
JVM_YOUNG = "512m"
REQUIRED = ("BENCHMARK.json", "scripts/selfcheck.py",
            "tf_prisma_api_data_ingestion_spark/session.py")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def group_alive(pgid: int) -> bool:
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            if int(raw[raw.rindex(")") + 2:].split()[2]) == pgid:
                return True
    return False


def stop_group(pgid: int, grace: float = 15.0) -> None:
    """SIGTERM the process group, SIGKILL what is left after ``grace``
    seconds, and wait until no member remains."""
    sig = signal.SIGTERM
    deadline = time.monotonic() + grace
    while group_alive(pgid):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        time.sleep(0.1)


def start_api(seed: int, env: dict) -> tuple[subprocess.Popen, str]:
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "apiserver.py"), "--seed", str(seed)],
        stdout=subprocess.PIPE, text=True, env=env)
    line = proc.stdout.readline().split()
    if len(line) != 2 or line[0] != "READY":
        proc.kill()
        proc.wait()
        raise RuntimeError("API server did not start")
    return proc, f"http://127.0.0.1:{line[1]}"


def check_scan(data: str, got_dir: str) -> int:
    """Compare each key's collected warm-up result with its oracle query run
    in DuckDB, using scripts/selfcheck.py's ``compare``; return the number
    that differ. A key with no saved result already counted as failed in
    the worker."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join("scripts", "selfcheck.py"))
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)
    bad = 0
    with duckdb.connect() as con:
        for f in sorted(os.listdir(data)):
            con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS "
                        f"SELECT * FROM '{os.path.join(data, f)}'")
        for f in sorted(os.listdir(got_dir)):
            key = f.removesuffix(".pkl")
            if key == f:
                continue
            with open(os.path.join(got_dir, f"{key}.sql")) as q:
                oracle = q.read()
            try:
                problems = selfcheck.compare(key, pd.read_pickle(os.path.join(got_dir, f)),
                                             con.execute(oracle).df())
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                bad += 1
                log(f"check {key} failed: {problems}")
    return bad


def steal_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def run_one(args, root: str) -> dict | None:
    """One run of one workload; the result object, or None if it failed."""
    t_start = time.monotonic()
    steal0 = steal_ticks()
    work = os.path.join(root, ".bench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join(filter(None, (root, env.get("PYTHONPATH")))),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_MEM": JVM_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData '
            f'-Xms{JVM_MEM} -Xmn{JVM_YOUNG} -XX:-UseDynamicNumberOfCompilerThreads" '
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"),
    })
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]
    api = worker = None
    try:
        if args.workload == "ingest-report":
            api, url = start_api(args.seed, env)
            cmd += ["--api", url]
        else:
            import datagen
            cfg = datagen.SCAN_WORKLOADS[args.workload]
            data = os.path.join(work, "data")
            datagen.generate(data, args.seed, cfg["scale"], cfg["documents"],
                             cfg["embeddings"])
            cmd += ["--data", data]
        log(f"inputs ready at {time.monotonic() - t_start:.1f} s")
        worker = subprocess.Popen(cmd, env=env, stdout=sys.stderr,
                                  start_new_session=True)
        try:
            code = worker.wait(timeout=TIME_LIMIT_S - (time.monotonic() - t_start))
        except subprocess.TimeoutExpired:
            log(f"perfbench: run exceeded {TIME_LIMIT_S} s")
            return None
        if code != 0:
            log(f"perfbench: worker exited with {code}")
            return None
        with open(result_path) as f:
            result = json.load(f)
        if args.workload != "ingest-report":
            bad = check_scan(data, os.path.join(work, "check"))
            result["failed"] += bad
            result["correct"] = result["correct"] and bad == 0
        steal = [b - a for a, b in zip(steal0, steal_ticks())]
        log(f"run done at {time.monotonic() - t_start:.1f} s; "
            f"host CPU stolen by other guests: {100 * steal[0] / max(1, steal[1]):.0f}%")
        return result
    finally:
        if worker is not None:
            stop_group(worker.pid)
            worker.wait()
        if api is not None:
            api.terminate()
            api.wait()
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Run every workload in its own process; print one line each and, as
    the last line, all results keyed by workload."""
    out = {}
    for w in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", w,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", str(args.trace)], stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            log(f"perfbench: workload {w} failed")
            return 1
        out[w] = json.loads(proc.stdout.splitlines()[-1])
        print(w, json.dumps(out[w]), flush=True)
    print(json.dumps(out), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark ingest-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    for need in REQUIRED:
        if not os.path.isfile(os.path.join(root, need)):
            log(f"perfbench: {need} not found; run from the repository root")
            return 2
    if args.workload == "all":
        return run_all(args)
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}

    result = run_one(args, root)
    if result is None:
        return 1
    metrics = result["metrics"]
    if args.trace:
        metrics["failed_ops_ratio"] = result["failed"] / result["attempted"]
    if set(metrics) != set(units):
        log(f"perfbench: metrics {sorted(set(metrics) ^ set(units))} do not "
            "match BENCHMARK.json")
        return 1
    result["metrics"] = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
