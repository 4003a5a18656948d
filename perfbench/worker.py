"""One benchmark run inside a Spark driver process; started by run.py.

Phases: set up the session several times (``setup_s`` is the median);
run the workload's untimed warm-up, if it has one; then run timed passes
in a closed loop from this single thread until ``--seconds`` have passed,
always finishing a started pass. A traced run traces the timed passes,
which give the per-layer numbers, and then runs one untraced and one
traced pass more, whose ratio is the tracing overhead.

Each op's latency and CPU time cover only the calls into the program;
output checks, trace bookkeeping and clean-up run outside them. Peak
memory is sampled only while the timed loop runs.
"""

from __future__ import annotations

import argparse
import csv
import glob
import json
import os
import random
import shutil
import statistics
import sys
import time
import traceback
import urllib.request
from datetime import date, timedelta

import numpy as np

import apiserver
from datagen import SCAN_WORKLOADS
from probes import Layers, PeakRss, ProcTree, SparkCounter, cpu_delta

SETUP_REPS = 5
# The processes' CPU that cpu_s_per_op counts: all but the JVM's JIT
# compiler threads, whose work tails off slowly over a run (in report-scan
# two fifths of the JVM's CPU in the first timed pass, a quarter in the
# third); the traced run reports it as proc.jit_cpu_s.
WORK_CPU = ("driver", "jvm", "pyworker")
WARM_PASSES = 3  # report-scan passes after the checked one, before timing
POLICIES = {"pol-aws": ("AWS baseline", "config", "high"),
            "pol-azure": ("Azure baseline", "config", "medium"),
            "pol-gcp": ("GCP baseline", "config", "low")}
LAYER_METRICS = (
    "tables.load_calls", "tables.load_s", "catalog.build_s",
    "catalog.build_jobs", "actions.materialize_s", "spark.jobs",
    "spark.stages", "spark.tasks", "spark.failed_tasks", "cache.persists",
    "cache.release_s", "sources.rest.requests", "sources.rest.pages",
    "sources.rest.retries_429", "sources.rest.bytes", "sources.rest.logins",
    "sinks.stage_s", "sinks.publish_s", "sinks.bytes_published",
    "sinks.files_published", "sinks.staging_leftover_files")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def tail(values: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples beyond it, as
    (value, percentile); the maximum (100) when there are fewer than 20."""
    n = len(values)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100) >= 10:
            return float(np.percentile(values, p)), p
    return max(values), 100.0


class Run:
    def __init__(self, a):
        self.a = a
        self.rng = random.Random(a.seed)
        self.failed = 0
        self.attempted = 0
        self.tree = ProcTree(os.getpid())
        self.layers = Layers()
        self.ops: list[dict] = []  # one record per successful timed or pair op

    # -- set-up ------------------------------------------------------------
    def setup(self) -> None:
        from tf_prisma_api_data_ingestion_spark.session import get_spark
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        log(f"jvm_start_s {time.perf_counter() - t0:.3f}")
        self.setup_s = []
        for _ in range(SETUP_REPS):
            self.spark.stop()
            t0 = time.perf_counter()
            self.spark = get_spark("perfbench")
            self.prepare()
            self.setup_s.append(time.perf_counter() - t0)
        log("setup_s", json.dumps([round(x, 4) for x in self.setup_s]))
        self.spark.sparkContext.setLogLevel("ERROR")

    def prepare(self) -> None:
        """Workload-specific set-up after ``get_spark``; none by default."""

    def warm(self) -> None:
        """Untimed ops before the timed loop; none by default."""

    # -- timed loop ----------------------------------------------------------
    def loop(self) -> None:
        """Timed passes until ``--seconds`` have passed, always finishing a
        started pass; traced in a traced run, which then adds one untraced
        and one traced pass whose ratio is the tracing overhead."""
        deadline = time.monotonic() + self.a.seconds
        t0 = time.monotonic()
        with PeakRss(self.tree) as rss:
            self.run_pass("timed", traced=bool(self.a.trace))
            while time.monotonic() < deadline:
                self.run_pass("timed", traced=bool(self.a.trace))
        self.loop_s = time.monotonic() - t0
        self.peak_rss_mb = rss.peak
        log("peak RSS MB by process kind:",
            json.dumps({k: round(v, 1) for k, v in rss.parts.items()}))
        if self.a.trace:
            self.run_pass("pair-plain", traced=False)
            self.run_pass("pair-traced", traced=True)

    def run_pass(self, kind: str, traced: bool) -> None:
        t0, n0 = time.perf_counter(), len(self.ops)
        for item in self.pass_items():
            self.attempted += 1
            try:
                rec = self.traced_op(item) if traced else self.op(item)
            except Exception:
                self.failed += 1
                log(f"op {item!r} failed:\n{traceback.format_exc()}")
                continue
            rec.update(item=item, kind=kind)
            self.ops.append(rec)
        rss = self.tree.rss_parts()
        cpu = " ".join(f"{k} {sum(r['cpu'][k] for r in self.ops[n0:]):.2f}"
                       for k in self.tree.cpu())
        log(f"{kind} pass {time.perf_counter() - t0:.2f} s; CPU s {cpu}; "
            f"RSS MB jvm {rss['jvm']:.0f} driver {rss['driver']:.0f}")

    def traced_op(self, item) -> dict:
        self.counter.take()
        self.layers.install()
        try:
            self.layers.reset()
            rec = self.op(item, trace=True)
            calls = self.layers.reset()
        finally:
            self.layers.restore()
        rec["layers"].update({
            "tables.load_calls": calls.get("tables.load_calls", 0),
            "tables.load_s": calls.get("tables.load_s", 0.0),
            "cache.persists": calls.get("cache.persist_calls", 0),
            "sinks.stage_s": calls.get("sinks.stage_s", 0.0),
            "sinks.publish_s": calls.get("sinks.publish_s", 0.0)})
        return rec

    # -- results -------------------------------------------------------------
    def result(self) -> dict:
        """End-to-end metrics, or per-layer ones in a traced run.

        Wall-clock latency and throughput are per-layer context, not
        end-to-end metrics: on a shared host they follow the CPU time other
        guests steal (run medians moved 20-50% between runs), while CPU
        seconds, memory and counts do not."""
        plain = [r for r in self.ops if r["kind"] == "timed"]
        lat = [r["latency_s"] for r in plain]
        t, pct = tail(lat) if lat else (0.0, 0.0)
        wall = {"latency_s.p50": statistics.median(lat) if lat else 0.0,
                "latency_s.tail": t,
                "latency_s.tail_pct": pct,
                "latency_s.tail_samples": len(lat),
                "throughput_ops_per_s": len(lat) / self.loop_s}
        log("wall-clock context:", json.dumps(wall))
        if self.a.trace:
            metrics = {**self.layer_metrics(plain), **wall}
        else:
            metrics = {
                "setup_s": statistics.median(self.setup_s),
                "cpu_s_per_op": (sum(r["cpu"][k] for r in plain for k in WORK_CPU)
                                 / len(lat) if lat else 0.0),
                "peak_rss_mb": self.peak_rss_mb,
            }
        per_item: dict[str, list[float]] = {}
        for r in plain:
            per_item.setdefault(str(r["item"]), []).append(r["latency_s"])
        log("median latency per key:", json.dumps(
            {k: round(statistics.median(v), 4) for k, v in sorted(per_item.items())}))
        return {"correct": self.failed == 0 and bool(lat),
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def layer_metrics(self, traced: list[dict]) -> dict:

        def mean(rows: list[dict], key: str) -> float:
            return sum(r["layers"].get(key, 0) for r in rows) / max(1, len(rows))

        out = {n: mean(traced, n) for n in LAYER_METRICS}
        for part in ("driver", "jvm", "jit", "pyworker"):
            out[f"proc.{part}_cpu_s"] = (
                sum(r["cpu"][part] for r in traced) / max(1, len(traced)))
        pair = {k: [r["latency_s"] for r in self.ops if r["kind"] == k]
                for k in ("pair-plain", "pair-traced")}
        out["trace.overhead_pct"] = (
            100 * (statistics.median(pair["pair-traced"])
                   / statistics.median(pair["pair-plain"]) - 1)
            if all(pair.values()) else 0.0)
        by_item: dict[str, list[dict]] = {}
        for r in traced:
            by_item.setdefault(str(r["item"]), []).append(r)
        table = {k: {n: round(mean(rows, n), 4) for n in
                     ("catalog.build_s", "catalog.build_jobs",
                      "actions.materialize_s", "spark.jobs", "spark.stages",
                      "spark.tasks", "tables.load_calls", "tables.load_s",
                      "cache.persists", "sources.rest.pages")}
                 for k, rows in sorted(by_item.items())}
        log("per-key trace:", json.dumps(table, indent=1))
        return out


class ScanRun(Run):
    """report-scan: catalog keys over the parquet tables run.py generated.

    The first warm-up pass collects each key's result and saves it under
    ``<work>/check`` with the key's oracle query; run.py runs the oracle in
    DuckDB and compares after this process has exited, so the oracle's
    memory and CPU stay out of the figures."""

    def __init__(self, a):
        super().__init__(a)
        self.cfg = SCAN_WORKLOADS[a.workload]
        from tf_prisma_api_data_ingestion_spark import actions, cache
        from tf_prisma_api_data_ingestion_spark.catalog import ORACLES, QUERIES
        self.actions, self.cache = actions, cache
        self.queries, self.oracles = QUERIES, ORACLES

    def pass_items(self) -> list[str]:
        keys = list(self.cfg["keys"])
        self.rng.shuffle(keys)
        return keys

    def warm(self) -> None:
        out = os.path.join(self.a.work, "check")
        os.makedirs(out)
        for key in self.pass_items():
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = self.queries[key](self.spark, self.a.data).toPandas()
                self.cache.release_all()
            except Exception:
                self.failed += 1
                log(f"warm-up {key} failed:\n{traceback.format_exc()}")
                continue
            log(f"warm-up {key} {time.perf_counter() - t0:.2f} s")
            got.to_pickle(os.path.join(out, f"{key}.pkl"))
            with open(os.path.join(out, f"{key}.sql"), "w") as f:
                f.write(self.oracles[key])
        # More untimed passes: the JIT keeps making a pass cheaper over the
        # first four (the JVM's CPU, compiler threads aside, fell 5.1, 4.6,
        # 4.4 s), so that every timed pass costs about the same CPU.
        for _ in range(WARM_PASSES):
            self.run_pass("warm", traced=False)

    def op(self, key: str, trace: bool = False) -> dict:
        fn = self.queries[key]
        c0, t0 = self.tree.cpu(), time.perf_counter()
        df = fn(self.spark, self.a.data)
        t1, c1 = time.perf_counter(), self.tree.cpu()
        build = self.counter.take() if trace else None
        c2, t2 = self.tree.cpu(), time.perf_counter()
        self.actions.materialize(df)
        t3 = time.perf_counter()
        self.cache.release_all()
        t4, c3 = time.perf_counter(), self.tree.cpu()
        rec = {"latency_s": (t1 - t0) + (t4 - t2),
               "cpu": cpu_delta(c0, c1, c2, c3), "layers": {}}
        if trace:
            run = self.counter.take()
            rec["layers"] = {
                "catalog.build_s": t1 - t0, "catalog.build_jobs": build["jobs"],
                "actions.materialize_s": t3 - t2, "cache.release_s": t4 - t3,
                **{f"spark.{k}": build[k] + run[k] for k in run}}
        return rec


class IngestRun(Run):
    """ingest-report: full_report_run against the seeded API server.

    There is no warm-up: the report is a batch job that runs once per day in
    a fresh session, so the first run after set-up, which pays the JIT and
    Python-worker start, is the latency its users see. Every op reads back
    and checks what it published."""

    def __init__(self, a):
        super().__init__(a)
        from tf_prisma_api_data_ingestion_spark.plans.e2e import full_report_run
        from tf_prisma_api_data_ingestion_spark.sources.rest import register_alerts_source
        self.full_report_run = full_report_run
        self.register = register_alerts_source
        self.n_ops = 0
        items = apiserver.alert_items(a.seed, apiserver.ALERTS)
        self.expected_alerts = self._expected_alerts(items)
        self.inventory = apiserver.inventory(a.seed)["groupedAggregates"]

    def prepare(self) -> None:
        self.register(self.spark)

    def pass_items(self) -> list[int]:
        self.n_ops += 1
        return [self.n_ops]

    def stats(self) -> dict:
        with urllib.request.urlopen(self.a.api + "/_bench/stats", timeout=10) as r:
            return json.loads(r.read())

    def op(self, i: int, trace: bool = False) -> dict:
        out = os.path.join(self.a.work, "out", f"op{i}")
        run_date = date(2030, 1, 1) + timedelta(days=i)
        before = self.stats() if trace else None
        c0, t0 = self.tree.cpu(), time.perf_counter()
        res = self.full_report_run(self.spark, self.a.api, apiserver.USER,
                                   apiserver.PASSWORD, out, run_date)
        t1, c1 = time.perf_counter(), self.tree.cpu()
        rec = {"latency_s": t1 - t0, "cpu": cpu_delta(c0, c1), "layers": {}}
        if trace:
            after = self.stats()
            rec["layers"] = {f"sources.rest.{k}": after[k] - before[k] for k in after}
            rec["layers"].update({f"spark.{k}": v for k, v in self.counter.take().items()})
        problems, files, nbytes, leftover = self._check_outputs(out, run_date, res)
        rec["layers"].update({"sinks.files_published": files,
                              "sinks.bytes_published": nbytes,
                              "sinks.staging_leftover_files": leftover})
        shutil.rmtree(out, ignore_errors=True)
        if problems:
            raise AssertionError(f"run {run_date}: {problems}")
        return rec

    @staticmethod
    def _expected_alerts(items: list[dict]) -> list[dict]:
        groups: dict[tuple, dict] = {}
        for it in items:
            r = it["resource"]
            g = groups.setdefault(("pol-" + r["cloudType"], r["account"]),
                                  {"n": 0, "id": None, "cloud": None, "grp": None})
            g["n"] += 1
            g["id"] = min(filter(None, (g["id"], r["accountId"])))
            g["cloud"] = min(filter(None, (g["cloud"], r["cloudType"])))
            first = r["cloudAccountGroups"][0] if r["cloudAccountGroups"] else None
            if first is not None:
                g["grp"] = min(filter(None, (g["grp"], first)))
        rows = []
        for (pol, account), g in groups.items():
            name, ptype, sev = POLICIES[pol]
            rows.append({"Policy Name": name, "Policy Type": ptype,
                         "Policy Severity": sev.upper(),
                         "Cloud Type": g["cloud"].upper(),
                         "Cloud Account Name": account,
                         "Cloud Account Id": g["id"],
                         "Cloud Account Group": g["grp"] or "",
                         "Status": "fail", "Failed Resource Count": str(g["n"])})
        return rows

    def _check_outputs(self, out: str, run_date: date, res: dict):
        day = run_date.isoformat()
        prefix = os.path.join(out, f"year={run_date.year}",
                              f"month={run_date.month}", f"day={run_date.day}")
        inv = [{**{k: str(v) for k, v in row.items()},
                "totalResources": str(row.get("totalResources", 0)),
                "transaction_date": day} for row in self.inventory]
        want = {
            "inventory_report": inv,
            "inventory_resource_type_report": [
                {**r, "resourceIdentity": "Resource Type"} for r in inv],
            "alert_report": [{**r, "transaction_date": day}
                             for r in self.expected_alerts],
        }
        problems, files, nbytes = [], 0, 0
        for name, rows in want.items():
            parts = glob.glob(os.path.join(prefix, name, "part-*.csv"))
            if len(parts) != 1:
                problems.append(f"{name}: {len(parts)} csv parts")
                continue
            with open(parts[0], newline="") as f:
                got = list(csv.DictReader(f))
            if sorted(map(_canon, got)) != sorted(map(_canon, rows)):
                problems.append(f"{name}: rows differ from the expected report")
        manifest = os.path.join(out, "_manifests", f"report-{day}.json")
        if not os.path.exists(manifest):
            problems.append("manifest missing")
        else:
            with open(manifest) as f:
                listed = sorted(json.load(f)["outputs"])
            if listed != sorted(os.path.relpath(os.path.join(prefix, n), out)
                                for n in want):
                problems.append(f"manifest lists {listed}")
        if res["rows"] != {"inventory": len(inv), "alerts": len(self.expected_alerts)}:
            problems.append(f"row counts {res['rows']}")
        for root, _, names in os.walk(out):
            if os.path.relpath(root, out).split(os.sep)[0] == "_staging":
                continue
            for n in names:
                files += 1
                nbytes += os.path.getsize(os.path.join(root, n))
        leftover = sum(len(n) for _, _, n in os.walk(os.path.join(out, "_staging")))
        if leftover:
            problems.append(f"{leftover} files left in _staging")
        return problems, files, nbytes, leftover


def _canon(row: dict) -> str:
    return json.dumps(sorted(row.items()))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--data", default="")
    ap.add_argument("--api", default="")
    a = ap.parse_args()
    t0 = time.monotonic()
    run = IngestRun(a) if a.workload == "ingest-report" else ScanRun(a)
    run.setup()
    log(f"phase setup done at {time.monotonic() - t0:.1f} s")
    run.warm()
    log(f"phase warm-up done at {time.monotonic() - t0:.1f} s")
    run.counter = SparkCounter(run.spark.sparkContext)
    run.loop()
    log(f"phase timed loop done at {time.monotonic() - t0:.1f} s")
    with open(a.result, "w") as f:
        json.dump(run.result(), f)
    # No spark.stop(): the JVM exits with this process, and run.py stops
    # and waits for the whole process group in any case.
    return 0


if __name__ == "__main__":
    sys.exit(main())
