"""The benchmark run: inputs, set-up, the closed loop, checks, metrics.

Each workload is a closed loop with one client and one operation in
flight, started from a single process until ``--seconds`` have passed:

* ``ingest``: one verified ``Restorer.run()`` of a dump holding the same
  lineitem shape three times, as 10 CSV files, 10 SQL INSERT files and
  10 typed parquet files (one table per format), with the reference
  defaults checksum=required and checkpoints on.
* ``registry``: one pass over ``REGISTRY_ENTRIES`` of the query registry,
  each entry's call forced with a ``noop`` write, in an order drawn from
  the seed.

Inputs come from ``gen.py`` and are cached under ``.bench_work/inputs``
by seed; every file the run writes is under ``.bench_work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import threading
import time

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_work")
PACKAGE = "tidb_lightning_spark"

# orders per file of the warm-up dump (one file per table, all seeds)
WARMUP_ORDERS = 300
# (table, format, files, orders per file); an order has 4 rows on average
DUMP = [
    ("lineitem_csv", "csv", 10, 1500),
    ("lineitem_sql", "sql", 10, 1500),
    ("lineitem_parquet", "parquet", 10, 1500),
]
# lineitem rows of the registry's input tables (the other tables scale
# with it); the document and embedding corpora are fixed at 500 rows
REGISTRY_SCALE = 60000
# the registry entries ROADMAP names as hot, scale-critical or
# job-heavy; a full 130-entry pass does not fit the run budget
REGISTRY_ENTRIES = [
    "semdedup_prune",
    "near_dup_embeddings_lsh",
    "near_dup_simhash_pairs",
    "embedding_rp_recall",
    "setjoin_prefix_jaccard",
    "checksum_lineitem",
    "streaming_cdc_replay",
]
WORKLOADS = ("ingest", "registry")
SETUPS = 5
DRIVER_MEMORY = "2g"

END_TO_END = {
    "setup_s": "s",
    "op_s": "s",
    "input_mib_s": "MiB/s",
    "peak_rss_mib": "MiB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def sandbox(work: str) -> dict:
    """Point every temp and scratch location of Python, the JVM and the
    package at ``work``; returns the Spark conf that goes with it."""
    tmp = os.path.join(work, "tmp")
    for d in ("tmp", "spark-local", "warehouse", "wh", "eventlog"):
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
        os.makedirs(os.path.join(work, d))
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # spark-submit's launcher JVM
    return {
        "spark.driver.extraJavaOptions": java_opts,
        "spark.ui.showConsoleProgress": "false",
    }


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants
    (the JVM and its Python workers) every 100 ms while running."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._done = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                continue
        return total

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._done.wait(0.1)

    def stop(self) -> int:
        self._done.set()
        self.join(timeout=10)
        return self.peak


# ---------------------------------------------------------------------------
# Spark session
# ---------------------------------------------------------------------------


def start_session(conf: dict):
    from tidb_lightning_spark import _shipping
    from tidb_lightning_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    _shipping.ensure_shipped(spark)
    return spark


def set_up(conf: dict, spark):
    """One set-up: (re)start the session, ship the package to the Python
    workers and run one job.  The first set-up of a run also launches
    the JVM."""
    if spark is not None:
        spark.stop()
    spark = start_session(conf)
    spark.range(1000).write.format("noop").mode("overwrite").save()
    return spark


def shutdown_jvm() -> None:
    """Stop the Py4J gateway JVM (and with it the Python workers) and
    wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path) for f in fs
    )


def _error(e: Exception) -> str:
    return f"{type(e).__name__}: {e}"[:500]


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------


class Importer:
    """One verified ``Restorer.run()`` of the dump per call.

    Checks: every table imported (checksum=required passed), its row
    count equals the generated count, and its readback checksum triple
    equals the one pinned by the first import of this seed (pins are
    kept next to the input cache, so they hold across runs)."""

    def __init__(self, dump: dict, pins_path: str):
        self.dump = dump
        self.input_bytes = sum(t["bytes"] for t in dump["tables"].values())
        self.pins_path = pins_path
        self.pins: dict = {}
        if os.path.exists(pins_path):
            with open(pins_path) as f:
                self.pins = json.load(f)

    def run(self, spark, restorer_hook=None) -> dict:
        from tidb_lightning_spark.config import Config
        from tidb_lightning_spark.pipeline import Restorer

        target = tempfile.mkdtemp(prefix="import", dir=os.path.join(WORK, "wh"))
        try:
            cfg = Config.from_toml(None, source_dir=self.dump["dir"], target_dir=target)
            t0 = time.perf_counter()
            restorer = Restorer(spark, cfg)
            if restorer_hook is not None:
                restorer_hook(restorer)
            report = restorer.run()
            seconds = time.perf_counter() - t0
            problems = self._check(report)
            stored = sum(
                dir_bytes(os.path.join(target, self.dump["db"], t))
                for t in self.dump["tables"]
            )
        finally:
            shutil.rmtree(target, ignore_errors=True)
        return {
            "seconds": seconds,
            "problems": problems,
            "stored_ratio": stored / self.input_bytes,
        }

    def _check(self, report) -> list[str]:
        got = {t.table: t for t in report.tables}
        problems = []
        for name, meta in self.dump["tables"].items():
            t = got.get(name)
            if t is None or t.status != "imported":
                problems.append(f"{name}: not imported ({t and t.error})")
                continue
            if t.rows != meta["rows"]:
                problems.append(f"{name}: {t.rows} rows, generated {meta['rows']}")
            triple = t.checksum and [t.checksum[k] for k in ("kvs", "bytes", "value")]
            pin = self.pins.setdefault(name, triple)
            if triple is None or triple != pin:
                problems.append(f"{name}: checksum {triple} != pinned {pin}")
        if not problems:
            with open(self.pins_path, "w") as f:
                json.dump(self.pins, f)
        return problems


class Registry:
    """One pass over ``REGISTRY_ENTRIES`` per call.

    Each entry's registry call is timed, then its DataFrame is forced with
    a ``noop`` write that also observes the output's fingerprint (row count
    plus the ``functions.checksum`` triple).  ``warm()`` pins the
    fingerprints and, with ``oracle=True``, first checks every entry that
    has an oracle against DuckDB; every later pass must reproduce them."""

    def __init__(self, tables: dict, seed: int):
        from tidb_lightning_spark.plans import queries as Q

        reg = Q.registry()
        self.specs = {n: reg[n] for n in REGISTRY_ENTRIES}
        self.sf_dir = tables["dir"]
        self.input_bytes = tables["bytes"]
        self.rng = random.Random(seed)
        self.fingerprints: dict = {}

    @staticmethod
    def _observed(name: str, df):
        from pyspark.sql import Observation

        from tidb_lightning_spark.functions.checksum import checksum_aggs

        obs = Observation(f"perfbench_{name}")
        return df.observe(obs, *checksum_aggs(sorted(df.columns))), obs

    @staticmethod
    def _fingerprint(obs) -> list:
        got = obs.get
        return [got["kvs"], got["total_bytes"], got["checksum"]]

    def _force(self, name: str, df) -> list:
        observed, obs = self._observed(name, df)
        observed.write.format("noop").mode("overwrite").save()
        return self._fingerprint(obs)

    def warm(self, spark, oracle: bool) -> list[str]:
        """Run every entry once, untimed, and pin its fingerprint.  With
        ``oracle``, the output is also collected and compared with DuckDB
        (``tests/oracle_util.assert_matches``); the fingerprint is then
        observed on that same execution."""
        problems = []
        con = None
        if oracle:
            import duckdb

            from tests.oracle_util import assert_matches

            con = duckdb.connect()
            for t in sorted(os.listdir(self.sf_dir)):
                if t.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, t)
                    con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{path}'")
        try:
            for name, spec in self.specs.items():
                try:
                    df = spec.spark(spark, self.sf_dir)
                    if con is not None and spec.oracle is not None:
                        observed, obs = self._observed(name, df)
                        assert_matches(observed, con, spec.oracle, name=name)
                        self.fingerprints[name] = self._fingerprint(obs)
                    else:
                        self.fingerprints[name] = self._force(name, df)
                except Exception as e:  # noqa: BLE001 - reported as a failed check
                    problems.append(f"{name}: {_error(e)}")
        finally:
            if con is not None:
                con.close()
        return problems

    def run(self, spark, tracer=None) -> dict:
        order = list(self.specs)
        self.rng.shuffle(order)
        span = tracer.span if tracer else (lambda *a, **k: contextlib.nullcontext())
        seconds, problems = 0.0, []
        for name in order:
            try:
                t0 = time.perf_counter()
                with span(f"queries.{name}.construct"):
                    df = self.specs[name].spark(spark, self.sf_dir)
                with span(f"queries.{name}.exec"):
                    fp = self._force(name, df)
                seconds += time.perf_counter() - t0
                if fp != self.fingerprints.get(name):
                    problems.append(f"{name}: fingerprint {fp} != {self.fingerprints.get(name)}")
            except Exception as e:  # noqa: BLE001 - reported as a failed check
                problems.append(f"{name}: {_error(e)}")
        return {"seconds": seconds, "problems": problems}


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------


def inputs(seed: int, need_dump: bool) -> tuple[dict | None, dict | None, dict]:
    """The seed's dump, the warm-up dump (one small file per table, the
    same for every seed) and the registry tables."""
    cache = os.path.join(WORK, "inputs")
    dump = warm = None
    if need_dump:
        dump = gen.lineitem_dump(cache, seed, DUMP)
        warm = gen.lineitem_dump(cache, 0, [(t, f, 1, WARMUP_ORDERS) for t, f, _, _ in DUMP])
    return dump, warm, gen.registry_tables(cache, seed, REGISTRY_SCALE)


def make_importer(dump: dict) -> Importer:
    pins = os.path.join(WORK, "inputs", os.path.basename(dump["dir"]) + ".pins.json")
    return Importer(dump, pins)


def closed_loop(op, seconds: float, log) -> list[dict]:
    """Run ``op()`` back to back until ``seconds`` have passed (at least
    once); an exception counts as a failed operation."""
    results = []
    deadline = time.perf_counter() + seconds
    while not results or time.perf_counter() < deadline:
        try:
            r = op()
        except Exception as e:  # noqa: BLE001 - counted as a failed operation
            r = {"seconds": None, "problems": [_error(e)]}
        for p in r["problems"]:
            log(f"FAILED: {p}")
        results.append(r)
    return results


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="perfbench: verified import and registry pass")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package in {ROOT}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2

    def log(msg: str) -> None:
        print(f"# {msg}", flush=True)

    t0 = time.perf_counter()
    conf = sandbox(WORK)
    dump, warm_dump, tables = inputs(args.seed, args.workload == "ingest" or bool(args.trace))
    log(f"inputs ready in {time.perf_counter() - t0:.2f} s")

    spark = None
    try:
        setups = []
        for _ in range(SETUPS):
            t0 = time.perf_counter()
            spark = set_up(conf, spark)
            setups.append(time.perf_counter() - t0)
        log("set-ups (s): " + ", ".join(f"{s:.3f}" for s in setups))

        t0 = time.perf_counter()
        if args.workload == "ingest":
            importer = make_importer(dump)
            warm_problems = (
                make_importer(warm_dump).run(spark)["problems"] + importer.run(spark)["problems"]
            )
            op, input_bytes = (lambda: importer.run(spark)), importer.input_bytes
        else:
            registry = Registry(tables, args.seed)
            warm_problems = registry.warm(spark, oracle=True)
            op, input_bytes = (lambda: registry.run(spark)), registry.input_bytes
        for p in warm_problems:
            log(f"FAILED warm pass: {p}")
        log(f"warm pass {time.perf_counter() - t0:.2f} s")

        rss = PeakRss()
        rss.start()
        results = closed_loop(op, args.seconds, log)
        peak = rss.stop()

        failed = sum(1 for r in results if r["problems"])
        ok_s = [r["seconds"] for r in results if not r["problems"]]
        log(f"{args.workload} ops (s): " + ", ".join(f"{s:.3f}" for s in ok_s))
        log(f"failed_frac {failed}/{len(results)}")
        if not ok_s:
            raise RuntimeError("every timed operation failed")
        op_s = statistics.median(ok_s)
        values = {
            "setup_s": statistics.median(setups),
            "op_s": op_s,
            "input_mib_s": input_bytes / 2**20 / op_s,
            "peak_rss_mib": peak / 2**20,
        }
        units = dict(END_TO_END)
        if args.workload == "ingest":
            ratios = [r["stored_ratio"] for r in results if not r["problems"]]
            log(f"stored_bytes_ratio {statistics.median(ratios):.4f}")
        if args.trace:
            from perfbench import tracing

            spark.stop()
            spark = None
            values, units = tracing.traced(
                conf, WORK, args.workload, args.seed, (dump, warm_dump), tables, op_s, log
            )
    finally:
        if spark is not None:
            spark.stop()
        shutdown_jvm()

    print(json.dumps({
        "correct": failed == 0 and not warm_problems,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }), flush=True)
    return 0
