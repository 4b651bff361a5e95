"""perfbench: time one arrow_udf_spark workload end to end in one driver.

    python3 perfbench/run.py --workload udf_core --seed 1 --seconds 20 --trace 0

One closed-loop client on ``local[nproc]`` over the read-only sf0.01 tables
in ``perfbench/data``.  A run:

1. pins the environment (``SPARK_GRAFT_CPUS``, ``SPARK_LOCAL_DIRS``,
   ``PYTHONPATH`` and the temp directories, all inside the checkout);
2. sets up once: session start (which launches the JVM), then
   ``GLOBAL.register_sql``, then a warm-up job that starts a Python worker
   in every task slot, and the session's first parquet scan, shuffle and
   ``toArrow()`` fetch;
3. runs the first pass: every query of the workload, in the workload's
   own order, built and then fetched to the driver with ``toArrow()`` so
   its output can be checked;
4. runs steady passes, where each query is built and then materialized
   with a ``noop`` write before the next one starts, in an order drawn
   from ``--seed``, until they have run for ``--seconds`` (at least two
   passes).  A traced run alternates traced and untraced passes in the
   same order, at least two pairs;
5. compares each first-pass output with the query's ``ORACLE`` SQL on
   DuckDB (see ``perfbench/oracle.py``).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``.  The line before it,
``perfbench-detail``, holds the pinned environment and versions, the pass
quartiles and sample count, per-query medians, any failures and the wall
seconds of each phase of the run; a traced run also writes its spans to
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import random
import shlex
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
import warnings

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import workloads  # noqa: E402
from perfbench.oracle import Oracle, mismatch, table_digest  # noqa: E402
from perfbench.tracing import (  # noqa: E402
    MIB,
    SparkRest,
    Tracer,
    descendants,
    pass_layers,
    peak_rss_bytes,
)

DATA = os.path.join(HERE, "data", "sf0.01")
WORK = os.path.join(HERE, ".work")
#: fewest steady passes in a run; a traced run makes this many
#: traced/untraced pass pairs, which keeps it within 180 s while the host
#: is loaded
STEADY_PASSES = 2


def pin_env() -> dict[str, str]:
    """Environment every run uses, set before the JVM starts."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    pinned = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": local,
        # executors' Python workers must import arrow_udf_spark from here
        "PYTHONPATH": os.pathsep.join(
            p for p in [ROOT, os.environ.get("PYTHONPATH", "")] if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
    }
    os.environ.update(pinned)
    tempfile.tempdir = None
    return pinned


def verify_inputs() -> str:
    """Check the parquet inputs against SHA256SUMS; return that file."""
    with open(os.path.join(DATA, "SHA256SUMS")) as fh:
        sums = fh.read()
    for line in sums.splitlines():
        want, fname = line.split()
        h = hashlib.sha256()
        with open(os.path.join(DATA, fname), "rb") as fh:
            for block in iter(lambda: fh.read(1 << 20), b""):
                h.update(block)
        if h.hexdigest() != want:
            raise SystemExit(f"perfbench: input {fname} does not match SHA256SUMS")
    return sums


def quartiles(xs: list[float]) -> list[float]:
    return statistics.quantiles(xs, n=4) if len(xs) > 1 else [xs[0]] * 3


class Bench:
    def __init__(self, args, classes: dict[str, str], oracle):
        self.args = args
        self.classes = classes
        self.oracle = oracle
        self.rng = random.Random(args.seed)
        self.spark = None
        self.tracer = None
        self.rest = None
        self.setup_s: dict[str, float] = {}
        self.passes: list[dict] = []
        self.input_rows: dict[str, int] = {}
        self._row_counts: dict[str, int] = {}
        self.env: dict[str, str] = {}
        #: wall seconds of each phase of the run
        self.wall: dict[str, float] = {}

    # -- tracing helpers (no-ops in an untraced run) ----------------------

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    @property
    def tracing(self) -> bool:
        return self.tracer is not None and self.tracer.active

    def start_tracing(self) -> None:
        from arrow_udf_spark.operators.aggregate import AggregateFunction
        from arrow_udf_spark.operators.scalar import ScalarFunction
        from arrow_udf_spark.operators.table import TableFunction
        from arrow_udf_spark.plans.registry import Registry
        from arrow_udf_spark.sources import flight

        self.tracer = Tracer(
            [
                (Registry, "sql", "Registry.sql"),
                (Registry, "register_sql", "Registry.register_sql"),
                (AggregateFunction, "agg", "AggregateFunction.agg"),
                (ScalarFunction, "apply", "ScalarFunction.apply"),
                (TableFunction, "apply", "TableFunction.apply"),
                (flight, "serve_registry", "flight.serve_registry"),
                (flight, "remote_scalar", "flight.remote_scalar"),
                (flight, "remote_table", "flight.remote_table"),
            ]
        )
        self.tracer.install()

    # -- set-up --------------------------------------------------------------

    def setup(self) -> None:
        from arrow_udf_spark import GLOBAL, get_spark
        from arrow_udf_spark.functions.corpus import gcd_i64

        with self.span("setup"):
            t0 = time.perf_counter()
            spark = get_spark(f"perfbench-{self.args.workload}")
            spark.sparkContext.setLogLevel("ERROR")
            t1 = time.perf_counter()
            GLOBAL.register_sql(spark)
            t2 = time.perf_counter()
            slots = spark.sparkContext.defaultParallelism
            spark.range(0, 64 * slots, 1, slots).select(gcd_i64("id", "id")).write.format(
                "noop"
            ).mode("overwrite").save()
            # the session's own first parquet scan, shuffle and Arrow fetch,
            # which every workload's first query would otherwise pay for
            spark.read.parquet(os.path.join(DATA, "part.parquet")).groupBy(
                "p_brand"
            ).count().toArrow()
            t3 = time.perf_counter()
        self.spark = spark
        self.env.setdefault(
            "java", spark.sparkContext._jvm.java.lang.System.getProperty("java.version")
        )
        self.setup_s = {
            "start_s": t1 - t0,
            "register_sql_s": t2 - t1,
            "warmup_s": t3 - t2,
            "total_s": t3 - t0,
        }

    # -- passes --------------------------------------------------------------

    def rows_of(self, path: str) -> int:
        if path not in self._row_counts:
            import pyarrow.parquet as pq

            self._row_counts[path] = pq.ParquetFile(path).metadata.num_rows
        return self._row_counts[path]

    def run_query(self, name: str, prefix: str, kind: str, traced: bool, phase_spans: dict) -> dict:
        from arrow_udf_spark.queries import QUERIES
        from pyspark.sql import DataFrameReader

        sc = self.spark.sparkContext
        rec: dict = {"query": name, "ok": True}
        reads: list[str] = []
        original_parquet = DataFrameReader.parquet
        if kind == "first":

            def recording_parquet(reader, *paths, **options):
                reads.extend(paths)
                return original_parquet(reader, *paths, **options)

            DataFrameReader.parquet = recording_parquet
        table = None
        try:
            with self.span(f"query:{name}"):
                if traced:
                    sc.setJobGroup(f"{prefix}{name}|construct", name)
                record = (
                    warnings.catch_warnings(record=True) if traced else contextlib.nullcontext()
                )
                with self.span("construct") as sid, record as caught:
                    if traced:
                        phase_spans[(name, "construct")] = sid
                        warnings.simplefilter("always")
                    t0 = time.perf_counter()
                    df = QUERIES[name](self.spark, DATA)
                    t1 = time.perf_counter()
                DataFrameReader.parquet = original_parquet
                if traced:
                    sc.setJobGroup(f"{prefix}{name}|materialize", name)
                with self.span("materialize") as sid:
                    if traced:
                        phase_spans[(name, "materialize")] = sid
                    if kind == "first":
                        table = df.toArrow()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
            rec.update(construct_s=t1 - t0, materialize_s=t2 - t1, secs=t2 - t0)
            rec["runtime_warnings"] = sum(
                1 for w in caught or [] if issubclass(w.category, RuntimeWarning)
            )
        except Exception as exc:  # noqa: BLE001 -- one failing query must not end the run
            rec.update(ok=False, error=f"{type(exc).__name__}: {str(exc).splitlines()[0][:300]}")
            sys.stderr.write(f"perfbench: {name} failed\n{traceback.format_exc()}\n")
        finally:
            DataFrameReader.parquet = original_parquet
        if kind == "first":
            self.input_rows[name] = sum(self.rows_of(p) for p in set(reads))
            if table is not None:
                rec["digest"] = table_digest(table)
        return rec

    def catalog_state(self) -> tuple[int, int]:
        sc = self.spark.sparkContext
        views = sum(1 for t in self.spark.catalog.listTables() if t.isTemporary)
        return sc._jsc.getPersistentRDDs().size(), views

    def draw_order(self) -> list[str]:
        order = list(self.classes)
        self.rng.shuffle(order)
        return order

    def run_pass(self, kind: str, order: list[str]) -> dict:
        idx = len(self.passes)
        traced = self.tracing
        prefix = f"pb{idx}|"
        phase_spans: dict = {}
        before = self.catalog_state() if traced else None
        with self.span(f"pass:{idx}"):
            t_start = self.tracer.now() if traced else 0.0
            queries = [self.run_query(n, prefix, kind, traced, phase_spans) for n in order]
            t_end = self.tracer.now() if traced else 0.0
        if traced:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        p = {
            "kind": kind,
            "order": order,
            "queries": queries,
            "secs": sum(q.get("secs", 0.0) for q in queries),
        }
        if traced:
            p["layers"] = self.pass_layers(prefix, phase_spans, queries, before, t_start, t_end)
        self.passes.append(p)
        return p

    def pass_layers(self, prefix, phase_spans, queries, before, t_start, t_end) -> dict:
        jobs, stages, sqls = self.rest.collect(prefix)
        m = pass_layers(
            prefix,
            jobs,
            stages,
            sqls,
            self.classes,
            workloads.LAYER_OF_CLASS,
            phase_spans,
            self.tracer,
        )
        after = self.catalog_state()
        ok = [q for q in queries if q["ok"]]
        m["construct_s"] = sum(q["construct_s"] for q in ok)
        m["materialize_s"] = sum(q["materialize_s"] for q in ok)
        m["driver_gap_s"] = m["construct_s"] - m["construct_job_s"]
        m["persisted_rdds"] = after[0] - before[0]
        m["registry.temp_views"] = after[1] - before[1]
        m["registry.fallback_warnings"] = sum(q.get("runtime_warnings", 0) for q in ok)
        m["registry.sql_s"], m["registry.sql_calls"] = self.tracer.total(
            "Registry.sql", t_start, t_end
        )
        m["flight.serve_registry_s"], _ = self.tracer.total(
            "flight.serve_registry", t_start, t_end
        )
        return m

    # -- the run -------------------------------------------------------------

    def run(self) -> dict:
        clock = time.perf_counter
        if self.args.trace:
            self.start_tracing()
        t0 = clock()
        self.setup()
        self.wall["setup"] = clock() - t0
        if self.args.trace:
            self.rest = SparkRest(self.spark.sparkContext)
        t0 = clock()
        # the first pass runs in the workload's own order, so that which
        # shape pays the cold costs the shapes share does not vary by seed
        self.run_pass("first", list(self.classes))
        self.wall["first_pass"] = clock() - t0
        t0 = clock()
        # a traced run makes pairs of a traced and an untraced pass in the
        # same order, traced first in even pairs and second in odd ones so
        # that warming up over the run does not bias the tracing overhead
        samples = 0
        while samples < STEADY_PASSES or clock() - t0 < self.args.seconds:
            order = self.draw_order()
            if not self.args.trace:
                self.run_pass("steady", order)
            elif samples % 2 == 0:
                self.run_pass("steady", order)
                self.tracer.restore()
                self.run_pass("untraced", order)
                self.tracer.install()
            else:
                self.tracer.restore()
                self.run_pass("untraced", order)
                self.tracer.install()
                self.run_pass("steady", order)
            samples += 1
        self.wall["steady"] = clock() - t0
        if self.args.trace:
            self.tracer.restore()
        return self.report()

    def report(self) -> dict:
        from arrow_udf_spark.queries import ORACLE

        first = self.passes[0]
        steady = [p for p in self.passes if p["kind"] == "steady"]
        failures = []
        attempted = 0
        for p in self.passes:
            for q in p["queries"]:
                attempted += 1
                if not q["ok"]:
                    failures.append({"pass": p["kind"], "query": q["query"], "why": q["error"]})
        expected = {}
        t0 = time.perf_counter()
        for q in first["queries"]:
            expected[q["query"]] = want = self.oracle.expected(q["query"], ORACLE[q["query"]])
            if q["ok"]:
                why = mismatch(q["digest"], want)
                if why is not None:
                    failures.append({"pass": "first", "query": q["query"], "why": why})
        self.wall["oracle"] = time.perf_counter() - t0
        failed = len(failures)

        per_query = {n: [] for n in self.classes}
        for p in steady:
            for q in p["queries"]:
                if q["ok"]:
                    per_query[q["query"]].append(q["secs"])
        medians = {n: statistics.median(v) for n, v in per_query.items() if v}
        pass_secs = [p["secs"] for p in steady]

        metrics = {
            "setup_s": self.setup_s["total_s"],
            "first_pass_s": first["secs"],
            "pass_s": statistics.median(pass_secs),
        }
        for metric, (cls, rows_kind) in workloads.THROUGHPUT.items():
            members = [n for n, c in self.classes.items() if c == cls]
            if not members:
                # no query of this class here: the workload's own throughput
                members, rows_kind = list(self.classes), "input"
            rows = sum(
                expected[n]["rows"] if rows_kind == "output" else self.input_rows.get(n, 0)
                for n in members
            )
            secs = sum(medians.get(n, 0.0) for n in members)
            metrics[metric] = rows / secs if secs else 0.0
        units = END_TO_END

        detail = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "env": self.env,
            "setup_s": self.setup_s,
            "pass_s_quartiles": quartiles(pass_secs),
            "pass_s_samples": len(pass_secs),
            "passes": [
                {"kind": p["kind"], "secs": p["secs"], "order": p["order"]} for p in self.passes
            ],
            "query_median_s": medians,
            "first_pass_query_s": {q["query"]: q.get("secs") for q in first["queries"]},
            "input_rows": self.input_rows,
            "fail_ratio": failed / attempted,
            "failures": failures,
            "wall_s": self.wall,
        }
        if self.args.trace:
            metrics, units = self.layer_metrics(failed / attempted), PER_LAYER
            detail["self_times_s"] = self.tracer.self_times()
            detail["tracing_overhead_s"] = metrics["trace.overhead_s"]
            detail["trace_file"] = self.write_trace(detail, metrics)
        self.detail = detail
        return {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def layer_metrics(self, fail_ratio: float) -> dict[str, float]:
        traced = [p for p in self.passes if p["kind"] == "steady"]
        untraced = [p for p in self.passes if p["kind"] == "untraced"]
        out = {
            "session.start_s": self.setup_s["start_s"],
            "session.warmup_s": self.setup_s["warmup_s"],
            "session.peak_rss_mb": peak_rss_bytes() / MIB,
            "registry.register_sql_s": self.setup_s["register_sql_s"],
            "fail_ratio": fail_ratio,
            # the i-th traced and i-th untraced pass form a pair
            "trace.overhead_s": statistics.median(
                t["secs"] - u["secs"] for t, u in zip(traced, untraced)
            ),
        }
        for key in PASS_LAYERS:
            out[key] = statistics.median(p["layers"][key] for p in traced)
        return out

    def write_trace(self, detail: dict, layers: dict) -> str:
        path = os.path.join(
            WORK, f"trace-{self.args.workload}-seed{self.args.seed}-{os.getpid()}.json"
        )
        with open(path, "w") as fh:
            json.dump(
                {
                    "detail": detail,
                    "per_layer": layers,
                    "spans": self.tracer.spans,
                },
                fh,
            )
        return os.path.relpath(path, ROOT)

    # -- shutdown ------------------------------------------------------------

    def shutdown(self) -> None:
        """Stop Spark, the JVM and every process started under this one,
        and wait for each to end."""
        started = descendants(os.getpid())
        if self.tracer is not None:
            self.tracer.restore()
        if self.oracle is not None:
            self.oracle.close()
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                # the gateway JVM exits when its stdin closes
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        for pid in started:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)


#: end-to-end metrics of an untraced run, and their units
END_TO_END = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    **{m: "rows/s" for m in workloads.THROUGHPUT},
}

#: per-layer metrics summed over a pass's queries (median over steady passes)
PASS_LAYERS = {
    "registry.sql_s": "s",
    "registry.sql_calls": "count",
    "registry.fallback_warnings": "count",
    "registry.temp_views": "count",
    "construct_s": "s",
    "construct_jobs": "count",
    "construct_job_s": "s",
    "driver_gap_s": "s",
    "persisted_rdds": "count",
    "materialize_s": "s",
    "materialize_jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_gc_s": "s",
    "shuffle_read_mb": "MiB",
    "shuffle_write_mb": "MiB",
    "spill_mb": "MiB",
    "exchanges": "count",
    "io.input_mb": "MiB",
    "io.input_rows": "count",
    "io.scan_tasks": "count",
    **{
        f"{layer}.{k}": u
        for layer in ("scalar", "table", "aggregate", "flight")
        for k, u in (("python_run_s", "s"), ("sent_mb", "MiB"), ("returned_mb", "MiB"))
    },
    "flight.serve_registry_s": "s",
}

#: every per-layer metric of a traced run, and its unit
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "session.peak_rss_mb": "MiB",
    "registry.register_sql_s": "s",
    **PASS_LAYERS,
    "fail_ratio": "ratio",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    env = pin_env()
    import duckdb
    import pyarrow
    import pyspark
    from arrow_udf_spark.queries import ORACLE, QUERIES

    problems = workloads.self_test(QUERIES, ORACLE)
    if problems:
        raise SystemExit("perfbench self-test failed:\n  " + "\n  ".join(problems))
    sums = verify_inputs()
    oracle = Oracle(DATA, sums, os.path.join(WORK, "oracle"), int(env["SPARK_GRAFT_CPUS"]))
    bench = Bench(args, workloads.WORKLOADS[args.workload], oracle)
    # the record names paths relative to the checkout root
    bench.env.update(
        {k: v.replace(ROOT + os.sep, "").replace(ROOT, ".") for k, v in env.items()},
        python=sys.version.split()[0],
        pyspark=pyspark.__version__,
        pyarrow=pyarrow.__version__,
        duckdb=duckdb.__version__,
    )
    bench.wall["start"] = time.perf_counter() - STARTED
    try:
        result = bench.run()
    finally:
        t0 = time.perf_counter()
        bench.shutdown()
        bench.wall["shutdown"] = time.perf_counter() - t0
    print("perfbench-detail " + json.dumps(bench.detail, default=str))
    print(json.dumps(result))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
