"""Layered lake benchmark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload lake_sql --seed 1 --seconds 12 --trace 0

Each run is one fresh application: the benchmark generates its inputs
from ``--seed`` (cached per seed under ``.perfbench/``), starts Spark
through the package's own ``get_spark`` with ``SPARK_GRAFT_CPUS`` set to
the usable core count, runs one workload with a single client thread,
checks every result against its DuckDB oracle or batch twin, and prints
one JSON object as its last stdout line. ``--trace 1`` records spans,
Spark's event log and the UDF profiler, adds ``lake_sql``'s write path
(crawler, ETL, catalog writes, streaming) and reports per-layer metrics
instead of the end-to-end ones. See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse
import contextlib
import json
import os
import platform
import random
import resource
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdk_serverless_data_lake_sandbox_spark"
WORK = os.path.join(ROOT, ".perfbench")

# Athena named-query analogue: catalog scans, joins, shuffles and the
# federated KV lookup; no keyed scratch, no Python UDF.
LAKE_SQL_OPS = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q18_large_volume",
    "q21_waiting_supplier",
    "join_two_tables",
    "preview_lineitem",
    "federated_kv_lookup",
]
# Training-data curation: keyed scratch built in the cold pass and
# served by every warm round (the MinHash signatures), the Arrow/Python
# boundary (ann_topk_arrow) and the LSH band self-join shuffle.
CURATION_OPS = [
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_quality",
    "ann_topk_arrow",
]
WORKLOADS = {"lake_sql": LAKE_SQL_OPS, "curation": CURATION_OPS}
# Seconds one warm round takes on a 4-core host; ``--seconds`` divided
# by it gives the number of measured rounds.
NOMINAL_ROUND_S = {"lake_sql": 5.5, "curation": 3.5}

DEFAULT_SF = 0.01
# Streaming phase: events cut by time into this many files, dropped one
# per interval. Measured capacity here is one micro-batch of up to four
# files per ~3.3 s (1.2 files/s), so one file per 1.5 s keeps the backlog bounded.
STREAM_FILES = 3
DEFAULT_DROP_INTERVAL_S = 1.5
LINEITEM_MAPPINGS = [
    ("l_orderkey", "int", "l_orderkey", "bigint"),
    ("l_partkey", "int", "l_partkey", "bigint"),
    ("l_suppkey", "int", "l_suppkey", "bigint"),
    ("l_linenumber", "int", "l_linenumber", "int"),
    ("l_quantity", "double", "l_quantity", "double"),
    ("l_extendedprice", "double", "l_extendedprice", "double"),
    ("l_discount", "double", "l_discount", "double"),
    ("l_tax", "double", "l_tax", "double"),
    ("l_returnflag", "string", "l_returnflag", "string"),
    ("l_linestatus", "string", "l_linestatus", "string"),
    ("l_shipdate", "date", "l_shipdate", "date"),
]


def tail(values: list[float]) -> tuple[float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile). With ten samples or fewer it is the maximum."""
    v = sorted(values)
    n = len(v)
    if n <= 10:
        return v[-1], 100
    return v[n - 11], (100 * (n - 10)) // n


def process_rss_peak_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


class Run:
    """One workload in one fresh application."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.rng = random.Random(args.seed)
        self.work = WORK
        self.t_start = T_START
        self.dir = os.path.join(WORK, f"run-{args.workload}-{os.getpid()}")
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.metrics: dict[str, float] = {}
        self.extra: dict[str, object] = {}

    # -------------------------------------------------------- plumbing
    def span(self, name: str, op: str | None = None, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name, op, **attrs)

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def prepare_env(self) -> None:
        for sub in ("scratch", "local", "tmp", "eventlog", "udf"):
            os.makedirs(os.path.join(self.dir, sub), exist_ok=True)
        tmp = os.path.join(self.dir, "tmp")
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(self.dir, "scratch")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.dir, "local")
        os.environ["TMPDIR"] = tmp
        # Keep every JVM's temp files (Spark's launcher included) in the
        # run directory; -UsePerfData stops each writing its monitoring
        # file under the system temp dir.
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_PYTHON"] = sys.executable

    def install_tracer(self) -> None:
        """Wrap each traced module's public functions before the operator
        modules import them by name."""
        from perfbench.trace import Tracer, install_scratch_probe

        from cdk_serverless_data_lake_sandbox_spark import catalog
        from cdk_serverless_data_lake_sandbox_spark.operators import _helpers
        from cdk_serverless_data_lake_sandbox_spark.sources import crawler

        t = self.tracer = Tracer()
        t.wrap(catalog, "load_tables", "catalog.load_tables")
        t.wrap(catalog.Lake, "register", "catalog.register")
        t.wrap(catalog.Lake, "write_version", "catalog.write_version")
        t.wrap(crawler, "crawl_delimited", "crawler.crawl")
        install_scratch_probe(t, _helpers)
        from cdk_serverless_data_lake_sandbox_spark.operators import etl

        t.wrap(etl, "tsv_to_parquet_job", "etl.job")

    # ----------------------------------------------------------- phases
    def start_session(self) -> None:
        t0 = time.perf_counter()
        from cdk_serverless_data_lake_sandbox_spark.session import get_spark

        conf = None
        if self.tracer is not None:
            conf = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.dir, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.sql.pyspark.udf.profiler": "perf",
            }
        with self.span("session.get_spark"):
            spark = get_spark(app_name=f"perfbench-{self.args.workload}", extra_conf=conf)
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        with self.span("session.first_job"):
            spark.range(0, 1000).selectExpr("sum(id)").collect()
        t2 = time.perf_counter()
        self.spark = spark
        self.metrics["setup_s"] = t2 - t0
        self.extra["session"] = {"get_spark_s": t1 - t0, "first_job_s": t2 - t1}

    def run_op(self, name: str, fn, sink: str, round_no: int):
        """One operation: frame build, then the sink. Returns the rows
        when ``sink`` is ``collect``."""
        self.attempted += 1
        with self.span("op", op=name, round=round_no):
            with self.span("operators.frame_build"):
                df = fn(self.spark, self.sf_dir)
            if self.tracer is not None:
                with self.span("planner.plan"):
                    df._jdf.queryExecution().executedPlan()
            with self.span("sink.execute"):
                if sink == "collect":
                    return df.toPandas()
                df.write.format("noop").mode("overwrite").save()
        return None

    def query_phases(self, names: list[str]) -> None:
        from cdk_serverless_data_lake_sandbox_spark.registry import all_oracles, all_queries

        queries, oracles = all_queries(), all_oracles()
        # Cold pass: the first execution of every member in the fresh
        # application. Its rows are collected for the correctness gate.
        results = {}
        t0 = time.perf_counter()
        for name in names:
            try:
                results[name] = self.run_op(name, queries[name], "collect", 0)
            except Exception:
                traceback.print_exc()
                self.fail(f"{name}: raised in the cold pass")
        self.metrics["cold_pass_s"] = time.perf_counter() - t0

        # Warm closed loop, one client: a fixed number of whole rounds in
        # seed-shuffled order, sized to the measured time. A fixed count
        # keeps every run at the same point of the JVM's warm-up; a
        # time-bounded loop measured one round on a slow host and two on
        # a fast one, and the second round runs faster.
        lat: list[float] = []
        per_op: dict[str, list[float]] = {n: [] for n in names}
        round_s: list[float] = []
        rounds = max(1, round(self.args.seconds / NOMINAL_ROUND_S[self.args.workload]))
        t0 = time.perf_counter()
        for round_no in range(1, rounds + 1):
            r0 = time.perf_counter()
            order = list(names)
            self.rng.shuffle(order)
            for name in order:
                a = time.perf_counter()
                try:
                    self.run_op(name, queries[name], "noop", round_no)
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{name}: raised in warm round {round_no}")
                    continue
                d = time.perf_counter() - a
                lat.append(d)
                per_op[name].append(d)
            round_s.append(time.perf_counter() - r0)
        wall = time.perf_counter() - t0
        self.warm_wall = wall
        self.warm_rounds = rounds
        if lat:
            self.metrics["op_p50_s"] = statistics.median(lat)
            self.metrics["op_tail_s"], pct = tail(lat)
            self.metrics["ops_per_s"] = len(lat) / wall
            self.extra["op_tail_percentile"] = pct
        self.extra["warm"] = {"rounds": rounds, "ops": len(lat), "wall_s": wall, "round_s": round_s}
        self.extra["op_median_s"] = {
            n: statistics.median(v) for n, v in per_op.items() if v
        }
        t0 = time.perf_counter()
        self.check_oracles(results, oracles)
        self.extra["gate_s"] = time.perf_counter() - t0

    def check_oracles(self, results: dict, oracles: dict) -> None:
        """Untimed gate: each collected result against its DuckDB oracle
        under the repository's order-insensitive, dtype-strict rule."""
        import duckdb

        from tests.compare import assert_frames_match

        con = duckdb.connect()
        try:
            for t in self.tables:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            for name, pdf in results.items():
                if pdf is None:
                    continue
                try:
                    assert_frames_match(pdf, con.execute(oracles[name]).fetchdf(), name)
                except AssertionError as e:
                    self.fail(f"{name}: wrong result: {str(e)[:300]}")
        finally:
            con.close()

    # ----------------------------------------------------------- ingest
    def ingest_phases(self) -> None:
        from perfbench import datagen
        from perfbench.trace import dir_bytes

        from cdk_serverless_data_lake_sandbox_spark.catalog import Lake
        from cdk_serverless_data_lake_sandbox_spark.operators import etl
        from cdk_serverless_data_lake_sandbox_spark.sources import crawler

        import pyarrow.parquet as pq

        spark = self.spark
        source = pq.read_table(os.path.join(self.sf_dir, "lineitem.parquet"))
        raw_dir = os.path.join(self.dir, "raw")
        os.makedirs(raw_dir, exist_ok=True)
        tsv = os.path.join(raw_dir, "lineitem.tsv")
        tsv_bytes = datagen.write_tsv(source, tsv, self.args.seed)
        lake_root = os.path.join(self.dir, "lake")
        lake = Lake(spark, lake_root)
        lake.add_zone("raw")
        processed = lake.add_zone("processed")
        self.lake = lake

        # Batch phase: crawler, Glue-style job, catalog registration and
        # a versioned snapshot of the landed table.
        before = dir_bytes(lake_root)[0]
        self.attempted += 1
        t0 = time.perf_counter()
        with self.span("ingest.batch", op="ingest"):
            raw = crawler.crawl_delimited(
                spark, tsv, classifier=crawler.CsvClassifier(delimiter="\t", quote_symbol='"')
            )
            lake.register("raw", "lineitem", tsv, raw)
            paths = etl.tsv_to_parquet_job(
                spark,
                tsv,
                os.path.join(processed, "etl"),
                "lineitem",
                LINEITEM_MAPPINGS,
                partition_keys=["l_returnflag"],
            )
            landed = spark.read.parquet(paths["unpartitioned"])
            lake.register("processed", "lineitem", paths["unpartitioned"], landed)
            lake.write_version("processed", "lineitem_versions", landed)
        etl_wall = time.perf_counter() - t0
        written = dir_bytes(lake_root)[0] - before
        self.metrics["etl_rows_per_s"] = source.num_rows / etl_wall
        self.metrics["write_amp"] = written / tsv_bytes
        self.extra["etl"] = {
            "rows": source.num_rows,
            "tsv_bytes": tsv_bytes,
            "wall_s": etl_wall,
            "lake_bytes_written": written,
            "partitioned": dir_bytes(paths["partitioned"]),
            "unpartitioned": dir_bytes(paths["unpartitioned"]),
        }
        self.check_landed(source, landed, spark.read.parquet(paths["partitioned"]))

    def check_landed(self, source, landed, partitioned) -> None:
        import numpy as np

        want = {
            "rows": source.num_rows,
            "l_orderkey": int(np.sum(source["l_orderkey"].to_numpy())),
            "l_quantity": int(np.sum(source["l_quantity"].to_numpy())),
            "cents": int(np.sum(np.round(source["l_extendedprice"].to_numpy() * 100))),
        }
        for label, df in (("unpartitioned", landed), ("partitioned", partitioned)):
            r = df.selectExpr(
                "count(*) AS rows",
                "sum(l_orderkey) AS l_orderkey",
                "CAST(sum(l_quantity) AS BIGINT) AS l_quantity",
                "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents",
            ).first()
            got = r.asDict()
            if got != want:
                self.fail(f"ingest {label}: landed {got} != source {want}")

    def stream_phase(self) -> None:
        """Open loop: a generator thread drops time-cut event files on a
        fixed schedule into the source directory of one continuous
        windowed-count query, whose foreachBatch writes a lake version."""
        from perfbench import datagen

        from cdk_serverless_data_lake_sandbox_spark.streaming.jobs import (
            EVENTS_STREAM_SCHEMA,
            read_event_stream,
            windowed_counts,
        )

        import pyarrow.parquet as pq

        spark, lake = self.spark, self.lake
        stage = os.path.join(self.dir, "stream_stage")
        drop = os.path.join(self.dir, "stream_drop")
        ckpt = os.path.join(self.dir, "stream_ckpt")
        os.makedirs(stage)
        os.makedirs(drop)
        events = pq.read_table(os.path.join(self.sf_dir, "events.parquet"))
        files = []
        for k, part in enumerate(datagen.split_events(events, STREAM_FILES)):
            name = f"events-{k:03d}.parquet"
            pq.write_table(part, os.path.join(stage, name))
            files.append(name)

        commits: dict[int, float] = {}

        def write_batch(batch, batch_id: int) -> None:
            with self.span("streaming.foreach_batch", op="stream"):
                lake.write_version("processed", "event_counts", batch)
            commits[batch_id] = time.perf_counter()

        self.attempted += 1
        interval = self.args.drop_interval
        query = (
            windowed_counts(read_event_stream(spark, drop))
            .writeStream.foreachBatch(write_batch)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .start()
        )
        scheduled: list[float] = []
        actual: list[float] = []

        def generate(t0: float) -> None:
            for k, name in enumerate(files):
                due = t0 + k * interval
                time.sleep(max(0.0, due - time.perf_counter()))
                os.replace(os.path.join(stage, name), os.path.join(drop, name))
                scheduled.append(due)
                actual.append(time.perf_counter())

        gen = threading.Thread(target=generate, args=(time.perf_counter() + interval,))
        with self.span("streaming.run", op="stream"):
            gen.start()
            gen.join()
            query.processAllAvailable()
            query.stop()
        progress = [p for p in query.recentProgress if p.numInputRows > 0]

        batch_of = _file_batches(os.path.join(ckpt, "sources", "0"))
        lags, backlog = [], 0
        for k, name in enumerate(files):
            b = batch_of.get(name)
            if b is None or b not in commits:
                self.fail(f"stream: {name} never committed")
                continue
            lags.append(commits[b] - scheduled[k])
            backlog = max(
                backlog,
                sum(
                    1
                    for j, other in enumerate(files[: k + 1])
                    if commits.get(batch_of.get(other), float("inf")) > actual[k]
                ),
            )
        if lags:
            self.metrics["stream_lag_p50_s"] = statistics.median(lags)
            self.metrics["stream_lag_tail_s"], pct = tail(lags)
            self.extra["stream_lag_tail_percentile"] = pct
        self.extra["stream"] = {
            "files": len(files),
            "drop_interval_s": interval,
            "batches": len(progress),
            "backlog_files_max": backlog,
            "generator_late_s": max(a - s for a, s in zip(actual, scheduled)),
        }
        self.stream_progress = progress
        final = lake.table("processed", "event_counts")
        batch = windowed_counts(spark.read.schema(EVENTS_STREAM_SCHEMA).parquet(drop))
        self.check_counts(final, batch)

    def check_counts(self, final, batch) -> None:
        def rows(df):
            return sorted(
                (str(r.window_start), r.event_type, r.n_events, round(r.total_value, 4))
                for r in df.collect()
            )

        if rows(final) != rows(batch):
            self.fail("stream: final lake version differs from the batch windowed counts")

    # ------------------------------------------------------------ main
    def execute(self) -> None:
        from perfbench import datagen

        self.prepare_env()
        self.tables = datagen.TABLES
        t0 = time.perf_counter()
        self.sf_dir = datagen.ensure_tier(os.path.join(WORK, "data"), self.args.sf, self.args.seed)
        self.extra["datagen_s"] = time.perf_counter() - t0
        if self.args.trace:
            self.install_tracer()
        self.start_session()
        jvm = self.spark.sparkContext._gateway.proc
        self.query_phases(WORKLOADS[self.args.workload])
        # The write path runs in traced runs only: each untraced run
        # has to fit the time budget of the repeated end-to-end runs,
        # and the write path's numbers are per-layer ones.
        if self.args.workload == "lake_sql" and self.tracer is not None:
            for phase in (self.ingest_phases, self.stream_phase):
                try:
                    phase()
                except Exception:
                    traceback.print_exc()
                    self.fail(f"{phase.__name__}: raised")
                    break
        self.metrics["peak_rss_mb"] = (
            process_rss_peak_mb(jvm.pid)
            + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        )
        self.metrics["error_ratio"] = len(self.failures) / max(1, self.attempted)
        if self.tracer is not None:
            self.spark.profile.dump(os.path.join(self.dir, "udf"), type="perf")
        t0 = time.perf_counter()
        self.stop_session(jvm)
        self.extra["teardown_s"] = time.perf_counter() - t0

    def stop_session(self, jvm) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        if jvm.stdin:
            jvm.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            jvm.wait(timeout=30)
        except subprocess.TimeoutExpired:
            jvm.kill()
            jvm.wait()

    def config(self) -> dict:
        import pyspark

        java = subprocess.run(["java", "-version"], capture_output=True, text=True).stderr
        with open("/proc/meminfo") as fh:
            mem_kb = int(fh.readline().split()[1])
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "host_mem_gb": round(mem_kb / 1024**2, 1),
            "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "16g"),
            "spark": pyspark.__version__,
            "java": java.splitlines()[0] if java else None,
            "python": platform.python_version(),
            "revision": _revision(),
            "seed": self.args.seed,
            "sf": self.args.sf,
            "seconds": self.args.seconds,
            "stream_drop_interval_s": self.args.drop_interval,
        }


def _file_batches(source_log: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the query's checkpoint."""
    out: dict[str, int] = {}
    for name in os.listdir(source_log):
        if name.startswith("."):
            continue
        with open(os.path.join(source_log, name)) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    base = os.path.basename(e["path"])
                    out[base] = min(out.get(base, e["batchId"]), e["batchId"])
    return out


def _remove_dead_runs() -> None:
    """Delete run directories left by killed runs (named by their pid)."""
    if not os.path.isdir(WORK):
        return
    for name in os.listdir(WORK):
        pid = name.rsplit("-", 1)[-1]
        if name.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(WORK, name), ignore_errors=True)


def _revision() -> str | None:
    """The git revision when run from a clone; a plain checkout has none."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        )
    except OSError:
        return None
    return r.stdout.strip() or None


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    p.add_argument(
        "--drop-interval",
        type=float,
        default=DEFAULT_DROP_INTERVAL_S,
        help="seconds between scheduled stream file drops",
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from perfbench.report import report, summarise_trace

    # A terminated run still stops its JVM and removes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _remove_dead_runs()
    run = Run(args)
    try:
        run.execute()
        if run.tracer is not None:
            summarise_trace(run)
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)
    return report(run)


if __name__ == "__main__":
    sys.exit(main())
