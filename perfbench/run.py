#!/usr/bin/env python3
"""crest_spark benchmark: three seeded workloads, one client each, closed loop.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Every input is generated from ``--seed``
by ``perfbench/gen.py``; the program under test (``crest_spark``, imported
from the checkout) receives only those inputs. All files go under
``.perfbench_work/`` in the checkout. Output checks run outside the
timed regions; a failed check marks the run incorrect.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` installs span
wrappers around the program's public entry points, turns on the Spark
event log and prints the per-layer metrics instead. The last stdout
line is the JSON summary ``{"correct", "attempted", "failed", "metrics"}``.
See ``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import shutil
import statistics
import sys
import time
import zlib

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import gen  # noqa: E402
from spans import Tracer, layer_totals  # noqa: E402

# The query mix: one or two registry entries per operator family, all
# taken from bench.BENCH_QUERIES (checked at start-up), chosen so that a
# warm pass fits the run length. family -> entries.
MIX_FAMILIES = {
    "relational": ["q05_join_groupby", "q13_topk"],
    "window": ["q11_rank_window"],
    "behavioral": ["q51_event_funnel"],
    "stats": ["stats_mann_whitney"],
    "text": ["text_token_stats"],
    "dedup": ["dedup_exact"],
    "ann": ["ann_brute_topk"],
}
MIX = [e for entries in MIX_FAMILIES.values() for e in entries]
MIX_SF = 0.01  # lineitem 60k rows, the scale of the project's oracle tests

# A wave is twice the compaction threshold, so it always holds exactly two
# compaction batches: the nearest-rank p90 of its ten batches is one of
# them and the median is a plain batch.
INGEST_COMPACT_AFTER = 5
INGEST_FILES_PER_WAVE = 2 * INGEST_COMPACT_AFTER
INGEST_ROWS_PER_FILE = 1000  # crest's default batching.maxRows
INGEST_WAVES = 8  # staged; the run drains as many as fit in --seconds
INGEST_WARM_FILES = 2  # wave 0 warms the stream path up, untimed

LAKE_ROWS = 20_000
# A cycle: sixteen lookups, one upsert, two lookups, then compact. Lookups
# alternate between the two pruned columns, whose costs differ, so the
# timed operation is a pair (one lookup on each): eight plain pairs put the
# median inside the plain group, and the pair read with a pending delta is
# the nearest-rank p90.
LAKE_CYCLE_OPS = 19
LAKE_UPSERT_AT = 16
LAKE_WARM_LOOKUPS = 4
LAKE_UPSERT_KEYS = 300
LAKE_FILES = 8

SETUP_REPS = 2
TRACED_PASSES = {"query_mix": 1, "ingest_append": 2, "lake_upsert_lookup": 1}

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
}
LAYER_UNITS = {
    "session.start_s": "s", "session.warmup_s": "s", "mem.peak_rss_mb": "MB",
    "sources.stage_s": "s", "sources.input_rows": "count",
    "streaming.batches": "count", "streaming.trigger_s": "s",
    "streaming.latest_offset_s": "s", "streaming.query_planning_s": "s",
    "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s", "streaming.idle_s": "s",
    "streaming.batch_growth": "ratio",
    "lakehouse.append.calls": "count", "lakehouse.append.s": "s",
    "lakehouse.append.self_s": "s", "lakehouse.compact.calls": "count",
    "lakehouse.compact.s": "s", "lakehouse.versions": "count",
    "lakehouse.log_fold_s": "s", "lakehouse.commit_conflicts": "count",
    "lakehouse.data_bytes": "bytes", "lakehouse.log_bytes": "bytes",
    "lakehouse.merge.calls": "count", "lakehouse.merge.s": "s",
    "lakehouse.merge.self_s": "s", "lakehouse.scan.s": "s",
    "lakehouse.scan.self_s": "s", "lakehouse.pruned_files.s": "s",
    "lakehouse.prune_ratio": "ratio", "lakehouse.pending_deletes_mean": "count",
    "lakehouse.pending_deletes_max": "count", "lakehouse.lookup_read_amp": "ratio",
    "lakehouse.files_live": "count", "lakehouse.export.s": "s",
    "lakehouse.export_bytes": "bytes",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_s": "s", "spark.driver_s": "s", "spark.task_run_s": "s",
    "spark.task_cpu_s": "s", "spark.gc_s": "s", "spark.util": "ratio",
    "spark.input_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "python.rows_to_worker": "count", "python.bytes_to_worker": "bytes",
    "python.bytes_from_worker": "bytes", "python.exec_s": "s",
    **{f"op.{e}.s": "s" for e in MIX},
    **{f"op.{f}.jobs": "count" for f in MIX_FAMILIES},
    "trace.pass_s": "s",
}


# ---------------------------------------------------------------- helpers
def pin_settings(work: str) -> dict:
    """Pin core count and driver memory to this machine through the env
    vars the session factory reads, and keep every temp file in ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
    # A fixed 2 GB heap: a 1 GB heap slowed the ingest drain by about
    # 40% (collector pressure), and a 3 GB heap let peak RSS swing with
    # how far the collector chose to grow it.
    mem_gb = 2
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    import tempfile

    tempfile.tempdir = tmp
    return {
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
    }


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def p90(xs: list[float]) -> float:
    """Nearest-rank 90th percentile: always one of the samples, never an
    interpolation between a fast and a slow mode."""
    return sorted(xs)[math.ceil(0.9 * len(xs)) - 1]


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _dirs, files in os.walk(root)
        for f in files
    )


def load_oracle_utils():
    """The oracle tests' Spark-vs-DuckDB normalisation, loaded by path."""
    path = os.path.join(ROOT, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("crest_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Run:
    """State of one benchmark run: session, tracer, counters."""

    def __init__(self, args, work: str, settings: dict):
        self.args = args
        self.work = work
        self.settings = settings
        self.traced = bool(args.trace)
        self.tracer = Tracer(self.traced)
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.layer: dict[str, float] = {}
        self.detail: dict = {}
        self.window = (0.0, 0.0)

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)
            print(f"# CHECK FAILED: {what}", file=sys.stderr)

    def start_session(self, python_workers: bool) -> None:
        """Start the session and run one warm-up job, as bench.py does.
        With ``python_workers`` the job also forks the Python worker pool
        on every core (only the query mix runs pandas/Arrow workers)."""
        from crest_spark.session import get_spark

        conf = {"spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse")}
        if self.traced:
            log_dir = os.path.join(self.work, "eventlog")
            os.makedirs(log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark("crest-perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        cpus = self.settings["SPARK_GRAFT_CPUS"]
        warm = self.spark.range(cpus * 4, numPartitions=cpus)
        if python_workers:
            warm = warm.mapInPandas(lambda it: it, "id long")
        warm.count()
        t2 = time.perf_counter()
        self.layer["session.start_s"] = t1 - t0
        self.layer["session.warmup_s"] = t2 - t1

    def _pids(self) -> list[int]:
        return [os.getpid(), self.spark.sparkContext._gateway.proc.pid]

    def open_window(self) -> float:
        """Start of the measured loop: reset the peak-RSS marks of the
        driver and the JVM, so the peak covers only the loop."""
        for pid in self._pids():
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        self.window = (time.time(), 0.0)
        return self.window[0]

    def close_window(self) -> None:
        self.window = (self.window[0], time.time())
        self.rss = [vm_hwm_mb(pid) for pid in self._pids()]

    def done(self, passes: int) -> bool:
        """End of the closed loop: the traced run stops after its fixed
        number of passes (so its counts repeat), the untraced one once
        ``--seconds`` have passed."""
        if self.traced:
            return passes >= TRACED_PASSES[self.args.workload]
        return time.time() - self.window[0] >= self.args.seconds

    def set_group(self, op: dict | None) -> None:
        if op is not None:
            self.spark.sparkContext.setJobGroup(f"op-{op['id']}", op["name"])

    def stop(self) -> None:
        """Stop the session, then end the py4j JVM and wait for it (the
        gateway exits when its stdin closes), so no process outlives the run."""
        proc = self.spark.sparkContext._gateway.proc
        self.spark.stop()
        proc.stdin.close()
        proc.wait(timeout=120)

    def setup(self, fn) -> float:
        """Run ``fn(rep)`` SETUP_REPS times; the median is the set-up time."""
        times = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            fn(rep)
            times.append(time.perf_counter() - t0)
        return statistics.median(times)


def install_wrappers(tracer: Tracer) -> None:
    from crest_spark.lakehouse import iceberg_export
    from crest_spark.lakehouse.table import LakehouseTable
    from crest_spark.streaming.ingest import IngestionService

    for m in ("append", "merge", "scan", "compact", "pruned_files"):
        tracer.wrap(LakehouseTable, m, f"lakehouse.{m}")
    tracer.wrap(iceberg_export, "export_iceberg_metadata", "lakehouse.export")
    tracer.wrap(IngestionService, "start", "streaming.start")
    tracer.wrap(IngestionService, "await_drained", "streaming.await_drained")


# -------------------------------------------------------------- query_mix
def query_mix(run: Run) -> dict:
    import bench
    from crest_spark.registry import load_all
    from crest_spark.sources.tables import load_tables

    missing = [e for e in MIX if e not in bench.BENCH_QUERIES]
    if missing:
        raise RuntimeError(f"mix entries not in bench.BENCH_QUERIES: {missing}")
    spark = run.spark
    specs = load_all()
    tables = gen.make_tables(run.args.seed, MIX_SF)
    sf_dirs = []

    def stage(rep):
        d = os.path.join(run.work, f"sf_{rep}")
        run.detail["input_bytes"] = gen.write_tables(tables, d)
        load_tables(spark, d)
        sf_dirs.append(d)

    setup_s = run.setup(stage)
    run.layer["sources.stage_s"] = setup_s
    sf_dir = sf_dirs[-1]
    order = gen.entry_order(run.args.seed, MIX)

    # warm-up pass, also the output check: every mix entry has a DuckDB
    # oracle; an entry without one would have to return the same
    # non-empty rows on a second collect
    import duckdb

    ou = load_oracle_utils()
    con = duckdb.connect()
    for name in gen.TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM '{sf_dir}/{name}.parquet'"
        )
    for name in order:
        spec = specs[name]
        try:
            if spec.oracle is not None:
                ok, msg = ou.compare(spec.fn(spark, sf_dir), con, spec.oracle)
            else:
                cols, rows = ou.spark_result(spec.fn(spark, sf_dir))
                again = ou.spark_result(spec.fn(spark, sf_dir))[1]
                ok = bool(rows) and ou.canon_rows(cols, rows) == ou.canon_rows(cols, again)
                msg = "empty or unstable result"
        except Exception as exc:  # noqa: BLE001 - a failing entry is a failed check
            ok, msg = False, repr(exc)
        run.check(ok, f"{name}: {msg}")
    con.close()

    per_entry: dict[str, list[float]] = {n: [] for n in order}
    passes = []
    run.open_window()
    while True:
        p0 = time.perf_counter()
        for name in order:
            spec = specs[name]
            with run.tracer.op("entry", entry=name) as op:
                run.set_group(op)
                t0 = time.perf_counter()
                try:
                    with run.tracer.span("op.build"):
                        df = spec.fn(spark, sf_dir)
                    with run.tracer.span("op.write"):
                        df.write.format("noop").mode("overwrite").save()
                    ok = True
                except Exception as exc:  # noqa: BLE001
                    ok = False
                    print(f"# {name} failed: {exc!r}", file=sys.stderr)
                per_entry[name].append(time.perf_counter() - t0)
            run.check(ok, f"{name} timed run")
        passes.append(time.perf_counter() - p0)
        if run.done(len(passes)):
            break
    run.close_window()

    # an entry's latency is its median over the passes, so the op
    # percentiles do not depend on how many passes fit in the run
    medians = {n: statistics.median(ts) for n, ts in per_entry.items()}
    times = list(medians.values())
    run.detail.update({
        "passes": len(passes),
        "query_mix_s": {"value": statistics.median(passes), "unit": "s", "n": len(passes)},
        "query_geomean_s": {"value": geomean(times), "unit": "s", "n": len(times)},
        "entry_median_s": medians,
    })
    if run.traced:
        for name, ts in per_entry.items():
            run.layer[f"op.{name}.s"] = statistics.median(ts)
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(passes),
        "op_p50_s": statistics.median(times),
        "op_p90_s": p90(times),
        "samples": len(times),
    }


# ---------------------------------------------------------- ingest_append
_EV_CHECK_SQL = (
    "count(*) AS n, count(DISTINCT event_id) AS ids,"
    " sum(crc32(concat_ws('|', event_id, unix_micros(ts), user_id, event_type,"
    " CAST(round(value * 100) AS BIGINT), props))) AS h"
)


def event_checksum(table) -> tuple[int, int, int]:
    """(rows, distinct ids, order-insensitive checksum) of an Arrow table,
    computed the same way as ``_EV_CHECK_SQL``."""
    import pyarrow as pa

    ids = table.column("event_id").to_pylist()
    rows = zip(
        ids,
        table.column("ts").cast(pa.int64()).to_pylist(),
        table.column("user_id").to_pylist(),
        table.column("event_type").to_pylist(),
        (round(v * 100) for v in table.column("value").to_pylist()),
        table.column("props").to_pylist(),
    )
    h = sum(zlib.crc32("|".join(map(str, r)).encode()) for r in rows)
    return table.num_rows, len(set(ids)), h


def ingest_append(run: Run) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crest_spark.lakehouse import iceberg_export
    from crest_spark.lakehouse.catalog import LakehouseCatalog
    from crest_spark.streaming.ingest import IngestConfig, IngestionService, SourceSpec

    spark = run.spark
    staged = []

    def stage(rep):
        staged.append(gen.stage_slices(
            run.args.seed, INGEST_WAVES, INGEST_FILES_PER_WAVE,
            INGEST_ROWS_PER_FILE, os.path.join(run.work, f"stage_{rep}"),
            warm_files=INGEST_WARM_FILES,
        ))

    setup_s = run.setup(stage)
    run.layer["sources.stage_s"] = setup_s
    waves = staged[-1]["waves"]
    inbox = os.path.join(run.work, "inbox")
    os.makedirs(inbox)
    cfg = IngestConfig(
        warehouse=os.path.join(run.work, "warehouse"),
        checkpoint_root=os.path.join(run.work, "checkpoints"),
        namespace="bench",
        max_rows_per_batch=INGEST_ROWS_PER_FILE,
        sources=[SourceSpec(
            name="events", path=inbox, files_per_trigger=1,
            cluster_by=["event_id"], bloom_for=["user_id"],
        )],
        compact_after_files=INGEST_COMPACT_AFTER,
        compact_target_files=2,
    )
    table = LakehouseCatalog(cfg.warehouse, "bench").table("events")

    def drain(w: int) -> dict:
        rows = sum(pq.ParquetFile(p).metadata.num_rows for p in waves[w])
        for p in waves[w]:
            os.rename(p, os.path.join(inbox, f"w{w:02d}_{os.path.basename(p)}"))
        with run.tracer.op("wave", wave=w) as op:
            run.set_group(op)
            t0 = time.perf_counter()
            svc = IngestionService(spark, cfg)
            svc.start()
            try:
                svc.await_drained()
                progress = [p for q in svc.queries for p in q.recentProgress]
            finally:
                svc.stop()
            t1 = time.perf_counter()
            iceberg_export.export_iceberg_metadata(table)
            t2 = time.perf_counter()
        batches = [p for p in progress if p.numInputRows > 0]
        return {"drain_s": t1 - t0, "export_s": t2 - t1, "pass_s": t2 - t0,
                "batches": batches, "rows": rows,
                "input_rows": sum(p.numInputRows for p in batches)}

    warm = drain(0)  # warm-up wave: the first stream in a JVM runs cold
    results = []
    run.open_window()
    for w in range(1, len(waves)):
        results.append(drain(w))
        if run.done(len(results)):
            break
    run.close_window()

    # output checks: lakehouse read and Iceberg read-back against the
    # drained slices (row count, distinct ids, checksum)
    src = pa.concat_tables(
        pq.read_table(os.path.join(inbox, f))
        for f in sorted(os.listdir(inbox)) if f.endswith(".parquet")
    )
    want = event_checksum(src)
    read_rows = warm["input_rows"] + sum(r["input_rows"] for r in results)
    for label, df in (
        ("lakehouse read", table.read(spark)),
        ("iceberg read-back", iceberg_export.read_iceberg(spark, table.path)),
    ):
        df.createOrReplaceTempView("ev_check")
        got = tuple(spark.sql(f"SELECT {_EV_CHECK_SQL} FROM ev_check").first())
        run.check(tuple(int(x) for x in got) == want, f"{label}: {got} != {want}")

    batch_s = [p.durationMs["triggerExecution"] / 1e3 for r in results for p in r["batches"]]
    rows = sum(r["rows"] for r in results)
    drain_s = sum(r["drain_s"] for r in results)
    src_bytes = dir_bytes(inbox)
    data_b = dir_bytes(table.data_path)
    log_b = dir_bytes(table.log_path)
    run.detail.update({
        "waves": len(results),
        "batch_s": batch_s,
        "ingest_rows_per_s": {"value": rows / drain_s, "unit": "1/s", "n": len(results)},
        "ingest_batch_p50_s": {"value": statistics.median(batch_s), "unit": "s", "n": len(batch_s)},
        "ingest_batch_p90_s": {"value": p90(batch_s), "unit": "s", "n": len(batch_s)},
        "iceberg_export_s": {"value": statistics.median(r["export_s"] for r in results), "unit": "s", "n": len(results)},
        "ingest_storage_amp": {"value": (data_b + log_b) / src_bytes, "unit": "ratio"},
    })
    if run.traced:
        progress = [p for r in results for p in r["batches"]]
        dur = lambda k: sum(p.durationMs.get(k, 0) for p in progress) / 1e3  # noqa: E731
        trig = [p.durationMs["triggerExecution"] for p in progress]
        half = len(trig) // 2
        run.layer.update({
            "sources.input_rows": read_rows,
            "streaming.batches": len(progress),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.latest_offset_s": dur("latestOffset"),
            "streaming.query_planning_s": dur("queryPlanning"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.wal_commit_s": dur("walCommit"),
            "streaming.commit_offsets_s": dur("commitOffsets"),
            "streaming.idle_s": drain_s - dur("triggerExecution"),
            "streaming.batch_growth": statistics.median(trig[half:]) / statistics.median(trig[:half]),
            "lakehouse.data_bytes": data_b,
            "lakehouse.log_bytes": log_b,
            "lakehouse.export_bytes": dir_bytes(os.path.join(table.path, "metadata")),
        })
    run.table = table
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(r["pass_s"] for r in results),
        "op_p50_s": statistics.median(batch_s),
        "op_p90_s": p90(batch_s),
        "samples": len(batch_s),
    }


# ----------------------------------------------------- lake_upsert_lookup
def lake_upsert_lookup(run: Run) -> dict:
    import pyarrow.parquet as pq

    from crest_spark.lakehouse.catalog import LakehouseCatalog

    spark = run.spark
    base = gen.orders_with_seq(run.args.seed, LAKE_ROWS)
    src = os.path.join(run.work, "orders.parquet")
    gen.write_table(base, src)
    tables = []

    def create(rep):
        df = spark.read.parquet(src)
        t = LakehouseCatalog(os.path.join(run.work, f"lake_{rep}")).get_or_create_table(
            "orders", df.schema)
        t.append(df, cluster_by=["o_orderkey"], cluster_partitions=LAKE_FILES,
                 bloom_for=["o_custkey"])
        tables.append(t)

    setup_s = run.setup(create)
    t = tables[-1]
    schema = spark.read.parquet(src).schema
    cols = schema.fieldNames()
    model = {r["o_orderkey"]: tuple(r[c] for c in cols) for r in base.to_pylist()}
    by_cust: dict[int, set] = {}
    for k, row in model.items():
        by_cust.setdefault(row[1], set()).add(k)
    ops = gen.lake_ops(run.args.seed, LAKE_ROWS, 100 * LAKE_CYCLE_OPS, LAKE_CYCLE_OPS,
                       LAKE_UPSERT_AT, LAKE_UPSERT_KEYS)

    lookup_s, pair_s, upsert_s, compact_s, cycles = [], [], [], [], []
    probes = []  # traced: [pending deletes, live files, opened files, rows read, rows returned]
    since_compact = 0  # upserts since the last compaction
    lookup_log = []

    def lookup(o: dict, timed: bool) -> None:
        pred = {o["col"]: (o["value"], o["value"])}
        if run.traced and timed:
            with run.tracer.paused():
                files = t.pruned_files(pred)
                probes.append([
                    len(t.pending_deletes()), t.file_count(), len(files),
                    sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                ])
        with run.tracer.op("lookup", col=o["col"]) as op:
            run.set_group(op)
            t0 = time.perf_counter()
            rows = t.scan(spark, pred).collect()
            dt_s = time.perf_counter() - t0
        if timed:
            lookup_s.append(dt_s)
            lookup_log.append((o["col"], since_compact, dt_s))
            if len(lookup_s) % 2 == 0:
                pair_s.append(lookup_s[-2] + lookup_s[-1])
            if run.traced:
                probes[-1].append(len(rows))
        keys = {o["value"]} if o["col"] == "o_orderkey" else by_cust.get(o["value"], set())
        want = sorted(model[k] for k in keys if k in model)
        got = sorted(tuple(r[c] for c in cols) for r in rows)
        run.check(got == want, f"lookup {o['col']}={o['value']}")

    # warm-up lookups from the far end of the stream, which the loop never reaches
    with run.tracer.paused():
        for o in [o for o in ops[-LAKE_CYCLE_OPS:] if o["op"] == "lookup"][:LAKE_WARM_LOOKUPS]:
            lookup(o, timed=False)

    run.open_window()
    n_ops = 0
    for c in range(len(ops) // LAKE_CYCLE_OPS - 1):
        c0 = time.perf_counter()
        for o in ops[c * LAKE_CYCLE_OPS:(c + 1) * LAKE_CYCLE_OPS]:
            n_ops += 1
            if o["op"] == "lookup":
                lookup(o, timed=True)
                continue
            upd_rows = [
                (k, model[k][1], p, s, o["seq"])
                for k, p, s in zip(o["keys"], o["price"], o["status"])
            ]
            upd = spark.createDataFrame(upd_rows, schema)
            with run.tracer.op("upsert") as op:
                run.set_group(op)
                t0 = time.perf_counter()
                t.merge(spark, upd, key="o_orderkey", sequence_col="seq", strategy="mor")
                upsert_s.append(time.perf_counter() - t0)
            for r in upd_rows:
                model[r[0]] = r
            since_compact += 1
        with run.tracer.op("compact") as op:
            run.set_group(op)
            t0 = time.perf_counter()
            t.compact(spark, LAKE_FILES, cluster_by=["o_orderkey"],
                      cluster_partitions=LAKE_FILES, bloom_for=["o_custkey"])
            compact_s.append(time.perf_counter() - t0)
        since_compact = 0
        cycles.append(time.perf_counter() - c0)
        if run.done(len(cycles)):
            break
    run.close_window()
    loop_s = run.window[1] - run.window[0]

    final = sorted(tuple(r[c] for c in cols) for r in t.read(spark).collect())
    run.check(final == sorted(model.values()), "final table equals the upsert model")

    run.detail.update({
        "cycles": len(cycles),
        "lookups": lookup_log,
        "lookup_p50_s": {"value": statistics.median(lookup_s), "unit": "s", "n": len(lookup_s)},
        "lookup_p90_s": {"value": p90(lookup_s), "unit": "s", "n": len(lookup_s)},
        "upsert_p50_s": {"value": statistics.median(upsert_s), "unit": "s", "n": len(upsert_s)},
        "compact_p50_s": {"value": statistics.median(compact_s), "unit": "s", "n": len(compact_s)},
        "lake_ops_per_s": {"value": n_ops / loop_s, "unit": "1/s", "n": n_ops},
    })
    if run.traced:
        run.layer.update({
            "lakehouse.prune_ratio": statistics.mean(1 - p[2] / p[1] for p in probes),
            "lakehouse.pending_deletes_mean": statistics.mean(p[0] for p in probes),
            "lakehouse.pending_deletes_max": max(p[0] for p in probes),
            "lakehouse.lookup_read_amp": sum(p[3] for p in probes) / max(1, sum(p[4] for p in probes)),
            "lakehouse.data_bytes": dir_bytes(t.data_path),
            "lakehouse.log_bytes": dir_bytes(t.log_path),
        })
    run.table = t
    return {
        "setup_s": setup_s,
        "pass_s": statistics.median(cycles),
        "op_p50_s": statistics.median(pair_s),
        "op_p90_s": p90(pair_s),
        "samples": len(pair_s),
    }


WORKLOADS = {
    "query_mix": query_mix,
    "ingest_append": ingest_append,
    "lake_upsert_lookup": lake_upsert_lookup,
}


# ------------------------------------------------------------ per-layer
def finish_layers(run: Run) -> None:
    """Fold spans, table metadata and the event log into ``run.layer``."""
    spans = [s for s in run.tracer.spans if s["start"] >= run.window[0]]
    for name in ("append", "merge", "compact"):
        tot = layer_totals(spans, f"lakehouse.{name}")
        run.layer[f"lakehouse.{name}.calls"] = tot["calls"]
        run.layer[f"lakehouse.{name}.s"] = tot["s"]
        if name != "compact":
            run.layer[f"lakehouse.{name}.self_s"] = tot["self_s"]
    scan = layer_totals(spans, "lakehouse.scan")
    run.layer["lakehouse.scan.s"] = scan["s"]
    run.layer["lakehouse.scan.self_s"] = scan["self_s"]
    run.layer["lakehouse.pruned_files.s"] = layer_totals(spans, "lakehouse.pruned_files")["s"]
    run.layer["lakehouse.export.s"] = layer_totals(spans, "lakehouse.export")["s"]

    from crest_spark.streaming.metrics import commit_conflict_counts

    table = getattr(run, "table", None)
    if table is not None:
        t0 = time.perf_counter()
        versions = len(table.versions())
        files = table.file_count()
        run.layer["lakehouse.log_fold_s"] = time.perf_counter() - t0
        run.layer["lakehouse.versions"] = versions
        run.layer["lakehouse.files_live"] = files
    run.layer["lakehouse.commit_conflicts"] = sum(commit_conflict_counts().values())

    ops = [s for s in spans if s["parent"] is None]
    for s in ops:
        s["group"] = f"op-{s['id']}"
    import eventlog

    run.stop()
    ev = eventlog.summarize(
        eventlog.read_events(eventlog.find_log(os.path.join(run.work, "eventlog"))),
        run.window, run.settings["SPARK_GRAFT_CPUS"], ops,
    )
    op_jobs = ev.pop("op_jobs")
    run.layer.update(ev)
    run.layer["spark.driver_s"] = (run.window[1] - run.window[0]) - ev["spark.job_s"]
    family = {e: f for f, es in MIX_FAMILIES.items() for e in es}
    for s in ops:
        if s["name"] == "entry":
            key = f"op.{family[s['entry']]}.jobs"
            run.layer[key] = run.layer.get(key, 0) + op_jobs.get(s["id"], 0)
    run.tracer.dump(os.path.join(os.path.dirname(run.work), f"spans-{run.args.workload}.jsonl"))


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "crest_spark")):
        print("crest_spark package not found next to perfbench/", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    settings = pin_settings(work)
    sys.path.insert(0, ROOT)
    print("# settings: " + json.dumps(settings), flush=True)

    run = Run(args, work, settings)
    try:
        run.start_session(python_workers=args.workload == "query_mix")
        if run.traced:
            install_wrappers(run.tracer)
        e2e = WORKLOADS[args.workload](run)
        e2e["setup_s"] += run.layer["session.start_s"] + run.layer["session.warmup_s"]
        run.layer["mem.peak_rss_mb"] = sum(run.rss)
        run.detail["peak_rss_mb"] = {"value": sum(run.rss), "unit": "MB", "driver_jvm": run.rss}
        if run.traced:
            run.layer["trace.pass_s"] = e2e["pass_s"]
            finish_layers(run)
        else:
            run.stop()
    finally:
        run.tracer.uninstall()
        shutil.rmtree(work, ignore_errors=True)
    samples = e2e.pop("samples")
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "settings": settings, "op_samples": samples,
        "failed_frac": run.failed / max(1, run.attempted),
        "failures": run.failures[:20], "e2e": e2e,
        "session_s": [run.layer["session.start_s"], run.layer["session.warmup_s"]],
        **run.detail,
    }
    with open(os.path.join(base, f"detail-{args.workload}-{args.trace}.json"), "w") as fh:
        json.dump(detail, fh, indent=1, default=str)
    for k, v in run.detail.items():
        if isinstance(v, dict) and "unit" in v:
            print(f"# {k}: {v['value']:.6g} {v['unit']} (n={v.get('n', 1)})")
    print(f"# op samples: {samples}; failed_frac: {detail['failed_frac']:.4g}")
    print(summary_line(run.failed == 0, run.attempted, run.failed,
                       run.layer if run.traced else e2e, args.trace))
    return 0


def summary_line(correct: bool, attempted: int, failed: int, values: dict,
                 trace: int) -> str:
    """The result line: every per-layer metric when traced (0 where the
    workload does not reach that layer), else every end-to-end metric."""
    units = LAYER_UNITS if trace else END_TO_END
    return json.dumps({
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()},
    })


if __name__ == "__main__":
    sys.exit(main())
