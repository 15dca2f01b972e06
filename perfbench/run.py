"""The repository benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload batch_rollup --seed 1 --seconds 5 --trace 0

Run from the repository root. Each run starts its own Spark session on
``local[nproc]``, generates its inputs from ``--seed``, measures the
workload's operation in a closed loop (one caller, the next operation starts
when the previous one returns) for at least ``--seconds``, checks every
output outside the timed region and prints a report. The last line of
standard output is one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).

Workloads (see BENCHMARK.json for why each is here):

* ``batch_rollup`` -- one cold ``run_pipeline(input_table=..., chunked=True)``
  into a fresh workdir;
* ``range_reads`` -- one time-range read, ``read_chunks_range`` then
  ``points_with_rates``, collected into this process, over tier and chunk tables
  built in set-up; reads come in blocks of six shapes and a run measures at
  least two blocks.

The traced run (``--trace 1``) records spans around the calls into each
layer, adds Spark's per-stage counters to them and also runs layer probes:
the ``batch_rollup`` one applies a seeded late-data delta with
``backfill_pipeline``, the ``range_reads`` one drains seeded arrival files
with ``run_stream_cycle``. Both time the numpy kernels and the Gorilla codec
directly. Per-run artifacts (host context, metrics, spans) are written under
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench_work"

#: (name, unit) of every end-to-end metric, printed by every --trace 0 run.
#: Set-up and the operation are bounded as process-tree CPU seconds: on the
#: 4-vCPU VM the benchmark was tuned on, the hypervisor stole 0-30% of the
#: vCPUs in windows of minutes, which moved wall times by up to 1.5x
#: between runs of the same code and CPU times by about 1.15x (stolen time
#: is not charged to the process). Wall times (setup_wall_s, op_p50_ms,
#: turns_per_s) are printed by every run next to the steal % that explains
#: them.
END_TO_END = (
    ("setup_s", "s"),
    ("op_cpu_p50_ms", "ms"),
    ("stored_bytes_per_turn", "B/turn"),
)

#: spans whose Spark counters are reported
COUNTED_SPANS = (
    "stage.ingest", "stage.filled", "stage.treated", "stage.rollup_1m",
    "stage.chunks", "read", "backfill", "stream",
)
_COUNTER_UNITS = {
    "jobs": "count", "tasks": "count", "shuffle_write_bytes": "B",
    "spill_bytes": "B", "failed_tasks": "count", "busy_frac": "ratio",
}

#: (name, unit) of every per-layer metric, printed by every --trace 1 run;
#: a layer the workload never calls reads 0
PER_LAYER = (
    ("session.start_s", "s"),
    ("session.peak_rss_mb", "MiB"),
    ("tableio.write_s", "s"),
    ("tableio.files_written", "count"),
    ("tableio.bytes_written", "B"),
    ("tableio.files_read", "count"),
    ("tableio.partitions_rewritten", "count"),
    ("lineage.s", "s"),
    ("rollup.metrics_s", "s"),
    ("rollup.raw_1m_s", "s"),
    ("rollup.from_tier_s", "s"),
    ("gapfill.s", "s"),
    ("gapfill.rows_added", "count"),
    ("gapfill.shuffle_bytes", "B"),
    ("treatment.s", "s"),
    ("treatment.shuffle_bytes", "B"),
    ("treatment.task_skew", "ratio"),
    ("kernels.points_per_s", "points/s"),
    ("chunks.write_s", "s"),
    ("chunks.count", "count"),
    ("chunks.bytes_per_point", "B/point"),
    ("chunks.read_s", "s"),
    ("chunks.scanned", "count"),
    ("chunks.useful_frac", "ratio"),
    ("gorilla.encode_points_per_s", "points/s"),
    ("gorilla.decode_points_per_s", "points/s"),
    ("backfill.s", "s"),
    ("backfill.merge_s", "s"),
    ("backfill.recompute_frac", "ratio"),
    ("backfill.partitions_rewritten_frac", "ratio"),
    ("stream.batches", "count"),
    ("stream.cycle_s", "s"),
    ("stream.deadletter_rows", "count"),
    ("trace.overhead_frac", "ratio"),
) + tuple(
    (f"{span}.spark.{c}", u) for span in COUNTED_SPANS for c, u in _COUNTER_UNITS.items()
)

#: a traced run skips its remaining layer probes past this many seconds, so
#: it still ends well inside the 180 s a run may take
PROBE_DEADLINE_S = 120.0


def _program_present() -> bool:
    return (ROOT / "pneuma_treatment_spark" / "__init__.py").is_file() and (
        ROOT / "jobs" / "rollup_job.py"
    ).is_file()


class Run:
    """State of one benchmark run: session, inputs, counts, metrics."""

    def __init__(self, args) -> None:
        self.workload = args.workload
        self.seed = args.seed % 2**32  # numpy seeds must be non-negative
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.scale = args.scale
        self.corrupt = args.corrupt_output
        self.t_start = time.perf_counter()
        self.work = str(WORK / f"{self.workload}-{os.getpid()}")
        self.nproc = os.cpu_count() or 1
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.walls: list[float] = []  # seconds per successful operation
        self.cpu: list[float] = []  # process-tree CPU seconds per successful operation
        self.last_cpu = 0.0  # CPU seconds of the latest successful attempt()
        self.notes: list[str] = []
        self.info: dict = {}
        #: report-only figures: name -> (value, unit, sample count)
        self.extra: dict[str, tuple[float, str, int]] = {}
        self.spark = None
        self.tracer = None

    # -- bookkeeping ------------------------------------------------------
    def elapsed(self) -> float:
        return time.perf_counter() - self.t_start

    def fail(self, what: str) -> None:
        self.failed += 1
        self.problems.append(what)
        print(f"FAILED: {what}", file=sys.stderr)

    def attempt(self, what: str, fn, *a, **kw):
        """Run one operation; an exception counts as a failure, never aborts
        the run. Returns (result or None, wall seconds)."""
        from host import tree_cpu_seconds

        self.attempted += 1
        cpu0 = tree_cpu_seconds(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn(*a, **kw)
        except Exception:  # the benchmark must keep running and count it
            traceback.print_exc()
            self.fail(f"{what}: exception")
            return None, time.perf_counter() - t0
        wall = time.perf_counter() - t0
        self.last_cpu = tree_cpu_seconds(os.getpid()) - cpu0
        return out, wall

    # -- session ----------------------------------------------------------
    def start_session(self) -> float:
        from pneuma_treatment_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.enabled": "true" if self.trace else "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        took = time.perf_counter() - t0
        if self.trace:
            from spans import SparkRest, Tracer

            self.tracer = Tracer(f"{self.workload}-{self.seed}-{os.getpid()}",
                                 SparkRest(self.spark))
            self.tracer.record("session", t0, t0 + took)
        return took

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=60)
        self.spark = None

    def inputs(self):
        """Generate and write the inputs three times (median time goes into
        set-up; the tables are identical each time)."""
        import workloads as W

        walls, inp = [], None
        for _ in range(3):
            t0 = time.perf_counter()
            inp = W.make_inputs(self.seed, self.scale, self.work)
            walls.append(time.perf_counter() - t0)
        return inp, statistics.median(walls)


# ---------------------------------------------------------------- helpers


def _setup_done(run: Run, wall_s: float) -> None:
    """setup_s: CPU seconds the process tree spent from start to here
    (interpreter, JVM and session start, inputs, tables, warm-up)."""
    from host import tree_cpu_seconds

    run.e2e["setup_s"] = tree_cpu_seconds(os.getpid())
    run.extra["setup_wall_s"] = (wall_s, "s", 1)


def _median_ms(walls: list[float]) -> float:
    return statistics.median(walls) * 1000.0 if walls else 0.0


def _merge_counters(spans: list[dict]) -> dict:
    """Sum Spark counters over spans; busy_frac is wall-weighted."""
    out = dict.fromkeys(_COUNTER_UNITS, 0.0)
    wall = 0.0
    for s in spans:
        c = s["attrs"].get("spark")
        if not c:
            continue
        w = s["end"] - s["start"]
        for k in _COUNTER_UNITS:
            out[k] += c[k] * w if k == "busy_frac" else c[k]
        wall += w
    if wall:
        out["busy_frac"] /= wall
    return out


def _counters_into(run: Run, span_name: str, spans: list[dict]) -> None:
    for k, v in _merge_counters(spans).items():
        run.layer[f"{span_name}.spark.{k}"] = v


def _history_op_ms(workload: str, scale: str) -> list[float]:
    """op_p50_ms of earlier untraced runs of this workload in this checkout."""
    out = []
    for p in glob.glob(str(WORK / "results" / f"{workload}-*-t0-*.json")):
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        if rec.get("scale") == scale and rec.get("correct"):
            out.append(rec["extra"]["op_p50_ms"][0])
    return out


def _overhead(run: Run, traced_ms: float) -> None:
    """trace.overhead_frac: this traced run's median operation time against
    the median op_p50_ms of the untraced runs recorded in this checkout."""
    hist = _history_op_ms(run.workload, run.scale)
    if hist:
        run.layer["trace.overhead_frac"] = traced_ms / statistics.median(hist) - 1.0
    else:
        run.notes.append(f"trace.overhead_frac: no untraced {run.workload} run recorded yet")


def _closed_loop(run: Run, op, block: int = 1, min_blocks: int = 1) -> None:
    """Call ``op(i)`` for i = 0, 1, ... until ``run.seconds`` have passed
    and at least ``min_blocks`` blocks ran, stopping only at a multiple of
    ``block``."""
    t_end = time.perf_counter() + run.seconds
    i = 0
    while True:
        op(i)
        i += 1
        if i % block == 0 and i >= block * min_blocks and time.perf_counter() >= t_end:
            return


# ------------------------------------------------------------ batch_rollup


def batch_rollup(run: Run) -> None:
    import workloads as W
    from jobs.rollup_job import run_pipeline

    session_s = run.start_session()
    inp, gen_s = run.inputs()
    run.info = inp.summary()
    turns = run.info["turns"]
    _setup_done(run, session_s + gen_s)

    walls = run.walls
    done: list[str] = []

    def op(i: int) -> None:
        wd = os.path.join(run.work, f"op{i}")
        kw = {}
        if run.tracer is not None:
            kw["stage_hook"] = _StageSpans(run.tracer, time.perf_counter())
        res, wall = run.attempt(f"run_pipeline #{i}", run_pipeline, run.spark, wd,
                                input_table=inp.path, chunked=True, **kw)
        if res is not None:
            walls.append(wall)
            run.cpu.append(run.last_cpu)
            done.append(wd)

    if run.tracer is None:
        _closed_loop(run, op)
    else:
        from pneuma_treatment_spark.io.tableio import TableIO

        orig = TableIO.write
        TableIO.write = _timed_write(run.tracer, orig)
        try:
            with run.tracer.span("op"):
                op(0)
        finally:
            TableIO.write = orig

    if done:
        size = sum(W.parquet_bytes(os.path.join(done[0], t))[1] for t in W.TABLES)
        run.e2e["stored_bytes_per_turn"] = size / turns
        run.e2e["op_cpu_p50_ms"] = _median_ms(run.cpu)
        run.extra["op_p50_ms"] = (_median_ms(walls), "ms", len(walls))
        run.extra["turns_per_s"] = (turns / statistics.median(walls), "turns/s", len(walls))

    # output checks, outside the timed region
    for wd in done:
        if run.corrupt:
            wd = _corrupted_copy(wd)
        problems = W.check_rollup_outputs(wd, inp.df)
        if problems:
            run.fail(f"{os.path.basename(wd)}: " + "; ".join(problems))

    if run.tracer is not None and done:
        _batch_layers(run, inp, done[0], walls[0])


class _StageSpans:
    """``run_pipeline`` stage hook: closes one ``stage.<name>`` span per
    completed stage (the hook runs the branches sequentially), with the
    Spark counters of the work done since the previous stage."""

    def __init__(self, tracer, t0: float) -> None:
        self.tracer = tracer
        self.t_prev = t0
        self.snap = tracer.rest.snapshot()

    def __call__(self, name: str) -> None:
        now = time.perf_counter()
        counters = self.tracer.rest.delta(self.snap, now - self.t_prev)
        self.tracer.record(f"stage.{name}", self.t_prev, now, parent="op", spark=counters)
        self.snap = self.tracer.rest.snapshot()
        self.t_prev = time.perf_counter()


def _timed_write(tracer, orig):
    def write(self, df, table, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(self, df, table, *a, **kw)
        finally:
            tracer.record("tableio.write", t0, time.perf_counter(),
                          parent=f"stage.{table}", table=table)
    return write


def _corrupted_copy(wd: str) -> str:
    """A copy of a pipeline workdir with one 1h partial changed (for the
    benchmark's own test that a wrong output is counted as a failure)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    bad = wd + "-corrupted"
    shutil.copytree(wd, bad)
    f = sorted(glob.glob(os.path.join(bad, "rollup_1h", "**", "*.parquet"), recursive=True))[0]
    t = pq.read_table(f)
    i = t.schema.get_field_index("turn_count")
    pq.write_table(t.set_column(i, "turn_count", pc.add(t["turn_count"], 1)), f)
    return bad


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _batch_layers(run: Run, inp, wd: str, op_wall: float) -> None:
    """Per-layer metrics of the traced batch run."""
    import gen
    import workloads as W
    from pneuma_treatment_spark.compression.chunks import write_chunks
    from pneuma_treatment_spark.io.tableio import TableIO
    from pneuma_treatment_spark.operators.gapfill import gap_fill
    from pneuma_treatment_spark.operators.rollup import (
        rollup_from_tier,
        rollup_raw_clustered,
        with_turn_metrics,
    )
    from pneuma_treatment_spark.operators.treatment import (
        TreatmentConfig,
        conv_anomaly_flags,
        treat_transcripts,
    )

    tr, spark, L = run.tracer, run.spark, run.layer
    io = TableIO(spark, wd)
    ingest, filled = io.read("ingest"), io.read("filled")
    m1, h1, d1 = io.read("rollup_1m"), io.read("rollup_1h"), io.read("rollup_1d")

    # each stage's layer function again, on its materialized input, into a
    # noop sink: the stage's compute without its write and lineage
    with tr.span("rollup.metrics", counters=True):
        _noop(with_turn_metrics(spark.read.parquet(inp.path)))
    with tr.span("gapfill", counters=True) as gf:
        _noop(gap_fill(
            ingest.select("conv_id", "turn_idx", "role", "ts", "token_count", "is_tool_call"),
            lerp_cols=("token_count",), lerp_ts_cols=("ts",),
        ))
    with tr.span("treatment", counters=True) as tm:
        _noop(treat_transcripts(
            filled.select("conv_id", "turn_idx", "ts", "token_count", "is_filled"),
            TreatmentConfig(), chunked=True,
            flags=conv_anomaly_flags(filled.select("conv_id", "raw_anomaly")),
        ))
    with tr.span("rollup.raw_1m", counters=True):
        _noop(rollup_raw_clustered(ingest, "1m", n_buckets=io.n_buckets))
    with tr.span("rollup.from_tier", counters=True):
        _noop(rollup_from_tier(m1, "1m", "1h"))
        _noop(rollup_from_tier(h1, "1h", "1d"))
    cols = ["conv_id", "tier", "bucket_ts", *W.INT_PARTIALS]
    with tr.span("chunks.encode", counters=True):
        _noop(write_chunks(m1.select(cols).unionByName(h1.select(cols)).unionByName(d1.select(cols))))

    compute_of = {
        "ingest": "rollup.metrics", "filled": "gapfill", "treated": "treatment",
        "rollup_1m": "rollup.raw_1m", "rollup_1h": "rollup.from_tier",
        "rollup_1d": "rollup.from_tier", "chunks": "chunks.encode",
    }
    stage_wall = {s["name"][6:]: s["end"] - s["start"] for s in tr.spans
                  if s["name"].startswith("stage.")}
    write_wall = {s["attrs"]["table"]: s["end"] - s["start"] for s in tr.named("tableio.write")}
    compute = {n: tr.total(n) for n in set(compute_of.values())}
    L["session.start_s"] = tr.total("session")
    L["tableio.write_s"] = sum(write_wall.values()) - sum(compute.values())
    L["lineage.s"] = sum(stage_wall[t] - write_wall.get(t, 0.0) for t in stage_wall)
    L["rollup.metrics_s"] = compute["rollup.metrics"]
    L["rollup.raw_1m_s"] = compute["rollup.raw_1m"]
    L["rollup.from_tier_s"] = compute["rollup.from_tier"]
    L["gapfill.s"] = compute["gapfill"]
    L["gapfill.shuffle_bytes"] = gf["attrs"]["spark"]["shuffle_write_bytes"]
    L["treatment.s"] = compute["treatment"]
    L["treatment.shuffle_bytes"] = tm["attrs"]["spark"]["shuffle_write_bytes"]
    L["treatment.task_skew"] = tm["attrs"]["spark"]["task_skew"]
    filled_pd = W.read_table(os.path.join(wd, "filled"), ["is_filled"])
    L["gapfill.rows_added"] = int(filled_pd["is_filled"].sum())
    files = bytes_ = 0
    for t in W.TABLES:
        n, b = W.parquet_bytes(os.path.join(wd, t))
        files, bytes_ = files + n, bytes_ + b
    L["tableio.files_written"], L["tableio.bytes_written"] = files, bytes_
    meta = W.read_table(os.path.join(wd, "chunks"), ["n_points"])
    L["chunks.write_s"] = write_wall.get("chunks", 0.0)
    L["chunks.count"] = len(meta)
    L["chunks.bytes_per_point"] = W.parquet_bytes(os.path.join(wd, "chunks"))[1] / meta["n_points"].sum()
    for name in COUNTED_SPANS:
        if name.startswith("stage."):
            _counters_into(run, name, tr.named(name))
    _overhead(run, op_wall * 1000.0)

    _codec_probes(run, os.path.join(wd, "chunks"))

    if run.elapsed() > PROBE_DEADLINE_S:
        run.notes.append(f"backfill probe skipped: {run.elapsed():.0f} s elapsed")
        return
    delta = gen.late_delta(inp.df, run.seed)
    dpath = os.path.join(run.work, "delta")
    os.makedirs(dpath)
    gen.write(delta, os.path.join(dpath, "part-0.parquet"))
    bf = os.path.join(run.work, "backfill")
    shutil.copytree(wd, bf)
    import pneuma_treatment_spark.plans.backfill as B

    orig = B.merge_conv_scoped

    def merge(io_, table, *a, **kw):
        t0 = time.perf_counter()
        try:
            return orig(io_, table, *a, **kw)
        finally:
            tr.record("backfill.merge", t0, time.perf_counter(), parent="backfill", table=table)

    B.merge_conv_scoped = merge
    try:
        with tr.span("backfill", counters=True) as sp:
            summary, _ = run.attempt("backfill_pipeline", B.backfill_pipeline, spark, bf,
                                     spark.read.parquet(dpath))
    finally:
        B.merge_conv_scoped = orig
    if summary is None:
        return
    problems = W.check_rollup_outputs(bf, W.upsert(inp.df, delta))
    if problems:
        run.fail("backfill: " + "; ".join(problems))
    import pyarrow.dataset as ds

    tables = summary["tables"]
    rows = sum(ds.dataset(os.path.join(bf, t), format="parquet", partitioning="hive").count_rows()
               for t in tables)
    parts = sum(W.partition_dirs(os.path.join(bf, t)) for t in tables)
    rewritten = sum(v["parts_rewritten"] for v in tables.values())
    L["backfill.s"] = sp["end"] - sp["start"]
    L["backfill.merge_s"] = tr.total("backfill.merge")
    L["backfill.recompute_frac"] = sum(v["added"] for v in tables.values()) / rows
    L["backfill.partitions_rewritten_frac"] = rewritten / parts
    L["tableio.partitions_rewritten"] = rewritten
    _counters_into(run, "backfill", [sp])


def _codec_probes(run: Run, chunk_path: str) -> None:
    import workloads as W

    run.layer["kernels.points_per_s"] = W.kernel_points_per_s(run.seed)
    enc, dec, same = W.gorilla_points_per_s(chunk_path)
    run.attempted += 1
    if not same:
        run.fail("gorilla: re-encoding decoded chunks did not reproduce the stored blobs")
    run.layer["gorilla.encode_points_per_s"] = enc
    run.layer["gorilla.decode_points_per_s"] = dec


# ------------------------------------------------------------- range_reads


def range_reads(run: Run) -> None:
    import workloads as W

    session_s = run.start_session()
    inp, gen_s = run.inputs()
    run.info = inp.summary()
    wd = os.path.join(run.work, "tables")
    t0 = time.perf_counter()
    W.build_read_tables(run.spark, inp.path, wd)
    chunk_path = os.path.join(wd, "chunks")
    # warm-up: one block of reads from a separate seeded sequence; the JIT
    # keeps compiling the read path over the first dozen reads of a JVM
    for shape in W.read_block(inp.df, run.seed, 0, warmup=True):
        W.range_read(run.spark, chunk_path, shape)
    _setup_done(run, session_s + gen_s + (time.perf_counter() - t0))

    blocks: dict[int, list] = {}
    walls = run.walls
    first_rows: dict[int, list] = {}
    turns = [0]
    scan = {"chunks": 0, "points": 0, "returned": 0, "files": 0}
    if run.tracer is not None:
        scan["meta"] = W.read_table(chunk_path, ["conv_id", "tier", "start_ts", "end_ts", "n_points"])

    def shape_of(i: int):
        k = i // len(W.BLOCK)
        if k not in blocks:
            blocks[k] = W.read_block(inp.df, run.seed, k)
        return blocks[k][i % len(W.BLOCK)]

    def op(i: int) -> None:
        shape = shape_of(i)
        if run.tracer is None:
            rows, wall = run.attempt(f"read #{i}", W.range_read, run.spark, chunk_path, shape)
        else:
            with run.tracer.span("read", counters=True, shape=shape.kind):
                rows, wall = run.attempt(f"read #{i}", W.range_read, run.spark, chunk_path, shape)
            _scan_stats(scan, chunk_path, shape, rows)
        if rows is not None:
            walls.append(wall)
            run.cpu.append(run.last_cpu)
            turns[0] += sum(r["turn_count"] for r in rows)
            if i < len(W.BLOCK):
                first_rows[i] = rows

    # two blocks at least: a fixed read count keeps the JIT state of the
    # measured reads the same from run to run
    _closed_loop(run, op, block=len(W.BLOCK), min_blocks=2)
    n_reads = run.attempted
    _, size = zip(*(W.parquet_bytes(os.path.join(wd, t)) for t in (*W.TIER_TABLES, "chunks")))
    run.e2e["stored_bytes_per_turn"] = sum(size) / run.info["turns"]
    if walls:
        run.e2e["op_cpu_p50_ms"] = _median_ms(run.cpu)
        run.extra["op_p50_ms"] = (_median_ms(walls), "ms", len(walls))
        run.extra["turns_per_s"] = (turns[0] / sum(walls), "turns/s", len(walls))
        if len(walls) >= 100:  # p90 needs ten samples beyond it
            p90 = statistics.quantiles(walls, n=10)[-1] * 1000.0
            run.extra["read_p90_ms"] = (p90, "ms", len(walls))

    # each read shape checked once against a direct filter of its tier table
    tiers = W.load_tiers(wd)
    for i, rows in first_rows.items():
        shape = shape_of(i)
        if run.corrupt:
            rows = rows[1:]
        bad = W.check_read(rows, shape, tiers[shape.tier])
        if bad:
            run.fail(f"read check: {bad}")

    if run.tracer is not None:
        _reads_layers(run, inp, chunk_path, n_reads, scan)


def _scan_stats(scan: dict, chunk_path: str, shape, rows) -> None:
    """What one traced read touched: data files under its tier partition,
    chunks surviving the pruning and the points they hold, points returned."""
    import workloads as W

    n_ch, n_pts = W.chunk_scan_stats(scan["meta"], shape)
    scan["chunks"] += n_ch
    scan["points"] += n_pts
    scan["returned"] += len(W.INT_PARTIALS) * len(rows or [])
    scan["files"] += W.parquet_bytes(os.path.join(chunk_path, f"tier={shape.tier}"))[0]


def _reads_layers(run: Run, inp, chunk_path: str, n_reads: int, scan: dict) -> None:
    """Per-layer metrics of the traced range_reads run, then the codec
    probes and the streaming probe."""
    tr, L = run.tracer, run.layer
    L["session.start_s"] = tr.total("session")
    L["chunks.read_s"] = statistics.median(s["end"] - s["start"] for s in tr.named("read"))
    L["chunks.scanned"] = scan["chunks"] / n_reads
    L["chunks.useful_frac"] = scan["returned"] / scan["points"] if scan["points"] else 0.0
    L["tableio.files_read"] = scan["files"] / n_reads
    _overhead(run, L["chunks.read_s"] * 1000.0)
    _counters_into(run, "read", tr.named("read"))
    _codec_probes(run, chunk_path)
    if run.elapsed() > PROBE_DEADLINE_S:
        run.notes.append(f"stream probe skipped: {run.elapsed():.0f} s elapsed")
        return
    _stream_probe(run, inp)


def _stream_probe(run: Run, inp) -> None:
    """Drain seeded arrival files, one ``run_stream_cycle`` per file."""
    import gen
    import pandas as pd

    import workloads as W
    from jobs.stream_ingest_job import run_stream_cycle

    tr, L = run.tracer, run.layer
    per_file = max(200, min(2000, len(inp.df) // 8))
    slices = gen.arrival_slices(inp.df, run.seed, n_files=4, rows_per_file=per_file,
                                late_rows=per_file // 100)
    src, swd = os.path.join(run.work, "arrivals"), os.path.join(run.work, "stream")
    os.makedirs(src)
    now = time.time()
    walls, res = [], None
    for i, part in enumerate(slices):
        path = os.path.join(src, f"{i:03d}.parquet")
        gen.write(part, path)
        os.utime(path, (now - 100 + i, now - 100 + i))
        with tr.span("stream", counters=True) as sp:
            res, _ = run.attempt(f"run_stream_cycle #{i}", run_stream_cycle, run.spark, src, swd)
        walls.append(sp["end"] - sp["start"])
    bad = W.check_stream(swd, pd.concat(slices, ignore_index=True))
    if bad:
        run.fail(f"stream check: {bad}")
    dead = os.path.join(swd, "deadletter")
    L["stream.cycle_s"] = statistics.median(walls)
    L["stream.batches"] = res["chunk_epoch_dirs"] if res else 0
    L["stream.deadletter_rows"] = len(W.read_table(dead, ["conv_id"])) if os.path.isdir(dead) else 0
    _counters_into(run, "stream", tr.named("stream"))


WORKLOADS = {"batch_rollup": batch_rollup, "range_reads": range_reads}


# -------------------------------------------------------------------- main


def _env(work: str) -> None:
    """Keep every file the run writes (Spark scratch, JVM and Python temp
    files) inside the checkout, and let Spark's Python workers import the
    package."""
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JDK_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    # 2 GiB JVM heap (the package default is 8 GiB, pre-touched at JVM
    # start); the inputs here need far less
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["TZ"] = "UTC"
    time.tzset()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "smoke"), default="full",
                    help="input size; smoke is for the benchmark's own tests")
    ap.add_argument("--corrupt-output", action="store_true",
                    help="check a deliberately corrupted copy of the output "
                    "(the benchmark's own test that wrong outputs count as failures)")
    args = ap.parse_args(argv)
    if not _program_present():
        print(f"perfbench: the program (pneuma_treatment_spark/, jobs/) is not "
              f"under {ROOT}; nothing to measure", file=sys.stderr)
        return 2

    run = Run(args)
    _env(run.work)
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))
    from host import HostContext, RssSampler

    host = HostContext()
    try:
        with RssSampler() as rss:
            try:
                WORKLOADS[args.workload](run)
            finally:
                run.stop_session()
        run.layer["session.peak_rss_mb"] = rss.peak_mb
        run.extra["peak_rss_mb"] = (rss.peak_mb, "MiB", rss.samples)
    finally:
        shutil.rmtree(run.work, ignore_errors=True)
    ctx = host.finish()
    return _report(run, ctx)


def _report(run: Run, host: dict) -> int:
    names = PER_LAYER if run.trace else END_TO_END
    table = run.layer if run.trace else run.e2e
    metrics = {n: {"value": float(table.get(n, 0.0)), "unit": u} for n, u in names}
    correct = run.failed == 0 and run.attempted > 0
    error_rate = run.failed / run.attempted if run.attempted else 1.0
    n = len(run.walls)
    wl = run.workload
    print(f"[{wl}] host {json.dumps(host)}")
    print(f"[{wl}] inputs {json.dumps(run.info)}")
    print(f"[{wl}] op walls ms {[round(w * 1000.0, 1) for w in run.walls]}")
    print(f"[{wl}] op cpu ms {[round(c * 1000.0, 1) for c in run.cpu]}")
    for name, m in metrics.items():
        samples = n if name == "op_cpu_p50_ms" else 1
        print(f"[{wl}] {name} = {m['value']:.6g} {m['unit']} (n={samples})")
    for name, (v, unit, k) in run.extra.items():
        print(f"[{wl}] {name} = {v:.6g} {unit} (n={k})")
    if wl == "range_reads" and "read_p90_ms" not in run.extra:
        print(f"[{wl}] read_p90_ms not reported: n={n} reads, p90 needs >= 100")
    print(f"[{wl}] error_rate = {error_rate:.6g} ratio (n={run.attempted})")
    for note in run.notes:
        print(f"[{wl}] note: {note}")
    for p in run.problems:
        print(f"[{wl}] problem: {p}")
    record = {
        "workload": wl, "seed": run.seed, "scale": run.scale, "trace": int(run.trace),
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "error_rate": error_rate, "host": host, "inputs": run.info,
        "metrics": {k: v["value"] for k, v in metrics.items()}, "extra": run.extra,
        "op_walls_s": run.walls, "op_cpu_s": run.cpu,
        "problems": run.problems, "notes": run.notes,
    }
    out_dir = WORK / "results"
    out_dir.mkdir(parents=True, exist_ok=True)
    stem = f"{wl}-s{run.seed}-t{int(run.trace)}-{os.getpid()}"
    with open(out_dir / f"{stem}.json", "w") as f:
        json.dump(record, f, indent=1)
    if run.tracer is not None:
        run.tracer.dump(str(out_dir / f"{stem}.spans.json"))
    print(json.dumps({"correct": correct, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
