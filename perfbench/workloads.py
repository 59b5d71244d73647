"""The two workloads. Each is a closed loop with one client: every
operation starts after the previous one ends. A run makes one cold pass,
then ``WARMUP_PASSES`` warm-up passes, then measured passes while the
run's measuring time lasts (at least ``MIN_MEASURED_PASSES``). The seed
sets the query order of every warm pass and the stream replay's file
split.

- ``queries``: the dashboard mix and the curation mix in one session over
  the read-only fixture, shuffled together in every warm pass.
- ``ingest``: the only write workload, a backfill then a stream replay.

Operations go through the user path only: ``REGISTRY[name].fn(spark,
sf_dir)`` then a noop write for the read workloads; ``pipeline.run_batch``
and ``pipeline.run_stream`` for ingest. Checks, cache release and the
traced run's extra probes run outside the timed region.
"""

from __future__ import annotations

import glob
import hashlib
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from solis_solarman_clickhouse_spark.caching import release_cached
from solis_solarman_clickhouse_spark.ingest.decode import decode_registers
from solis_solarman_clickhouse_spark.ingest.fixture import (
    CADENCE_S,
    START_EPOCH,
    generate_raw_registers,
)
from solis_solarman_clickhouse_spark.ingest.pipeline import run_batch, run_stream, transform
from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink
from solis_solarman_clickhouse_spark.oracle_compare import canon_pandas
from solis_solarman_clickhouse_spark.queries import REGISTRY

from tracing import PlanProbe, Spans, StreamProgress, engine_cpu_s

# Grafana-style reads: short queries whose wall time is mostly planning,
# scheduling and codegen. ts_lttb_downsample is the only Arrow stage.
DASHBOARD = [
    "scan_pruned_projection", "agg_last_point", "ts_ohlc_downsample",
    "ts_lttb_downsample", "agg_tpch_q1",
]
# LLM-data curation: a checkpointed fixpoint loop (driver loop, checkpoints,
# persists and shuffles every round).
CURATION = ["graph_connected_components"]
# Ingest sizes: backfill INVERTERS x BACKFILL_DAYS of 30 s samples; the
# stream replays the backfill's first day split into STREAM_FILES files.
INVERTERS = 10
BACKFILL_DAYS = 2
STREAM_FILES = 4
SAMPLES_PER_DAY = 86400 // CADENCE_S

# The JIT is still compiling Spark's planning and scheduling paths after the
# cold pass and its result checks: on the 4-core box an operation took
# 10-40 % longer in the first warm pass than in the passes after it. So a
# fixed number of untimed warm-up passes (a count, not a time, so that a
# slow host does not measure a less-warm JVM), then the measured passes.
WARMUP_PASSES = 1
MIN_MEASURED_PASSES = 3


@dataclass
class Op:
    name: str
    kind: str  # "query", "backfill" or "stream"
    pass_no: int
    span: int
    t0: float  # epoch seconds, for attribution to event-log windows
    t1: float = 0.0
    build_s: float = 0.0
    action_s: float = 0.0
    cpu_s: float = 0.0
    release_s: float = 0.0
    persisted: int = 0
    leaked: int = 0
    analysis_ms: float = 0.0
    error: str | None = None
    check: str | None = None  # None: not checked; "ok"; or the failure
    layers: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.build_s + self.action_s

    @property
    def failed(self) -> bool:
        return self.error is not None or self.check not in (None, "ok")


@dataclass
class Run:
    spark: SparkSession
    sf_dir: str
    work: str
    seed: int
    seconds: float
    spans: Spans
    expected: dict
    jvm_pid: int
    probe: PlanProbe | None = None
    progress: StreamProgress | None = None
    ops: list[Op] = field(default_factory=list)
    passes: list[dict] = field(default_factory=list)
    stream_batches: list[list[dict]] = field(default_factory=list)
    ingest: dict = field(default_factory=dict)
    rss_mb: float = 0.0

    @property
    def traced(self) -> bool:
        return self.probe is not None

    def persistent_rdds(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()


def result_hash(pdf) -> str:
    """Hash of a query result as the oracle comparator canonicalizes it."""
    h = hashlib.sha256("\x1e".join(sorted(pdf.columns)).encode())
    for row in canon_pandas(pdf):
        h.update(("\x1e" + "\x1f".join(row)).encode())
    return h.hexdigest()[:16]


def table_hash(df: DataFrame) -> tuple[int, str]:
    """Row count and an order-independent content hash of a (large) table,
    computed in Spark: ``count:sum(xxhash64(row))``."""
    cols = sorted(df.columns)
    row = df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h")).agg(
        F.count("*").alias("n"), F.sum("h").alias("s")
    ).first()
    return row.n, f"{row.n}:{row.s}"


def _passes(run: Run):
    """Yield (pass number, phase): one cold pass, the warm-up passes, then
    measured passes while the measuring time lasts."""
    yield 0, "cold"
    for p in range(1, WARMUP_PASSES + 1):
        yield p, "warmup"
    start = time.perf_counter()
    n = 0
    while n < MIN_MEASURED_PASSES or time.perf_counter() - start < run.seconds:
        n += 1
        yield WARMUP_PASSES + n, "measured"


def _after_op(run: Run, op: Op) -> None:
    """Untimed tail of every operation: drain the trace listener, count
    persisted RDDs, release every tracked cache and count what is left.
    The release blocks, so that no unpersist work spills into the next
    operation's timed region."""
    if run.probe is not None:
        run.probe.drain()
    op.persisted = run.persistent_rdds()
    t = time.perf_counter()
    release_cached(blocking=True)
    op.release_s = time.perf_counter() - t
    op.leaked = run.persistent_rdds()


def run_queries(run: Run, names: list[str]) -> None:
    """The cold pass runs the mixes in their listed order, so its JIT and
    codegen costs fall the same way in every run; warm passes run in a
    seeded shuffle."""
    rng = random.Random(run.seed)
    for p, phase in _passes(run):
        order = names[:]
        if p > 0:
            rng.shuffle(order)
        pspan = run.spans.start("pass", None, pass_no=p)
        ops = [_query(run, name, p, pspan, check=(p == 0)) for name in order]
        run.spans.end(pspan)
        run.passes.append({"pass": p, "phase": phase, "ops": ops,
                           "wall_s": sum(o.wall_s for o in ops)})


def _query(run: Run, name: str, p: int, parent: int, *, check: bool) -> Op:
    spans = run.spans
    op = Op(name, "query", p, spans.start("query", parent, query=name), time.time())
    run.ops.append(op)
    df = None
    cpu = engine_cpu_s(run.jvm_pid)
    try:
        s = spans.start("build", op.span)
        t = time.perf_counter()
        df = REGISTRY[name].fn(run.spark, run.sf_dir)
        op.build_s = time.perf_counter() - t
        spans.end(s)
        s = spans.start("action", op.span)
        t = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        op.action_s = time.perf_counter() - t
        spans.end(s)
    except Exception as exc:  # noqa: BLE001 - one failed query costs only its own op
        op.error = f"{type(exc).__name__}: {exc}"[:300]
    op.cpu_s = engine_cpu_s(run.jvm_pid) - cpu
    op.t1 = time.time()
    if run.traced and df is not None:
        op.analysis_ms = _phase_ms(df, "analysis")
    if check and op.error is None:
        s = spans.start("check", op.span)
        want = run.expected["queries"][name]["hash"]
        try:
            got = result_hash(df.toPandas())
            op.check = "ok" if got == want else f"hash {got} != expected {want}"
        except Exception as exc:  # noqa: BLE001
            op.check = f"{type(exc).__name__}: {exc}"[:300]
        spans.end(s, result=op.check)
    s = spans.start("release", op.span)
    _after_op(run, op)
    spans.end(s)
    spans.end(op.span, error=op.error, check=op.check)
    return op


def _phase_ms(df: DataFrame, phase: str) -> float:
    phases = df._jdf.queryExecution().tracker().phases()
    return phases.get(phase).get().durationMs() if phases.contains(phase) else 0.0


# --------------------------------------------------------------------------
# ingest


def _zero_dc_dropped(raw: DataFrame) -> int:
    """Rows the documented zero-DC policy drops (``dc_actual_watts`` not
    positive), counted independently of the derive stage."""
    dc = F.col("dc_actual_watts")
    return decode_registers(raw).where(dc.isNull() | (dc <= 0)).count()


def _prepare_ingest(run: Run) -> dict:
    """Backfill input: raw register rows landed as parquet. Stream input:
    the backfill's first day, cut at seeded points into STREAM_FILES files
    written one after another so the file source replays them in time
    order (it orders by modification time)."""
    spark = run.spark
    root = os.path.join(run.work, "ingest")
    backfill = os.path.join(root, "raw_backfill")
    generate_raw_registers(spark, inverters=INVERTERS, days=BACKFILL_DAYS) \
        .write.parquet(backfill)
    # Spark lands timestamps as INT96 (read here as naive nanoseconds);
    # the stream files keep that physical type.
    day_end = pa.scalar((START_EPOCH + 86400) * 10**9, pa.timestamp("ns"))
    day = pq.read_table(backfill).filter(pc.field("time") < day_end) \
        .sort_by([("time", "ascending"), ("inverter", "ascending")])
    rng = random.Random(run.seed)
    step = day.num_rows / STREAM_FILES
    cuts = [0] + [int(step * (i + rng.uniform(-0.15, 0.15))) for i in range(1, STREAM_FILES)] \
        + [day.num_rows]
    stream = os.path.join(root, "raw_stream")
    os.makedirs(stream)
    mtime = time.time() - STREAM_FILES
    for i, (a, b) in enumerate(zip(cuts, cuts[1:])):
        path = os.path.join(stream, f"part-{i:03d}.parquet")
        pq.write_table(day.slice(a, b - a), path, use_deprecated_int96_timestamps=True)
        os.utime(path, (mtime + i, mtime + i))
    return {"root": root, "backfill": backfill, "stream": stream,
            "rows_backfill": INVERTERS * BACKFILL_DAYS * SAMPLES_PER_DAY,
            "rows_stream": day.num_rows}


def run_ingest(run: Run) -> None:
    spark = run.spark
    inp = _prepare_ingest(run)
    run.ingest.update(rows_backfill=inp["rows_backfill"], rows_stream=inp["rows_stream"])
    for p, phase in _passes(run):
        out = os.path.join(inp["root"], f"pass{p}")
        pspan = run.spans.start("pass", None, pass_no=p)
        sink_b = IdempotentParquetSink(os.path.join(out, "backfill"))
        sink_s = IdempotentParquetSink(os.path.join(out, "stream"))

        b = Op("backfill", "backfill", p, run.spans.start("backfill", pspan), time.time())
        run.ops.append(b)
        cpu = engine_cpu_s(run.jvm_pid)
        t = time.perf_counter()
        try:
            run_batch(spark.read.parquet(inp["backfill"]), sink_b)
        except Exception as exc:  # noqa: BLE001
            b.error = f"{type(exc).__name__}: {exc}"[:300]
        b.action_s = time.perf_counter() - t
        b.cpu_s = engine_cpu_s(run.jvm_pid) - cpu
        b.t1 = time.time()
        _after_op(run, b)
        run.spans.end(b.span, error=b.error)

        s = Op("stream", "stream", p, run.spans.start("stream", pspan), time.time())
        run.ops.append(s)
        cpu = engine_cpu_s(run.jvm_pid)
        t = time.perf_counter()
        query = None
        try:
            query = run_stream(spark, inp["stream"], sink_s, os.path.join(out, "checkpoint"))
            query.awaitTermination()
        except Exception as exc:  # noqa: BLE001
            s.error = f"{type(exc).__name__}: {exc}"[:300]
        s.action_s = time.perf_counter() - t
        s.cpu_s = engine_cpu_s(run.jvm_pid) - cpu
        s.t1 = time.time()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        batches = run.progress.batches(str(query.id)) if query is not None else []
        for bt in batches:
            run.spans.add("batch", s.span, bt["start"],
                          bt["start"] + bt["triggerExecution"] / 1000,
                          batch=bt["batch"], rows=bt["rows"])
        if s.error is None and len(batches) != STREAM_FILES:
            s.error = f"{len(batches)} micro-batches, expected {STREAM_FILES}"
        run.stream_batches.append(batches)
        _after_op(run, s)
        run.spans.end(s.span, error=s.error)
        run.spans.end(pspan)
        run.passes.append({"pass": p, "phase": phase, "ops": [b, s],
                           "wall_s": b.wall_s + s.wall_s})

        if p == 0:
            _check_ingest(run, inp, sink_b, sink_s, b, s)
        if run.traced:
            _ingest_stages(run, inp, b, out)
        shutil.rmtree(out, ignore_errors=True)


def _check_ingest(run, inp, sink_b, sink_s, b: Op, s: Op) -> None:
    """Row accounting for both phases, the landed backfill's pinned hash,
    and stream replay == backfill of the same day."""
    spark = run.spark
    span = run.spans.start("check", None, what="ingest")
    day_end = F.lit(START_EPOCH + 86400).cast("timestamp")
    want = {"backfill": run.expected["ingest"]["backfill"]["hash"]}
    if b.error is None:
        _, want["stream"] = table_hash(sink_b.read_table(spark).where(F.col("time") < day_end))
    for op, sink, raw, rows_in in (
        (b, sink_b, spark.read.parquet(inp["backfill"]), inp["rows_backfill"]),
        (s, sink_s, spark.read.parquet(inp["stream"]), inp["rows_stream"]),
    ):
        if op.error is not None or op.name not in want:
            continue
        written, got = table_hash(sink.read_table(spark))
        dropped = _zero_dc_dropped(raw)
        run.ingest[f"{op.name}_accounting"] = {"rows_in": rows_in, "rows_written": written,
                                              "rows_dropped": dropped}
        if rows_in != written + dropped:
            op.check = f"rows_in {rows_in} != written {written} + dropped {dropped}"
        elif got != want[op.name]:
            op.check = f"hash {got} != {'backfill of the same day' if op is s else 'expected'} " \
                       f"{want[op.name]}"
        else:
            op.check = "ok"
    run.spans.end(span, backfill=b.check, stream=s.check)


def _ingest_stages(run: Run, inp: dict, b: Op, out: str) -> None:
    """Traced runs only: split the backfill into decode, derive and sink by
    forcing each prefix of the pipeline with a noop write."""
    spark = run.spark
    span = run.spans.start("ingest_stages", b.span)
    raw = spark.read.parquet(inp["backfill"])
    t = time.perf_counter()
    decode_registers(raw).write.mode("overwrite").format("noop").save()
    decode_s = time.perf_counter() - t
    t = time.perf_counter()
    transform(raw).write.mode("overwrite").format("noop").save()
    transform_s = time.perf_counter() - t
    files = glob.glob(os.path.join(out, "backfill", "**", "*.parquet"), recursive=True)
    b.layers.update({
        "ingest.decode_s": decode_s,
        "ingest.derive_s": transform_s - decode_s,
        "ingest.sink_s": b.action_s - transform_s,
        "ingest.files_written": len(files),
        "ingest.bytes_written": sum(os.path.getsize(f) for f in files),
    })
    run.spans.end(span, decode_s=decode_s, transform_s=transform_s)
    release_cached(blocking=True)


# Per operation, wall figures are the best of the measured passes (the
# min-of-N that bench.py uses): host interference only ever adds wall time,
# and on a shared 4-core box it comes in bursts that a single pass can fall
# into. Engine CPU figures are the median: CPU time also moves down from
# pass to pass (a garbage collection or a JIT code swap lands in another
# operation), so the least of three is itself an outlier.


def measured(run: Run) -> list[int]:
    """Indexes into ``run.passes`` (and ``run.stream_batches``) of the
    measured passes."""
    return [i for i, p in enumerate(run.passes) if p["phase"] == "measured"]


def per_op(run: Run, names: list[str] | None = None, attr: str = "wall_s") -> dict[str, float]:
    """Each operation's best wall time (``attr="wall_s"``) or median engine
    CPU time (``attr="cpu_s"``) across the measured passes."""
    stat = min if attr == "wall_s" else median
    times: dict[str, list[float]] = {}
    for i in measured(run):
        for op in run.passes[i]["ops"]:
            if names is None or op.name in names:
                times.setdefault(op.name, []).append(getattr(op, attr))
    return {name: stat(ts) for name, ts in times.items()}


def pass_s(run: Run, names: list[str] | None = None, attr: str = "wall_s") -> float:
    """A measured pass: the sum of its operations' figures."""
    return sum(per_op(run, names, attr).values())


def per_batch(run: Run) -> list[float]:
    """Each stream file's best micro-batch time (s) across the measured
    replays."""
    replays = [[b["triggerExecution"] / 1000 for b in run.stream_batches[i]]
               for i in measured(run)]
    return [min(times) for times in zip(*replays)]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p90(xs):
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]
