#!/usr/bin/env python3
"""spark-solis benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload queries|ingest \\
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --explain QUERY      # layer breakdown of one query

Run from the root of a checkout. The fixture is generated into a scratch
directory under ``.perfbench/`` (removed at exit) by ``tools/gen_sf.py``
with its fixed generator seed; ``--seed`` sets the query order of every
warm pass and the stream replay's file split. Prints a human-readable report
and, as the last stdout line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``). See
perfbench/README.md for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("queries", "ingest")
FIXTURE_SF = "0.01"
# Session configs whose drift changes the numbers (the keys bench.py records).
FINGERPRINT_KEYS = [
    "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
    "spark.driver.memory", "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold", "spark.master",
    "spark.sql.adaptive.coalescePartitions.minPartitionSize",
]
# The bounded metrics. Wall-time figures (pass_s, op_mean_s, op_p90_s, the
# cold pass) are printed in the report but not bounded. On a shared 4-core
# host, the spread of pass_s over the seeds went from 0.09 of the median in
# a calm hour to 0.26-0.38 in a busy one, past the largest bound allowed
# (0.25): steal and sibling-thread load from other tenants stretch every
# operation of a run alike. Engine CPU time does not count steal, and its
# spread stayed within 0.07-0.15; see perfbench/README.md.
END_TO_END = {"setup_s": "s", "pass_cpu_s": "s"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--explain", metavar="QUERY")
    args = ap.parse_args()
    if (args.workload is None) == (args.explain is None):
        ap.error("give exactly one of --workload or --explain")
    if args.explain:
        args.workload, args.trace, args.seconds = "explain", 1, 0
    for need in ("solis_solarman_clickhouse_spark/__init__.py", "tools/gen_sf.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found; run from a full checkout", file=sys.stderr)
            return 2
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="work-", dir=base)
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def pin_environment(work: str, cpus: int, sf_dir: str, evdir: str | None) -> None:
    """Everything the run writes stays under ``work``; session sizing comes
    from the pinned core count and fixture, never from the caller's shell."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=sf_dir, TMPDIR=tmp,
                      SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    for knob in ("SPARK_GRAFT_ADVISORY_MB", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(knob, None)
    tempfile.tempdir = None
    submit = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
    if evdir:  # event logging only in the traced run, from the launch environment
        submit += ["--conf", "spark.eventLog.enabled=true",
                   "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{evdir}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])
    os.chdir(work)  # spark-warehouse/, metastore_db/ and derby.log land here


def make_fixture(sf_dir: str) -> None:
    subprocess.run([sys.executable, os.path.join(ROOT, "tools", "gen_sf.py"), FIXTURE_SF,
                    sf_dir], check=True, stdout=subprocess.DEVNULL)


def run(args, work: str) -> int:
    cpus = len(os.sched_getaffinity(0))
    sf_dir = os.path.join(work, f"sf{FIXTURE_SF}")
    evdir = os.path.join(work, "eventlog") if args.trace else None
    if evdir:
        os.makedirs(evdir)
    pin_environment(work, cpus, sf_dir, evdir)
    make_fixture(sf_dir)
    with open(os.path.join(HERE, "expected.json")) as fh:
        expected = json.load(fh)

    # ---- set-up: imports, session, then one warm-up job for the JVM's task
    # path; on ``queries`` it runs through a Python stage, which starts the
    # Python workers its Arrow query uses (``ingest`` has no Python stage)
    t_setup = time.perf_counter()
    sys.path.insert(0, ROOT)
    import workloads as W
    from layers import PER_LAYER, layer_report, op_layers
    from solis_solarman_clickhouse_spark.session import get_spark
    from tracing import EventLog, PlanProbe, Spans, StreamProgress, peak_rss_mb

    if args.explain and args.explain not in W.DASHBOARD + W.CURATION:
        print(f"perfbench: {args.explain} is not in the query mixes", file=sys.stderr)
        return 2

    spark = get_spark("perfbench")
    jvm = spark.sparkContext._gateway.proc
    try:
        start_s = time.perf_counter() - t_setup
        t = time.perf_counter()
        warm = spark.range(cpus).repartition(cpus)
        if args.workload != "ingest":
            warm = warm.mapInPandas(lambda it: it, "id long")
        warm.write.mode("overwrite").format("noop").save()
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup

        run_id = f"{args.workload}-seed{args.seed}-{int(time.time())}"
        r = W.Run(spark, sf_dir, work, args.seed, args.seconds, Spans(run_id), expected, jvm.pid)
        r.spans.add("setup", None, time.time() - setup_s, time.time(),
                    start_s=start_s, warmup_s=warmup_s)
        if args.trace:
            r.probe = PlanProbe(spark)
        if args.workload == "ingest":
            r.progress = StreamProgress()
            spark.streams.addListener(r.progress)
            W.run_ingest(r)
        else:
            W.run_queries(r, [args.explain] if args.explain else W.DASHBOARD + W.CURATION)
        r.rss_mb = peak_rss_mb(jvm.pid)
        fingerprint = {
            "configs": {k: spark.conf.get(k, None) for k in FINGERPRINT_KEYS},
            "pyspark": spark.version,
            "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
            "cpus": cpus, "fixture_sf": FIXTURE_SF, "seed": args.seed,
            "seconds": args.seconds, "workload": args.workload,
        }
    finally:
        _stop(spark, jvm)

    e2e, n_lat = _end_to_end(r, setup_s)
    attempted = len(r.ops)
    failed = sum(op.failed for op in r.ops)
    print(f"# perfbench {args.workload} seed={args.seed} trace={args.trace} "
          f"cpus={cpus} fixture=sf{FIXTURE_SF}")
    print(f"# fingerprint {json.dumps(fingerprint, sort_keys=True)}")
    for op in r.ops:
        if op.failed:
            print(f"# FAILED {op.name} pass {op.pass_no}: {op.error or op.check}")
    _print_report(args.workload, r, e2e, n_lat, failed / attempted)
    if args.trace:
        op_layers(r, EventLog(evdir), cpus)
        metrics, table = layer_report(r, cpus, e2e, start_s, warmup_s)
        for line in table:
            print(line)
        traces = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{run_id}.json")
        r.spans.dump(path, {"fingerprint": fingerprint, "end_to_end": e2e,
                            "per_layer": metrics})
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
        units = PER_LAYER
    else:
        metrics, units = {k: e2e[k] for k in END_TO_END}, END_TO_END
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def _stop(spark, jvm) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes),
    then wait for it and for the Python workers it started."""
    from tracing import descendants

    workers = descendants(jvm.pid)
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    jvm.stdin.close()
    try:
        jvm.wait(timeout=60)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in workers):
        time.sleep(0.1)


def _end_to_end(r, setup_s: float) -> tuple[dict, int]:
    """The end-to-end metrics and the sample count of the op percentiles.
    Latency percentiles are over the interactive operations' best measured
    times: dashboard queries on ``queries``, stream files' micro-batches on
    ``ingest``."""
    import workloads as W

    if r.stream_batches:
        lat = W.per_batch(r)
    else:
        lat = list(W.per_op(r, W.DASHBOARD).values())
    return {
        "setup_s": setup_s,
        "first_pass_s": r.passes[0]["wall_s"],
        "pass_s": W.pass_s(r),
        "pass_cpu_s": W.pass_s(r, attr="cpu_s"),
        "op_mean_s": sum(lat) / len(lat),
        "op_p50_s": W.median(lat),
        "op_p90_s": W.p90(lat),
    }, len(lat)


def _print_report(workload: str, r, e2e: dict, n_lat: int, failed_frac: float) -> None:
    """Every end-to-end metric by its name in the benchmark's README, with
    unit and sample count. On ``queries`` the dashboard and curation
    figures come from their own operations within the shared passes."""
    import workloads as W

    n_warm = len(W.measured(r))
    rows = [("setup_s", e2e["setup_s"], "s", 1),
            ("failed_frac", failed_frac, "ratio", len(r.ops)),
            ("peak_rss_mb", r.rss_mb, "MB", 1),
            (f"{workload}_first_pass_s", e2e["first_pass_s"], "s", 1),
            (f"{workload}_pass_s", e2e["pass_s"], "s", n_warm),
            (f"{workload}_pass_cpu_s", e2e["pass_cpu_s"], "s", n_warm),
            (f"{workload}_op_mean_s", e2e["op_mean_s"], "s", n_lat),
            (f"{workload}_op_p90_s", e2e["op_p90_s"], "s", n_lat)]
    if workload == "ingest":
        rows += [
            ("ingest_rows_per_s", r.ingest["rows_backfill"] / W.pass_s(r, ["backfill"]),
             "rows/s", n_warm),
            ("stream_batch_p50_s", e2e["op_p50_s"], "s", n_lat),
            ("stream_batch_p90_s", e2e["op_p90_s"], "s", n_lat),
            ("stream_rows_per_s", r.ingest["rows_stream"] / W.pass_s(r, ["stream"]),
             "rows/s", n_warm),
        ]
    elif workload == "queries":
        for mix, names in (("dashboard", W.DASHBOARD), ("curation", W.CURATION)):
            lat = list(W.per_op(r, names).values())
            first = sum(o.wall_s for o in r.passes[0]["ops"] if o.name in names)
            rows += [(f"{mix}_first_pass_s", first, "s", 1),
                     (f"{mix}_pass_s", W.pass_s(r, names), "s", n_warm),
                     (f"{mix}_p50_s", W.median(lat), "s", len(lat)),
                     (f"{mix}_p90_s", W.p90(lat), "s", len(lat))]
    print(f"{'metric':<28}{'value':>16}  {'unit':<8}{'samples':>8}")
    for name, value, unit, n in rows:
        print(f"{name:<28}{value:>16.6g}  {unit:<8}{n:>8}")
    for attr, what in (("wall_s", "wall time"), ("cpu_s", "engine CPU time")):
        print(f"# {what} (s) of each operation per pass: cold | warm-up | measured")
        for name in dict.fromkeys(op.name for op in r.ops):
            cells = {"cold": [], "warmup": [], "measured": []}
            for p in r.passes:
                cells[p["phase"]] += [f"{getattr(o, attr):.3f}" for o in p["ops"] if o.name == name]
            print(f"# {name:<28}" + " | ".join(" ".join(c) for c in cells.values()))


if __name__ == "__main__":
    sys.exit(main())
