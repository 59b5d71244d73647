#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the hashes the benchmark checks
every measured result against.

    python3 perfbench/pin.py

Rows whose registry check is EXACT take their hash from the DuckDB oracle
over the benchmark's fixture (and the Spark result must match it). Rows
checked TOL or SMOKE, or without an oracle, take the Spark result of the
current commit; so does the landed ingest backfill. Each entry records its
source. Needs ``duckdb``; the benchmark itself does not.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

from run import FIXTURE_SF, HERE, ROOT, make_fixture, pin_environment


def main() -> int:
    import duckdb

    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "--short", "HEAD"],
                                capture_output=True, text=True, check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        commit = "unknown"
    base = os.path.join(ROOT, ".perfbench")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix="pin-", dir=base)
    try:
        sf_dir = os.path.join(work, f"sf{FIXTURE_SF}")
        pin_environment(work, len(os.sched_getaffinity(0)), sf_dir, None)
        make_fixture(sf_dir)
        sys.path.insert(0, ROOT)
        import workloads as W
        from solis_solarman_clickhouse_spark.ingest.pipeline import run_batch
        from solis_solarman_clickhouse_spark.ingest.sink import IdempotentParquetSink
        from solis_solarman_clickhouse_spark.session import get_spark
        from tracing import Spans

        spark = get_spark("perfbench-pin")
        con = duckdb.connect()
        for f in os.listdir(sf_dir):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{sf_dir}/{f}')")
        out = {"fixture": {"generator": "tools/gen_sf.py", "sf": float(FIXTURE_SF)},
               "queries": {}, "ingest": {}}
        rc = 0
        for name in W.DASHBOARD + W.CURATION:
            spec = W.REGISTRY[name]
            got = W.result_hash(spec.fn(spark, sf_dir).toPandas())
            W.release_cached()
            if spec.check == "EXACT" and spec.oracle:
                want = W.result_hash(con.execute(spec.oracle).df())
                entry = {"hash": want, "source": "duckdb-oracle"}
                if got != want:
                    print(f"{name}: Spark {got} != oracle {want}", file=sys.stderr)
                    rc = 1
            else:
                why = f"check {spec.check}" + ("" if spec.oracle else ", no oracle")
                entry = {"hash": got, "source": f"spark@{commit} ({why})"}
            out["queries"][name] = entry
            print(name, entry, flush=True)
        run = W.Run(spark, sf_dir, work, 0, 0, Spans("pin"), out,
                    spark.sparkContext._gateway.proc.pid)
        inp = W._prepare_ingest(run)
        sink = IdempotentParquetSink(os.path.join(work, "landed"))
        run_batch(spark.read.parquet(inp["backfill"]), sink)
        out["ingest"]["backfill"] = {"hash": W.table_hash(sink.read_table(spark))[1],
                                     "source": f"spark@{commit}"}
        print("ingest backfill", out["ingest"]["backfill"])
        spark.stop()
        with open(os.path.join(HERE, "expected.json"), "w") as fh:
            json.dump(out, fh, indent=1, sort_keys=True)
            fh.write("\n")
        return rc
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
