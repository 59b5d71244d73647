"""Query-CLI contract: the clickhouse-client analogue must list the
registry, run ad-hoc SQL over the fixture views, and run registered
queries by name."""

from __future__ import annotations

from solis_solarman_clickhouse_spark.__main__ import main

from .conftest import SF_DIR


def test_cli_list(capsys):
    assert main(["--list"]) == 0
    out = capsys.readouterr().out
    assert "agg_tpch_q1" in out and "doc_exact_dedup" in out
    assert len(out.splitlines()) > 300


def test_cli_sql(spark, capsys):
    rc = main(
        [
            "--sf-dir", SF_DIR, "--format", "csv",
            "--sql",
            "SELECT r_name FROM region ORDER BY r_name LIMIT 2",
        ]
    )
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "r_name" and out[1] == "AFRICA"


def test_cli_registered_query(spark, capsys):
    rc = main(["--sf-dir", SF_DIR, "--format", "csv", "--query", "sort_topk_global"])
    assert rc == 0
    out = capsys.readouterr().out.splitlines()
    assert out[0] == "o_orderkey,o_totalprice" and len(out) == 11


def test_cli_unknown_query(spark, capsys):
    assert main(["--sf-dir", SF_DIR, "--query", "nope"]) == 2


def test_scalecheck_rejects_truncated_query_map(tmp_path):
    """bench.py's compact final line keeps only the slowest rows that fit
    its length budget, under the same "queries" key a full map uses:
    tools/scalecheck.py must refuse it instead of comparing partial data."""
    import json
    import os
    import subprocess
    import sys

    full = {"sf": 0.1, "n_queries": 3, "queries": {"a": 1.0, "b": 2.0, "c": 3.0}}
    compact = {"sf": 1.0, "n_queries": 3, "queries": {"c": 30.0, "b": 20.0},
               "queries_file": "bench_full.json"}
    paths = []
    for name, doc in (("full.json", full), ("compact.json", compact)):
        paths.append(str(tmp_path / name))
        with open(paths[-1], "w") as fh:
            json.dump(doc, fh)
    tool = os.path.join(os.path.dirname(__file__), "..", "tools", "scalecheck.py")
    res = subprocess.run([sys.executable, tool, *paths], capture_output=True, text=True)
    assert res.returncode != 0
    assert "2 of n_queries=3" in res.stderr, res.stderr
    ok = subprocess.run([sys.executable, tool, paths[0], paths[0]],
                        capture_output=True, text=True)
    assert ok.returncode == 0, ok.stderr
