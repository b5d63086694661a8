"""merge_upsert idempotency (ON CONFLICT parity) + CLI orchestrator."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

from ra2_datalake_linaresjoan_spark.sources.upsert import merge_upsert


def test_merge_upsert_modes(spark, tmp_path):
    p = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "old"), (2, "keep")], "id int, v string")
    merge_upsert(spark, p, base, ["id"])
    # upsert: new wins, new keys insert
    merge_upsert(spark, p, spark.createDataFrame([(1, "new"), (3, "ins")], "id int, v string"), ["id"], mode="upsert")
    rows = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert rows == {1: "new", 2: "keep", 3: "ins"}
    # ignore: existing wins (DO NOTHING), new keys still insert
    merge_upsert(spark, p, spark.createDataFrame([(2, "clobber"), (4, "ins2")], "id int, v string"), ["id"], mode="ignore")
    rows = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert rows == {1: "new", 2: "keep", 3: "ins", 4: "ins2"}
    # idempotent: re-applying the same updates changes nothing
    merge_upsert(spark, p, spark.createDataFrame([(4, "ins2")], "id int, v string"), ["id"], mode="ignore")
    assert spark.read.parquet(p).count() == 4


def test_cli_end_to_end(spark, tmp_path):
    # stage bronze parquet from the pipeline fixtures
    from tests.test_pipeline_gold import EVENTS, EVENT_COLS, MARKETS, MARKET_COLS, SERIES, SERIES_COLS

    base = tmp_path / "lake"
    spark.createDataFrame(MARKETS, MARKET_COLS).write.parquet(str(base / "bronze" / "markets"))
    spark.createDataFrame(EVENTS, EVENT_COLS).write.parquet(str(base / "bronze" / "events"))
    spark.createDataFrame(SERIES, SERIES_COLS).write.parquet(str(base / "bronze" / "series"))

    report = tmp_path / "report.json"
    proc = subprocess.run(
        [sys.executable, "-m", "ra2_datalake_linaresjoan_spark.cli",
         "--base", str(base), "--report", str(report)],
        capture_output=True, text=True, timeout=300,
        env={**os.environ, "SPARK_GRAFT_CPUS": "4"},
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    doc = json.loads(report.read_text())
    assert all(v == 0 for v in doc["validation"]["orphans"].values())
    assert doc["validation"]["counts"]["dim_videojuego"] == 13
    assert {s["gaming_type"] for s in doc["summary"]} == {"DOTA", "Valorant", "CS:GO"}
    assert (base / "gold" / "fact_metricas_gaming").exists()


def test_sql_surface(spark, sf_dir):
    from ra2_datalake_linaresjoan_spark.sql_surface import register_views

    registered = register_views(spark, sf_dir)
    assert "lineitem" in registered and "events" in registered
    n = spark.sql("SELECT count(*) AS n FROM lineitem").collect()[0]["n"]
    assert n == spark.read.parquet(f"{sf_dir}/lineitem.parquet").count()
    # the events view reads ts with its declared TIMESTAMP type
    r = spark.sql("SELECT min(ts) AS t FROM events").collect()[0]
    assert r["t"].year == 2024


def test_cli_query_runner(spark, monkeypatch, capsys):
    """`--query list` enumerates the registry; `--query <name>` runs one
    query against --sf-dir and prints it (the user-facing front door to
    every registered operator)."""
    import sys

    from ra2_datalake_linaresjoan_spark import cli

    monkeypatch.setattr(sys, "argv", ["cli", "--query", "list"])
    cli.main()
    names = capsys.readouterr().out.split()
    assert "pricing_summary" in names and len(names) >= 90

    monkeypatch.setattr(
        sys,
        "argv",
        ["cli", "--query", "domain_mixture", "--sf-dir", "/root/testdata/sf0.001"],
    )
    cli.main()
    assert "mix_weight" in capsys.readouterr().out


def test_merge_upsert_deterministic_on_intra_batch_duplicates(
    spark, tmp_path
):
    """An updates batch carrying DUPLICATE keys must resolve to the same
    survivor on every run — the whole-row-fingerprint tiebreak contract
    that makes foreach-sink micro-batch re-delivery idempotent. Without
    it the row_number tie falls to partition order and can flip."""
    p = str(tmp_path / "dup_batch")
    survivors = set()
    for run in range(3):
        if os.path.exists(p):
            shutil.rmtree(p)
        dup = spark.createDataFrame(
            [(1, "a"), (1, "b"), (2, "z")], ["id", "v"]
        ).repartition(4 if run % 2 else 2)  # vary partitioning on purpose
        merge_upsert(spark, p, dup, ["id"])
        got = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
        assert set(got) == {1, 2} and got[2] == "z"
        survivors.add(got[1])
    assert len(survivors) == 1, f"survivor flipped across runs: {survivors}"


def test_merge_upsert_recovers_table_from_backup(spark, tmp_path):
    """Crash-window recovery: if a previous run died between the two swap
    renames (table at <path>.bak, nothing at <path>), the next
    merge_upsert restores the backup BEFORE merging — the table is never
    treated as new and silently reset to the updates batch alone."""
    p = str(tmp_path / "crashy")
    merge_upsert(
        spark,
        p,
        spark.createDataFrame([(1, "keep"), (2, "old")], ["id", "v"]),
        ["id"],
    )
    # simulate the crash window: table renamed to .bak, nothing at path
    os.rename(p, p + ".bak")
    assert not os.path.exists(p)
    merge_upsert(
        spark, p, spark.createDataFrame([(2, "new")], ["id", "v"]), ["id"]
    )
    got = {r["id"]: r["v"] for r in spark.read.parquet(p).collect()}
    assert got == {1: "keep", 2: "new"}  # prior rows survived the crash
    assert not os.path.exists(p + ".bak")
