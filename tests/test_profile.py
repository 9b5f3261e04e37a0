"""``profile.run``: one query run split by layer, read from Spark's own
status stores after the action."""

from __future__ import annotations

import json

from distributed_computing_projects_spark import cli, profile
from distributed_computing_projects_spark.plans.inspect import physical_plan
from distributed_computing_projects_spark.queries import load_registry


def test_python_stage_query_profile(spark, sf_dir):
    rec = profile.run(spark, load_registry()["docx_extract_text"].fn, sf_dir)
    assert rec["jobs"] >= 1
    assert rec["tasks"] >= rec["jobs"]
    assert rec["python_run_s"] > 0
    assert rec["executor_cpu_s"] <= rec["executor_run_s"]
    assert "isFinalPlan=true" in rec["final_plan"]


def test_final_plan_shows_byte_coalescing(spark, sf_dir):
    """wordcount's exchanges are not pinned, so AQE coalesces their
    reads; only the plan the action ran shows it."""
    fn = load_registry()["wordcount"].fn
    assert "AQEShuffleRead" not in physical_plan(fn(spark, sf_dir))
    assert "AQEShuffleRead" in profile.run(spark, fn, sf_dir)["final_plan"]


def test_cli_profile_prints_one_record(spark, sf_dir, capsys):
    rc = cli.main(["profile", "wordcount", "--sf-dir", sf_dir], spark=spark)
    assert rc == 0
    rec = json.loads(capsys.readouterr().out)
    assert rec["jobs"] >= 1
    assert rec["executions"][-1]["plan"].startswith("OverwriteByExpression")
