"""Driver-contract shape checks for __spark_entry__.py."""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, "/root/repo")

import __spark_entry__ as entry  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_SMALL = "/root/testdata/sf0.001"


def test_registry_shape():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) >= 45
    assert set(oracles) <= set(qs), "oracle without a query"
    assert all(callable(f) for f in qs.values())
    assert all(isinstance(s, str) and "SELECT" in s.upper() for s in oracles.values())
    # rows-only entries are exactly the non-SQL-expressible ones
    rows_only = set(qs) - set(oracles)
    assert rows_only == {
        "cti_mentions", "cti_entities", "cti_triples", "cti_entity_pagerank",
        "word2vec_vectors", "media_features", "dnrti_eval", "malwaredb_eval",
    }


def test_one_query_runs_at_smallest_sf(spark):
    df = entry.queries()["pricing_summary"](spark, SF_SMALL)
    rows = df.collect()
    assert rows and set(df.columns) >= {"l_returnflag", "sum_qty", "count_order"}


def test_contract_ships_package_to_a_session_it_did_not_build(tmp_path):
    """On a plain session driven from another directory, whose workers
    cannot import the package from their cwd, the first query callable
    ships it, and a later `entry` runs without shipping it again."""
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
import __spark_entry__ as entry
spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
sc, shipped = spark.sparkContext, []
add = sc.addPyFile
sc.addPyFile = lambda path: (shipped.append(path), add(path))
print("ROWS", entry.queries()["media_features"](spark, {SF_SMALL!r}).count())
entry.entry(spark)
print("SHIPPED", len(shipped))
spark.stop()
"""
    env = dict(os.environ, TMPDIR=str(tmp_path))  # the zip's directory
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in env.get("PYTHONPATH", "").split(os.pathsep)
        if p and os.path.abspath(p) != REPO)
    run = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=900)
    assert run.returncode == 0, run.stderr[-4000:]
    assert run.stdout.splitlines()[-2:] == ["ROWS 120", "SHIPPED 1"], run.stdout
    assert not list(tmp_path.glob("ner4cti_spark_*")), "the zip's directory outlived the process"
