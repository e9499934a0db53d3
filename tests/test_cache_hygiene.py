"""Cache-hygiene regression: operators that materialize intermediates
must not leave CacheManager residue behind.

persist() on a DataFrame registers the plan in the session-wide
CacheManager and stays there until someone calls unpersist() — in a
long-lived session every operator call would pin another copy of its
input. The repo's rule (SCALE.md "localCheckpoint discipline") is a
localCheckpoint instead, whose blocks are reclaimed with the frame.
This test calls every formerly-leaking operator and asserts the
CacheManager is empty afterwards. The last two tests fail on any engine
localCheckpoint that bypasses ``operators/pin.pin``, the audits' hook,
and on any engine ``writeStream`` outside
``streaming/events.run_available_now``, the one stream run path.
"""

from __future__ import annotations

import ast
from pathlib import Path

import etl_his_spark
from etl_his_spark.operators.dedup_approx import (
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_candidates,
    simhash_pairs,
)
from etl_his_spark.plans.his_pipeline import run_pipeline
from etl_his_spark.sources.readers import read_table
from tests.his_fixtures import his_tables


def _cache_empty(spark) -> bool:
    return bool(
        spark._jsparkSession.sharedState().cacheManager().isEmpty()
    )


def test_dedup_family_leaves_no_cache(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(200)
    jaccard_pairs(docs, 0.5).count()
    jaccard_pairs_prefix(docs, 0.5).count()
    minhash_lsh_candidates(docs).count()
    simhash_pairs(docs, 3).count()
    assert _cache_empty(spark)


def test_his_pipeline_leaves_no_cache(spark):
    tables = his_tables(spark)
    outputs = run_pipeline(tables)
    for df in outputs.values():
        df.count()
    assert _cache_empty(spark)


def test_every_engine_pin_goes_through_pin():
    pkg = Path(etl_his_spark.__file__).parent
    direct = [
        f"{path.relative_to(pkg)}:{node.lineno}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "operators" / "pin.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "localCheckpoint"
    ]
    assert direct == [], f"pin through operators.pin.pin: {direct}"


def test_every_engine_stream_runs_through_run_available_now():
    pkg = Path(etl_his_spark.__file__).parent
    sites = []
    for path in sorted(pkg.rglob("*.py")):
        tree = ast.parse(path.read_text())
        allowed = set()
        if path == pkg / "streaming" / "events.py":
            run = next(
                n for n in tree.body
                if isinstance(n, ast.FunctionDef)
                and n.name == "run_available_now"
            )
            allowed = {id(node) for node in ast.walk(run)}
        sites += [
            f"{path.relative_to(pkg)}:{node.lineno}"
            for node in ast.walk(tree)
            if isinstance(node, ast.Attribute)
            and node.attr == "writeStream"
            and id(node) not in allowed
        ]
    assert sites == [], f"run streams through run_available_now: {sites}"
