"""Driver-known rows enter plans only as LocalRelations (session.local_frame).

Contract under test:
- ``local_frame`` yields a ``LocalRelation`` (never a Python-sourced
  ``LogicalRDD``) for empty input and for every column type the engine
  ships from the driver, with the rows intact;
- a single ``query_top_k`` — over the full signatures view and over a fresh
  band_index — plans and executes with no RDD leaf, so none of its
  literal frames launches Python-worker tasks;
- no module of the package calls ``createDataFrame`` outside
  ``local_frame`` (an AST scan), so a list- or RDD-sourced frame cannot
  come back unnoticed.
"""

from __future__ import annotations

import ast
import os

import pytest

import near_duplicate_detection_spark as pkg
from near_duplicate_detection_spark.config import NDDConfig
from near_duplicate_detection_spark.operators import serving_index as si
from near_duplicate_detection_spark.pipeline import NDDPipeline, query_top_k
from near_duplicate_detection_spark.session import local_frame
from near_duplicate_detection_spark.sources.pages import doc_tokens, generate_pages

CFG = NDDConfig(num_buckets=4, band_index_partitions=16)
RDD_LEAVES = ("LogicalRDD", "ExistingRDD")


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_local_frame_empty_is_local_relation(spark):
    df = local_frame(spark, [], "url string, label string")
    assert _optimized(df).startswith("LocalRelation")
    assert df.columns == ["url", "label"]
    assert df.collect() == []


def test_local_frame_types_round_trip(spark):
    ddl = "i int, b bigint, s string, ab array<bigint>, ad array<double>"
    rows = [(1, 2**40, "x", [3, -4], [0.5, 1.0]), (-2, 0, None, [], [2.0])]
    df = local_frame(spark, rows, ddl)
    assert _optimized(df).startswith("LocalRelation")
    assert df.schema.simpleString() == (
        "struct<i:int,b:bigint,s:string,ab:array<bigint>,ad:array<double>>"
    )
    assert [tuple(r) for r in df.collect()] == rows


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("ndd_lf"))
    pipe = NDDPipeline(spark, CFG, base)
    pipe.run(generate_pages(spark, 200))
    return pipe


def _assert_no_rdd_leaf(spark, pipe):
    res = query_top_k(spark, pipe.catalog, CFG, " ".join(doc_tokens(3)[0]), k=5)
    assert res.toPandas().jaccard.max() == 1.0
    for plan in (_optimized(res), _executed(res)):
        assert not any(leaf in plan for leaf in RDD_LEAVES), plan


def test_full_view_query_has_no_rdd_leaf(spark, built):
    assert si.fresh_band_index(built.catalog) is None
    _assert_no_rdd_leaf(spark, built)


def test_band_index_query_has_no_rdd_leaf(spark, built):
    built.build_serving_index()
    assert si.fresh_band_index(built.catalog) is not None
    _assert_no_rdd_leaf(spark, built)


def test_create_dataframe_only_inside_local_frame():
    root = os.path.dirname(pkg.__file__)
    offenders = []

    def scan(node, path, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                scan(child, path, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "createDataFrame"
                and not (path.endswith("session.py") and fn == "local_frame")
            ):
                offenders.append(f"{path}:{child.lineno}")
            scan(child, path, fn)

    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(dirpath, f)
                with open(path) as fh:
                    scan(ast.parse(fh.read()), os.path.relpath(path, root), None)
    assert not offenders, offenders
