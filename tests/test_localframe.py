"""Conversion-fidelity pins for ``localframe.local_frame`` (VERDICT
r13 item 7): the Arrow LocalRelation fast path must return exactly
what the classic ``spark.createDataFrame(list, schema)`` path returns
— None-in-long, tz-aware timestamps, nested arrays, booleans — and an
exhausted-iterator input must never silently land as an empty frame
(the fallback hole ADVICE r13 flagged)."""

from __future__ import annotations

import datetime
import math

from pyspark.sql import functions as F

from fabric_claims_spark.localframe import local_frame

_UTC = datetime.timezone.utc


def test_local_frame_matches_classic_path_values(spark):
    rows = [
        (1, None, 1.5, True, datetime.datetime(2024, 7, 1, 2, 0, tzinfo=_UTC),
         [1.0, 2.0], "a"),
        (None, 7, -0.25, None, None, [], None),
        (-(2**62), 0, -0.0, False,
         datetime.datetime(1999, 12, 31, 23, 59, 59, tzinfo=_UTC),
         [3.25, None], "äöü"),
    ]
    schema = (
        "a long, b long, c double, d boolean, e timestamp, "
        "f array<double>, g string"
    )
    got = local_frame(spark, rows, schema).collect()
    want = spark.createDataFrame(rows, schema).collect()
    assert sorted(map(tuple, got), key=str) == sorted(
        map(tuple, want), key=str
    )
    assert local_frame(spark, rows, schema).schema == spark.createDataFrame(
        rows, schema
    ).schema


def test_local_frame_keeps_float_nan(spark):
    """A float NaN stays NaN and a None stays NULL, at the top level
    and nested in arrays, maps and structs: pandas object columns
    cannot tell NaN from missing, so the Arrow path alone would land
    every NaN here as NULL, unlike the classic path."""
    nan = float("nan")
    rows = [
        (nan, [1.0, nan], {"a": nan}, (nan, 1)),
        (None, [None], {"a": None}, (None, 2)),
    ]
    schema = (
        "x double, v array<double>, m map<string,double>, "
        "s struct<a:double,b:long>"
    )
    got = sorted(
        local_frame(spark, rows, schema).collect(), key=lambda r: r["s"]["b"]
    )
    assert math.isnan(got[0]["x"]) and math.isnan(got[0]["v"][1])
    assert math.isnan(got[0]["m"]["a"]) and math.isnan(got[0]["s"]["a"])
    assert got[1]["x"] is None and got[1]["v"] == [None]
    assert got[1]["m"]["a"] is None and got[1]["s"]["a"] is None


def test_local_frame_lands_as_local_relation(spark):
    df = local_frame(spark, [(1, "x")], "a long, b string")
    opt = df._jdf.queryExecution().optimizedPlan()
    assert "LocalRelation" in opt.getClass().getSimpleName()


def test_local_frame_empty_propagates_empty_relation(spark):
    empty = local_frame(spark, [], "doc_id long")
    # the empty frame itself must fold to an (empty) LocalRelation —
    # the pandas path alone lands a LogicalRDD, which blocks
    # PropagateEmptyRelation (measured r14: a SortMergeJoin LeftAnti
    # + two exchanges per action on every fresh-store tombstone read)
    assert (
        "LocalRelation"
        in empty._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    )
    assert empty.schema.simpleString() == "struct<doc_id:bigint>"
    big = local_frame(spark, [(1,), (2,)], "doc_id long")
    joined = big.join(empty, "doc_id", "left_anti")
    plan = joined._jdf.queryExecution().optimizedPlan().toString()
    # PropagateEmptyRelation must eliminate the anti-join entirely
    assert "Join" not in plan
    assert [r["doc_id"] for r in joined.collect()] == [1, 2]


def test_local_frame_consumes_generator_exactly_once(spark):
    """A generator input must yield ALL its rows even when the Arrow
    path fails mid-way — the old fallback re-iterated the consumed
    generator and silently produced an empty frame."""
    rows_gen = ((i, f"r{i}") for i in range(5))
    got = local_frame(spark, rows_gen, "a long, b string")
    assert got.count() == 5
    # and a genuinely unrepresentable-for-the-schema arity error still
    # surfaces rows through the classic path, not an empty frame
    bad_gen = ((i,) for i in range(3))  # arity 1 != schema arity 2

    try:
        n = local_frame(spark, bad_gen, "a long, b string").count()
    except Exception:
        n = None  # classic path may legitimately raise on bad arity
    assert n != 0  # never a silent empty frame


def test_local_frame_in_expression_pipeline(spark):
    df = local_frame(
        spark,
        [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0])],
        "vec_id long, v array<double>",
    )
    got = df.select(
        "vec_id",
        F.aggregate("v", F.lit(0.0), lambda a, x: a + x).alias("s"),
    ).collect()
    assert {(r["vec_id"], r["s"]) for r in got} == {(1, 6.0), (2, 15.0)}
