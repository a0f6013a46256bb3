"""Small scalar/util functions not covered elsewhere."""

from __future__ import annotations

import threading
import time

import pytest

from clashroyale_datapipeline_agent_spark.operators.llm_tables import (
    reconcile_column_aliases,
)
from clashroyale_datapipeline_agent_spark.session import run_legs


def test_reconcile_column_aliases(spark):
    df = spark.createDataFrame([("Cycle", 3)], "type string, games int")
    out = reconcile_column_aliases(df, "deck_type", ["deck_type", "type", "my_deck_type"])
    assert out.columns == ["games", "deck_type"] or set(out.columns) == {"games", "deck_type"}
    assert out.collect()[0]["deck_type"] == "Cycle"
    # precedence: first present candidate wins via coalesce order
    df2 = spark.createDataFrame(
        [(None, "FromType", 1)], "deck_type string, type string, games int"
    )
    out2 = reconcile_column_aliases(df2, "deck_type", ["deck_type", "type"])
    assert out2.collect()[0]["deck_type"] == "FromType"


def _props(spark):
    sc = spark.sparkContext
    return (
        sc.getLocalProperty("spark.jobGroup.id"),
        sc.getLocalProperty("spark.job.description"),
    )


def test_run_legs_inherits_group_and_labels_each_leg(spark):
    sc = spark.sparkContext
    sc.setJobGroup("g-run-legs", "caller")
    sc.setJobDescription("caller step")
    try:
        labels = [f"q: leg {i}" for i in range(5)]
        got = run_legs(spark, {lab: (lambda: _props(spark)) for lab in labels})
        assert got == [("g-run-legs", lab) for lab in labels]
        # one leg runs inline and restores the caller's description
        assert run_legs(spark, {"q: only": lambda: _props(spark)}) == [
            ("g-run-legs", "q: only")
        ]
        assert _props(spark) == ("g-run-legs", "caller step")
    finally:
        sc.setJobDescription(None)
        sc.setJobGroup(None, None)


def test_run_legs_order_and_empty(spark):
    assert run_legs(spark, {}) == []
    # the first leg finishes last; results still follow the dict order
    got = run_legs(
        spark,
        {
            "slow": lambda: time.sleep(0.3) or "slow",
            "fast": lambda: "fast",
            "job": lambda: spark.range(7).count(),
        },
    )
    assert got == ["slow", "fast", 7]


def test_run_legs_errors_wait_for_every_leg(spark):
    done = threading.Event()

    def slow():
        time.sleep(0.5)
        done.set()
        return 1

    def fail_key():
        raise KeyError("bad bucket")

    with pytest.raises(KeyError, match="bad bucket"):
        run_legs(spark, {"q: fail": fail_key, "q: slow": slow})
    assert done.is_set()

    def fail_value():
        raise ValueError("bad cell")

    with pytest.raises(RuntimeError, match="2 of 3 legs failed") as ei:
        run_legs(
            spark,
            {"q: a": fail_key, "q: ok": lambda: 1, "q: b": fail_value},
        )
    msg = str(ei.value)
    assert "q: a: KeyError('bad bucket')" in msg
    assert "q: b: ValueError('bad cell')" in msg
    assert isinstance(ei.value.__cause__, KeyError)
    # a single inline leg re-raises its own exception too
    with pytest.raises(ValueError, match="bad cell"):
        run_legs(spark, {"q: one": fail_value})
