"""enrich.attach_dims: the one CASE projection equals the three left joins
it replaced (kept here as the test oracle), rows, column order and types,
on every dim key, unknown and NULL keys and every range edge; and a dim
a join would duplicate rows on is refused."""

from __future__ import annotations

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sagan_spark.datagen import dims
from sagan_spark.engine import enrich


def _attach_dims_joins(alerts, role_dim, tool_dim, risk_ranges):
    """The former attach_dims: broadcast left joins of the dims as Spark
    frames (equi on role, equi on tool, range on risk_key)."""
    spark = alerts.sparkSession
    out = alerts.join(F.broadcast(spark.createDataFrame(role_dim)), on="role", how="left")
    out = out.join(F.broadcast(spark.createDataFrame(tool_dim)), on="tool", how="left")
    rr = spark.createDataFrame(risk_ranges).select("lo", "hi", "risk_tag")
    return out.join(
        F.broadcast(rr),
        on=(F.col("risk_key") >= F.col("lo")) & (F.col("risk_key") <= F.col("hi")),
        how="left",
    ).drop("lo", "hi")


def _alerts(spark):
    """Alert rows shaped like the match stage's output, crossing every
    role and tool key, an unknown one and NULL, with risk_key on every
    range's lo and hi, one off either side of them, and NULL."""
    roles = [*dims.ROLE_DIM["role"], "operator", None]
    tools = [*dims.TOOL_DIM["tool"], "curl", None]
    keys = [None]
    for lo, hi in zip(dims.RISK_RANGES["lo"], dims.RISK_RANGES["hi"]):
        keys += [int(lo) - 1, int(lo), int(lo) + 1, int(hi) - 1, int(hi), int(hi) + 1]
    t0 = dt.datetime(2025, 1, 1)
    n = max(len(roles) * len(tools), len(keys))
    rows = [
        (f"c{i % 7}", i, roles[i % len(roles)], f"text {i}", tools[(i // len(roles)) % len(tools)],
         t0 + dt.timedelta(seconds=i), keys[i % len(keys)], 1000 + i % 3, {"k": str(i)})
        for i in range(n)
    ]
    schema = (
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp_ntz, risk_key long, sid long, extracted map<string,string>"
    )
    return spark.createDataFrame(rows, schema)


def _fields(df) -> list:
    return [(f.name, f.dataType, f.nullable) for f in df.schema]


def test_projection_equals_the_joins(spark):
    alerts = _alerts(spark)
    want = _attach_dims_joins(alerts, dims.ROLE_DIM, dims.TOOL_DIM, dims.RISK_RANGES)
    got = enrich.attach_dims(alerts)
    assert _fields(got) == _fields(want)
    assert got.columns[:2] == ["tool", "role"]
    assert got.columns[-5:] == ["origin", "trust_level", "category", "blacklisted", "risk_tag"]
    assert got.sort("turn_idx").collect() == want.sort("turn_idx").collect()
    # every key, unknown and NULL key, and every range edge was covered
    seen = {(r.role, r.tool, r.risk_tag) for r in got.collect()}
    assert {r for r, _, _ in seen} >= {*dims.ROLE_DIM["role"], "operator", None}
    assert {t for _, t, _ in seen} >= {*dims.TOOL_DIM["tool"], "curl", None}
    assert {g for _, _, g in seen} == {*dims.RISK_RANGES["risk_tag"], None}


def test_dims_call_form_takes_the_constant_frames(spark):
    alerts = _alerts(spark)
    got = enrich.attach_dims(
        alerts, dims.role_dim(spark), dims.tool_dim(spark), dims.risk_ranges(spark)
    )
    assert got.collect() == enrich.attach_dims(alerts).collect()


@pytest.mark.parametrize(
    "which, dim",
    [
        ("role", pd.DataFrame({"role": ["user", "user"], "origin": ["US", "DE"]})),
        ("tool", pd.DataFrame({"tool": ["bash", "sql", "bash"], "category": ["a", "b", "c"]})),
        ("range", pd.DataFrame({"lo": [0, 49], "hi": [49, 60], "risk_tag": ["a", "b"]})),
        ("range", pd.DataFrame({"lo": [0, 10, 100], "hi": [50, 20, 200], "risk_tag": ["a", "b", "c"]})),
    ],
    ids=["duplicate_role", "duplicate_tool", "ranges_share_an_edge", "range_inside_another"],
)
def test_dim_a_join_would_duplicate_rows_on_is_refused(spark, which, dim):
    args = {"role": (dim, dims.TOOL_DIM, dims.RISK_RANGES),
            "tool": (dims.ROLE_DIM, dim, dims.RISK_RANGES),
            "range": (dims.ROLE_DIM, dims.TOOL_DIM, dim)}[which]
    with pytest.raises(ValueError, match="repeats|overlap"):
        enrich.attach_dims(_alerts(spark), *args)
