"""Enrichment — Sagan's GeoIP/CIDR/intel lookups as one projection.

SURVEY.md §2.3: J1 (role_dim ↔ GeoIP [PUB src/geoip2.c]), J2 (risk_ranges ↔
blacklist CIDR [PUB src/processors/blacklist.c], a range lookup), J4
(tool_dim ↔ Zeek intel [PUB src/processors/zeek-intel.c]).

Plan shape at scale: the fact side (alerts) is arbitrarily large and every
dim is a tiny compile-time constant (datagen/dims.py, the same frames
match._fold_enrich and the pandas oracle read). So the lookups are not
joins at all: attach_dims renders each dim as a CASE over its key, SQL
text in one ``selectExpr``. No broadcast, no collect job, no exchange;
the projection codegens with its neighbours. Every enrich condition, J3's
Bluedot reputation snapshot included, is constant-folded into the match
stage (engine/match.py), so this stage filters nothing: it only attaches
attributes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..datagen.dims import DIM_TYPES, RISK_RANGES, ROLE_DIM, TOOL_DIM
from .match import _sql_str, check_sql_literals


def _sql_value(v) -> str:
    """A dim cell as a Spark SQL literal (its column's CAST types it)."""
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, str):
        return _sql_str(v)
    raise TypeError(f"no SQL literal for dim value {v!r}")


def _lookup(dim: pd.DataFrame, key: str) -> list[str]:
    """The non-key columns of ``dim`` as CASE columns on ``key``: a left
    equi-join's attributes. A duplicated key raises, since a join would
    duplicate the fact row."""
    dup = dim[key][dim[key].duplicated()]
    if len(dup):
        raise ValueError(f"dim key {key!r} repeats {dup.iloc[0]!r}: a lookup must be unique")
    out = []
    for col in dim.columns.drop(key):
        whens = " ".join(
            f"WHEN (`{key}` = {_sql_value(k)}) THEN {_sql_value(v)}"
            for k, v in zip(dim[key], dim[col])
        )
        out.append(f"CAST(CASE {whens} END AS {DIM_TYPES[col]}) AS `{col}`")
    return out


def _range_lookup(ranges: pd.DataFrame, key: str, col: str) -> str:
    """``col`` of the range [lo, hi] (both ends inclusive) holding ``key``,
    as one CASE: a left range join's attribute. Overlapping ranges raise,
    since a join would give a key held by two ranges two rows."""
    rows = ranges.sort_values("lo", kind="mergesort")
    lo, hi = rows["lo"].tolist(), rows["hi"].tolist()
    for a, reach in zip(lo[1:], np.maximum.accumulate(hi)):
        if a <= reach:
            raise ValueError(f"ranges overlap at {key} = {a}: a range lookup must be unique")
    whens = " ".join(
        f"WHEN ((`{key}` >= {_sql_value(a)}) AND (`{key}` <= {_sql_value(b)})) THEN {_sql_value(v)}"
        for a, b, v in zip(lo, hi, rows[col])
    )
    return f"CAST(CASE {whens} END AS {DIM_TYPES[col]}) AS `{col}`"


def attach_dims(
    alerts: DataFrame,
    role_dim: pd.DataFrame = ROLE_DIM,
    tool_dim: pd.DataFrame = TOOL_DIM,
    risk_ranges: pd.DataFrame = RISK_RANGES,
) -> DataFrame:
    """Attach enrichment attributes (origin/trust_level, category/
    blacklisted, risk_tag) as one projection of SQL text, never filtering.
    ``risk_key`` was computed JVM-side in the match stage.

    The columns, their order and types are those of the left joins this
    replaces (role_dim on ``role``, then tool_dim on ``tool``, then the
    range join on ``risk_key``): ``tool, role``, the other alert columns,
    then the dims' attributes (tests/test_enrich.py keeps those joins as
    its oracle)."""
    check_sql_literals(alerts.sparkSession)
    rest = [f"`{c}`" for c in alerts.columns if c not in ("tool", "role")]
    return alerts.selectExpr(
        "`tool`",
        "`role`",
        *rest,
        *_lookup(role_dim, "role"),
        *_lookup(tool_dim, "tool"),
        _range_lookup(risk_ranges, "risk_key", "risk_tag"),
    )


def bucketed_range_join(
    fact: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
    bucket_width: float = 1.0,
    how: str = "inner",
) -> DataFrame:
    """Range join as a broadcast EQUI-join on a derived bucket key.

    BroadcastNestedLoopJoin evaluates every (row, range) pair — fine for a
    handful of ranges on alert-sized inputs, but at 100 TB fact scans its
    per-row-per-range cost dominates. Instead: expand each [lo, hi) range
    to the integer buckets it overlaps (ranges are few and static, so the
    expansion is tiny and driver-side-free — a JVM explode), broadcast
    that, hash-join on bucket(value) and re-check the bounds. Same
    semantics, hash-join speed; bucket_width should be ≤ the typical range
    width so ranges expand to O(width/bucket_width) buckets each.
    Measured at sf0.1 on the lineitem quantity-band query (min-of-3 —
    single runs on this VM swing ±20-100%): 5.4s (BNLJ) → ~1.9s
    (BroadcastHashJoin); the one driver-recorded 6.7s was a noise window.
    """
    b = F.lit(float(bucket_width))
    expanded = ranges.select(
        "*",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / b).cast("long"),
                # hi is exclusive: the bucket containing hi is still needed
                # for values in [bucket_start, hi)
                F.floor(F.col(hi_col) / b).cast("long"),
            )
        ).alias("_bucket"),
    )
    keyed = fact.withColumn("_bucket", F.floor(F.col(value_col) / b).cast("long"))
    out = keyed.join(
        F.broadcast(expanded),
        (keyed["_bucket"] == expanded["_bucket"])
        & (F.col(value_col) >= F.col(lo_col))
        & (F.col(value_col) < F.col(hi_col)),
        how,
    )
    return out.drop("_bucket")
