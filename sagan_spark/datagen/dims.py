"""Broadcast-enrichment dimension tables (FIXTURES.md §2).

Stand-ins for Sagan's read-side lookup tables (SURVEY.md §2.3):
- role_dim  ↔ GeoIP country lookup   [PUB src/geoip2.c]
- tool_dim  ↔ Zeek/intel indicators  [PUB src/processors/zeek-intel.c]
- risk_ranges ↔ blacklist CIDR lists [PUB src/processors/blacklist.c]

These are tiny (single-digit rows) by construction — the point is the
JOIN SHAPE: always `F.broadcast(dim)`, never a shuffle. At 100 TB the
fact side streams through map-side hash joins with zero exchange.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

ROLE_DIM = pd.DataFrame(
    {
        "role": ["user", "assistant", "tool", "system"],
        "origin": ["US", "DE", "CN", "XX"],
        "trust_level": pd.array([1, 3, 2, 0], dtype="int32"),
    }
)

TOOL_DIM = pd.DataFrame(
    {
        "tool": ["none", "search", "browser", "python", "bash", "sql", "email", "calc"],
        "category": ["none", "net", "net", "exec", "exec", "data", "comms", "data"],
        "blacklisted": [False, False, False, False, True, False, True, False],
    }
)

RISK_RANGES = pd.DataFrame(
    {
        "lo": pd.array([0, 100, 400, 900], dtype="int64"),
        "hi": pd.array([49, 199, 549, 949], dtype="int64"),
        "risk_tag": ["low", "elevated", "high", "critical"],
    }
)

# J3: Bluedot reputation snapshot ([PUB src/processors/bluedot.c] queries a
# live reputation API; the batch analogue is a periodically-refreshed static
# dim). Keyed on tool (the indicator column of this payload transposition).
BLUEDOT_DIM = pd.DataFrame(
    {
        "tool": ["none", "search", "browser", "python", "bash", "sql", "email", "calc"],
        "bd_category": ["ok", "ok", "susp", "ok", "mal", "ok", "susp", "ok"],
        "bd_score": pd.array([0, 5, 55, 10, 90, 5, 60, 0], dtype="int32"),
    }
)


def role_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ROLE_DIM)


def tool_dim(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TOOL_DIM)


def risk_ranges(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(RISK_RANGES)

