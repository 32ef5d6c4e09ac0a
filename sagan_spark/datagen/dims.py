"""Enrichment dimension tables (FIXTURES.md §2).

Stand-ins for Sagan's read-side lookup tables (SURVEY.md §2.3):
- role_dim  ↔ GeoIP country lookup   [PUB src/geoip2.c]
- tool_dim  ↔ Zeek/intel indicators  [PUB src/processors/zeek-intel.c]
- risk_ranges ↔ blacklist CIDR lists [PUB src/processors/blacklist.c]

These are tiny (single-digit rows) compile-time constants by
construction, read in three places: match._fold_enrich folds enrich
conditions over them, enrich.attach_dims renders them as CASE lookups (no
join, no broadcast, no exchange: at 100 TB the fact side streams through
one projection), and the pandas oracle looks them up.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import SparkSession

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

# The Spark SQL type of each attribute above, the type a join of the dim
# as a Spark frame gives it: enrich.attach_dims casts its CASE lookups to it.
DIM_TYPES = {
    "origin": "string",
    "trust_level": "int",
    "category": "string",
    "blacklisted": "boolean",
    "risk_tag": "string",
}

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


# The dims as enrich.attach_dims takes them; ``spark`` is unused (the
# dims are constants, not tables) and kept for the callers' call form.
def role_dim(spark: SparkSession) -> pd.DataFrame:
    return ROLE_DIM


def tool_dim(spark: SparkSession) -> pd.DataFrame:
    return TOOL_DIM


def risk_ranges(spark: SparkSession) -> pd.DataFrame:
    return RISK_RANGES

