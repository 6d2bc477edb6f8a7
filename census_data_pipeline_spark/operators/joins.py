"""Join operators (reference: src/census_pipeline.py:237-277,
examples/multi_state_comparison.py:64, src/geography.py:99-136).

- J1 geometry attribute join: boundaries ⟕ attributes, equi on GEOID,
  keeping ALL attribute rows (pandas ``how="right"``,
  census_pipeline.py:270-272) — unmatched attributes carry NULL geometry.
- J3 dimension lookup: the reference maps FIPS -> name through a Python
  dict; the engine broadcast-hash-joins a small dimension DataFrame —
  same semantics, no driver-side data, no shuffle of the fact side.
- J4 scalar FIPS resolution with 3 fallbacks (name, abbrev, code).

Scale: dims (52 states, 25 nations) are always broadcast; the fact side is
never shuffled for a lookup. Boundary tables (~85k tracts) are broadcast-
sized too; at 100 TB of attributes the join stays a broadcast hash join and
the attribute scan streams through map tasks untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from census_data_pipeline_spark.sources import catalog

# State FIPS -> (name, abbrev); reference: src/geography.py:20-37,119-131.
STATE_FIPS: dict[str, tuple[str, str]] = {
    "01": ("Alabama", "AL"), "02": ("Alaska", "AK"), "04": ("Arizona", "AZ"),
    "05": ("Arkansas", "AR"), "06": ("California", "CA"), "08": ("Colorado", "CO"),
    "09": ("Connecticut", "CT"), "10": ("Delaware", "DE"), "11": ("District of Columbia", "DC"),
    "12": ("Florida", "FL"), "13": ("Georgia", "GA"), "15": ("Hawaii", "HI"),
    "16": ("Idaho", "ID"), "17": ("Illinois", "IL"), "18": ("Indiana", "IN"),
    "19": ("Iowa", "IA"), "20": ("Kansas", "KS"), "21": ("Kentucky", "KY"),
    "22": ("Louisiana", "LA"), "23": ("Maine", "ME"), "24": ("Maryland", "MD"),
    "25": ("Massachusetts", "MA"), "26": ("Michigan", "MI"), "27": ("Minnesota", "MN"),
    "28": ("Mississippi", "MS"), "29": ("Missouri", "MO"), "30": ("Montana", "MT"),
    "31": ("Nebraska", "NE"), "32": ("Nevada", "NV"), "33": ("New Hampshire", "NH"),
    "34": ("New Jersey", "NJ"), "35": ("New Mexico", "NM"), "36": ("New York", "NY"),
    "37": ("North Carolina", "NC"), "38": ("North Dakota", "ND"), "39": ("Ohio", "OH"),
    "40": ("Oklahoma", "OK"), "41": ("Oregon", "OR"), "42": ("Pennsylvania", "PA"),
    "44": ("Rhode Island", "RI"), "45": ("South Carolina", "SC"), "46": ("South Dakota", "SD"),
    "47": ("Tennessee", "TN"), "48": ("Texas", "TX"), "49": ("Utah", "UT"),
    "50": ("Vermont", "VT"), "51": ("Virginia", "VA"), "53": ("Washington", "WA"),
    "54": ("West Virginia", "WV"), "55": ("Wisconsin", "WI"), "56": ("Wyoming", "WY"),
    "72": ("Puerto Rico", "PR"),
}


def states_dim(spark: SparkSession) -> DataFrame:
    """The FIPS lookup dicts (reference: src/geography.py:20-37) as a
    broadcast-able dimension table (FIXTURES.md §B states_dim shape)."""
    schema = T.StructType([
        T.StructField(c, T.StringType()) for c in ("fips", "name", "abbrev")
    ])
    return catalog.local_frame(spark, schema, [
        list(STATE_FIPS),
        [name for name, _ in STATE_FIPS.values()],
        [ab for _, ab in STATE_FIPS.values()],
    ])


def dim_lookup(
    fact: DataFrame,
    dim: DataFrame,
    on,
    how: str = "left",
) -> DataFrame:
    """J3: broadcast dimension join (reference:
    examples/multi_state_comparison.py:64 ``.map(midwest_states)``)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def join_boundaries(
    attributes: DataFrame,
    boundaries: DataFrame,
    on: str = "GEOID",
    geometry_col: str = "geometry",
) -> DataFrame:
    """J1: geometry attribute join (reference:
    src/census_pipeline.py:237-277; merge at 270-272, how="right").

    Keeps every attribute row; NULL geometry where no boundary matches.
    Boundaries are deduped on the key first — the reference does not
    enforce GEOID uniqueness and a dup key would fan out attribute rows
    (SURVEY.md §7.3 risk). A boundary frame ``catalog.local_frame``
    built whose key is already unique (checked on its Arrow table, a
    NULL key counting as one value) skips that dedup and its shuffle;
    every other boundary frame keeps it.
    """
    b = boundaries.select(on, geometry_col)
    table = catalog.local_table(boundaries)
    if (table is None or on not in table.column_names
            or _has_duplicates(table.column(on))):
        b = b.dropDuplicates([on])
    return b.join(attributes, on=on, how="right")


def _has_duplicates(keys) -> bool:
    import pyarrow.compute as pc

    return pc.count_distinct(keys, mode="all").as_py() < len(keys)


def resolve_state_fips(state: str) -> str:
    """J4 scalar resolution (reference: src/geography.py:99-136):
    accepts a FIPS code, a 2-letter abbreviation, or a full name."""
    s = state.strip()
    if s in STATE_FIPS:
        return s
    if s.isdigit() and s.zfill(2) in STATE_FIPS:
        return s.zfill(2)
    upper, lower = s.upper(), s.lower()
    for fips, (name, ab) in STATE_FIPS.items():
        if ab == upper or name.lower() == lower:
            return fips
    raise ValueError(f"cannot resolve state: {state!r}")
