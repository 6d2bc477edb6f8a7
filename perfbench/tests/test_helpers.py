"""Tests of the benchmark's own helpers; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from canon import digest, normalize  # noqa: E402
from stats import spread, tail_percentile  # noqa: E402
from workloads import SENTINELS, VARIABLES, generate_census  # noqa: E402


def test_tail_keeps_ten_samples_beyond():
    samples = list(range(100, 0, -1))  # 1..100, unsorted
    pct, value = tail_percentile(samples)
    assert (pct, value) == (90.0, 90)
    assert sum(s > value for s in samples) == 10


def test_tail_percentile_follows_sample_count():
    assert tail_percentile(list(range(20))) == (50.0, 9)
    pct, value = tail_percentile(list(range(24)))
    assert value == 13 and pct == pytest.approx(58.33, abs=0.01)
    assert tail_percentile(list(range(11))) == (100.0 / 11, 0)


def test_tail_needs_more_than_ten_samples():
    with pytest.raises(ValueError):
        tail_percentile(list(range(10)))


def test_spread_is_quartile_distance_over_median():
    assert spread([10.0] * 5) == 0.0
    assert spread([1, 2, 3, 4, 5, 6, 7, 8, 9]) == pytest.approx((7.5 - 2.5) / 5)


def test_canon_rounds_to_nine_places_and_keeps_tokens():
    assert normalize(0.1 + 0.2) == normalize(0.3)
    assert normalize(1.0000000004) == normalize(1.0)
    assert normalize(1.000000002) != normalize(1.0)
    assert normalize(float("nan")) == "NaN"
    assert normalize(-0.0) == "-0.0" and normalize(0.0) == 0.0
    assert normalize([1.0, None]) == (1.0, None)


def test_digest_ignores_column_and_row_order():
    a = digest(["b", "a"], [(1, "x"), (2, "y")])
    b = digest(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b
    assert a[:2] == [["a", "b"], 2]


def test_digest_tells_signed_zero_and_values_apart():
    assert digest(["v"], [(0.0,)]) != digest(["v"], [(-0.0,)])
    assert digest(["v"], [(1.0,)]) != digest(["v"], [(1.1,)])
    assert digest(["v"], [(1,)]) != digest(["w"], [(1,)])


def test_census_generator_is_deterministic():
    a = generate_census(7, states=["06", "48"], tracts=50)
    b = generate_census(7, states=["06", "48"], tracts=50)
    c = generate_census(8, states=["06", "48"], tracts=50)
    assert a == b
    assert a["payloads"] != c["payloads"]


def test_census_expectations_match_payloads():
    """Recompute the expected counts from the payloads with the pipeline's
    rules: trimmed numeric strings parse, sentinels and junk become null."""
    gen = generate_census(3, states=["06", "17"], tracts=120)
    nonnull = dict.fromkeys(VARIABLES.values(), 0)
    rows = pop = 0
    geoids = set()
    for payload in gen["payloads"].values():
        header, *body = json.loads(payload)
        for row in body:
            rows += 1
            rec = dict(zip(header, row))
            geoids.add(rec["state"] + rec["county"] + rec["tract"])
            for code, name in VARIABLES.items():
                v = rec[code].strip()
                if v in SENTINELS or not v.lstrip("-").isdigit():
                    continue
                nonnull[name] += 1
                if name == "total_population":
                    pop += int(v)
    exp = gen["expect"]
    assert exp["rows"] == rows == 240 == len(geoids)
    assert exp["nonnull"] == nonnull
    assert exp["pop_sum"] == pop
    assert exp["geometry"] == len(geoids & {g for g, _ in gen["records"]})
    assert 0 < exp["geometry"] < rows
