"""Tier D edge semantics the sf fixtures can't reach: the driver testdata
has events on every (type, day), so q_gapfill's zero-fill / LOCF / leading-
null paths and x_scd2's single-event users need synthetic gaps.  x_zorder's
Morton interleave is checked bit by bit on DuckDB, the oracle's engine."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierd import (
    _morton_sql,
    q_gapfill,
    x_scd2,
)


def _events_dir(spark, tmp_path, rows):
    sf_dir = str(tmp_path / "sfsynth")
    os.makedirs(sf_dir)
    df = spark.createDataFrame(
        rows, "event_id long, ts_s long, user_id long, event_type string, value double, props string"
    ).select(
        "event_id",
        F.timestamp_seconds(F.col("ts_s")).alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )
    df.write.parquet(os.path.join(sf_dir, "events.parquet"))
    return sf_dir


DAY = 86_400
T0 = 1_704_067_200  # 2024-01-01T00:00:00Z


def test_gapfill_zero_fills_and_carries_forward(spark, tmp_path):
    # type 'a': day0 sum=5, day1 MISSING, day3 sum=7  (span day0..day3)
    # type 'b': first event only on day2 -> leading days null-filled
    rows = [
        (1, T0 + 0 * DAY, 1, "a", 5.0, "{}"),
        (2, T0 + 3 * DAY, 1, "a", 7.0, "{}"),
        (3, T0 + 2 * DAY, 1, "b", 9.0, "{}"),
    ]
    sf_dir = _events_dir(spark, tmp_path, rows)
    out = {
        (r["event_type"], str(r["day"])): (r["n_events"], r["filled_sum"])
        for r in q_gapfill(spark, sf_dir).collect()
    }
    # dense spine: 2 types x 4 days
    assert len(out) == 8
    # gap day1/day2 for 'a': zero count, sum carried from day0
    assert out[("a", "2024-01-02")] == (0, 5.0)
    assert out[("a", "2024-01-03")] == (0, 5.0)
    assert out[("a", "2024-01-04")] == (1, 7.0)
    # 'b' before its first event: zero count, NO value to carry -> null
    assert out[("b", "2024-01-01")] == (0, None)
    assert out[("b", "2024-01-02")] == (0, None)
    assert out[("b", "2024-01-03")] == (1, 9.0)
    assert out[("b", "2024-01-04")] == (0, 9.0)


def test_scd2_single_event_user_is_open_interval(spark, tmp_path):
    rows = [
        (1, T0, 7, "view", 1.0, "{}"),          # single-event user
        (2, T0, 8, "view", 1.0, "{}"),          # u8: view -> view (no change)
        (3, T0 + 60, 8, "view", 1.0, "{}"),
        (4, T0 + 120, 8, "error", 1.0, "{}"),   # -> error (change)
    ]
    sf_dir = _events_dir(spark, tmp_path, rows)
    got = {
        (r["user_id"], r["segment"], r["valid_from_us"], r["valid_to_us"], r["is_current"])
        for r in x_scd2(spark, sf_dir).collect()
    }
    us = lambda s: s * 1_000_000  # noqa: E731
    assert got == {
        (7, "view", us(T0), None, 1),
        # consecutive same-type rows collapse; interval closes at the CHANGE row
        (8, "view", us(T0), us(T0 + 120), 0),
        (8, "error", us(T0 + 120), None, 1),
    }


def test_asof_near_backward_ties_win_and_tolerance_cuts(spark, tmp_path):
    """merge_asof nearest semantics: equidistant backward/forward views
    resolve to the BACKWARD one; matches beyond the 1 h tolerance drop;
    a purchase with only a forward view within tolerance still pairs."""
    from amazon_s3_datalake_nmea0183_real_time_ingestion_spark.plans.tierd import (
        q_join_asof_near,
    )

    rows = [
        # u1: views 100s before AND after purchase -> backward (id 10) wins
        (10, T0 + 0, 1, "view", 1.0, "{}"),
        (11, T0 + 100, 1, "purchase", 1.0, "{}"),
        (12, T0 + 200, 1, "view", 1.0, "{}"),
        # u2: only view is 2h after purchase -> outside tolerance, no row
        (20, T0 + 0, 2, "purchase", 1.0, "{}"),
        (21, T0 + 7200, 2, "view", 1.0, "{}"),
        # u3: only a FORWARD view, 30 min away -> pairs forward
        (30, T0 + 0, 3, "purchase", 1.0, "{}"),
        (31, T0 + 1800, 3, "view", 1.0, "{}"),
    ]
    sf_dir = _events_dir(spark, tmp_path, rows)
    got = {
        r["purchase_event"]: (r["view_event"], r["dist_us"])
        for r in q_join_asof_near(spark, sf_dir).collect()
    }
    assert got == {
        11: (10, 100 * 1_000_000),   # backward tie wins at equal distance
        30: (31, 1800 * 1_000_000),  # forward-only match within tolerance
    }


def test_morton_sql_interleaves_bits():
    # x=0b101, y=0b011 (higher bits 0) -> z bits x0,y0,x1,y1,x2,y2 = 1,1,0,1,1,0
    expr = _morton_sql("x", "y")
    import duckdb

    z = duckdb.sql(f"SELECT {expr} AS z FROM (SELECT 5 AS x, 3 AS y)").fetchone()[0]
    assert z == 0b011011  # positions: x@0,2,4 = 1,0,1; y@1,3,5 = 1,1,0


def test_morton_sql_roundtrips_any_input():
    """The interleave is a bijection: decoding the SQL-computed key
    recovers the inputs exactly (hypothesis sweep)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    def decode(z: int, n: int, bits: int) -> list[int]:
        vals = [0] * n
        for j in range(bits):
            for d in range(n):
                vals[d] |= ((z >> (j * n + d)) & 1) << j
        return vals

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(st.integers(min_value=0, max_value=(1 << 16) - 1),
                 min_size=2, max_size=2)
    )
    def check(vals):
        n = len(vals)
        sel = ", ".join(f"{v} AS c{i}" for i, v in enumerate(vals))
        z = duckdb.sql(
            f"SELECT {_morton_sql('c0', 'c1')} AS z FROM (SELECT {sel})"
        ).fetchone()[0]
        assert decode(z, n, 16) == vals

    check()
