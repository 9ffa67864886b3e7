"""Regression net for the round-5 coarse-re-round hardening.

The hazard (verify SKILL.md): re-rounding an already-quantized double at
a coarser scale diverges across engines on exact ...x50 half boundaries
— Spark's F.round rounds the SHORTEST DECIMAL REPR (BigDecimal.valueOf)
up, DuckDB the binary value just below it down. These tests pin (a) the
hazard itself (so the rule never gets "simplified" away as paranoia)
and (b) the integer half-away display arithmetic the fixed queries use,
on exact boundary inputs, against DuckDB.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

# the canonical reproduction: mean of eight 2dp values -> 33.06625
BOUNDARY_MEAN = 264.53000000000003 / 8


def test_hazard_exists_coarse_reround_diverges(spark):
    """round(round(x, 6), 4) on the boundary: Spark 33.0663, DuckDB
    33.0662. If this ever starts agreeing, the rule can be revisited."""
    con = duckdb.connect()
    duck = con.execute(
        "SELECT round(round(?::DOUBLE, 6), 4)", [BOUNDARY_MEAN]
    ).fetchone()[0]
    sp = (
        spark.createDataFrame([(BOUNDARY_MEAN,)], "v double")
        .select(F.round(F.round("v", 6), 4).alias("r"))
        .collect()[0]["r"]
    )
    assert sp == 33.0663
    assert duck == 33.0662
    assert sp != duck  # the divergence the integer paths exist to avoid


@pytest.mark.parametrize(
    "v_u, expected",
    [
        (33066250, 33.0663),  # exact ...x50 boundary -> half-away up
        (33066249, 33.0662),  # just below -> down
        (33066251, 33.0663),  # just above -> up
        (-33066250, -33.0663),  # negative boundary -> away from zero
        (-30, -0.0),  # |u| < 50 with sign -> +0.0 after the fold
        (0, 0.0),
    ],
)
def test_disp4_integer_half_away_matches_duckdb(spark, v_u, expected):
    """sign(u)*((|u|+50) div 100)/1e4 + 0.0 — the 1e-6-unit -> 4dp
    display used by ml_lag_features / interpolate / seasonal."""
    sp = (
        spark.createDataFrame([(v_u,)], "u long")
        .select(
            (
                F.signum("u")
                * F.expr("div(abs(u) + 50, 100)")
                / F.lit(10_000.0)
                + F.lit(0.0)
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    duck = duckdb.connect().execute(
        "SELECT sign(u) * ((abs(u) + 50) // 100) / 10000.0 + 0.0 "
        "FROM (SELECT ?::BIGINT AS u)",
        [v_u],
    ).fetchone()[0]
    assert sp == duck == expected
    assert str(sp) == str(duck)  # repr-exact: no -0.0 leakage


@pytest.mark.parametrize(
    "num, den, expected",
    [
        (1234570 * 100, 2000, 6.1729),  # cents*100/n: exact .5 -> up
        (1234730 * 100, 2000, 6.1737),  # the measured duck-down case
        (1, 2, 1.0 / 10000 * 1),  # 0.5 in 1e-4 units -> rounds to 1
    ],
)
def test_rational_half_away_matches_duckdb(spark, num, den, expected):
    """sign(num)*((2|num|+den) div (2 den))/1e4 — the exact rational ->
    4dp display used by incremental_rollup_merge and the interpolation
    num/den form."""
    sp = (
        spark.createDataFrame([(num, den)], "num long, den long")
        .select(
            (
                F.signum("num")
                * F.expr("div(2 * abs(num) + den, 2 * den)")
                / F.lit(10_000.0)
                + F.lit(0.0)
            ).alias("r")
        )
        .collect()[0]["r"]
    )
    duck = duckdb.connect().execute(
        "SELECT sign(num) * ((2 * abs(num) + den) // (2 * den)) / 10000.0"
        " + 0.0 FROM (SELECT ?::BIGINT AS num, ?::BIGINT AS den)",
        [num, den],
    ).fetchone()[0]
    assert sp == duck == pytest.approx(expected)


def test_grouped_bootstrap_ci_boundary_matches_duckdb(spark, tmp_path):
    """The seed-57 subsample-sweep catch (round 13): a replica mean
    landing exactly on a ...x50 1e-6 boundary (49.368050) must display
    identically at 4dp on both engines. One event row makes EVERY
    surviving replica mean equal the raw value, so all three CI bounds
    sit on the boundary — the pre-fix round(round(x,6),4) form reads
    49.3681 on Spark and 49.368 on DuckDB; the integer half-away path
    cannot split."""
    import pandas as pd

    from etl_earthquake_gcp_spark.plans import QUERIES

    pdf = pd.DataFrame(
        {
            "event_id": [1],
            "ts": pd.to_datetime(["2024-01-01"]),
            "user_id": [1],
            "event_type": ["purchase"],
            "value": [49.36805],
            "props": ["{}"],
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")

    q = QUERIES["grouped_bootstrap_ci"]
    sp = q.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    du = con.execute(q.oracle).df()
    for col in ("ci_lo", "ci_mid", "ci_hi"):
        assert sp.loc[0, col] == du.loc[0, col] == 49.3681, col


def test_cusum_boundary_matches_duckdb(spark, tmp_path):
    """The seed-5 subsample-stress catch (round 13): a cumulative CUSUM
    value whose 4dp display lands exactly on a half boundary must read
    identically on both engines. Daily means 1.0/2.0/3.0/3.1547 put the
    final s_hi at exactly 1154700/2000000 = 0.57735 (and the day-1/2
    s_lo on the mirrored boundaries) — the pre-fix round(float_chain, 4)
    form splits there (Spark 0.5774, DuckDB 0.5773); the exact integer
    recurrence + integer half-away display cannot."""
    import pandas as pd

    from etl_earthquake_gcp_spark.plans import QUERIES

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"]
            ),
            "user_id": [1, 1, 1, 1],
            "event_type": ["purchase"] * 4,
            "value": [1.0, 2.0, 3.0, 3.1547],
            "props": ["{}"] * 4,
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")

    q = QUERIES["cusum_changepoints"]
    sp = q.spark_fn(spark, str(tmp_path)).toPandas()
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    du = con.execute(q.oracle).df()
    from .conftest import assert_frames_match

    assert_frames_match(sp, du, "cusum_changepoints")
    last = sp.sort_values("day")["cusum_hi"].iloc[-1]
    assert last == 0.5774  # the boundary, rounded half-away UP on both


def test_interarrival_mean_boundary_matches_duckdb(spark, tmp_path):
    """The r14 boundary-hazard audit catch (pre-registration): a user
    with 800 gaps summing to 57 s has mean exactly 57/800 = 0.07125 —
    a 4dp half boundary with reduced denominator 2^5*5^2, NOT binary
    representable, where the float round paths split (Spark's shortest
    repr '0.07125' rounds up to 0.0713, DuckDB's scaled binary value
    712.4999... rounds down to 0.0712). The registered integer
    half-away form must read 0.0713 on both engines."""
    import duckdb
    import pandas as pd

    from etl_earthquake_gcp_spark.plans import QUERIES

    # 801 events: 57 one-second gaps then 743 zero-second gaps
    secs = [0]
    for i in range(57):
        secs.append(secs[-1] + 1)
    secs += [secs[-1]] * 743
    pdf = pd.DataFrame(
        {
            "event_id": range(1, len(secs) + 1),
            "ts": pd.to_datetime(secs, unit="s"),
            "user_id": [1] * len(secs),
            "event_type": ["click"] * len(secs),
            "value": [1.0] * len(secs),
            "props": ["{}"] * len(secs),
        }
    )
    pdf.to_parquet(tmp_path / "events.parquet")

    # the hazard is real on this input: the two float paths disagree
    con = duckdb.connect()
    duck_float = con.execute(
        "SELECT round((57 * 1.0 / 800)::DOUBLE, 4)"
    ).fetchone()[0]
    assert duck_float == 0.0712  # binary-value path rounds DOWN
    from decimal import ROUND_HALF_UP, Decimal

    spark_style = float(
        Decimal(repr(57 / 800)).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )
    assert spark_style == 0.0713  # shortest-repr path rounds UP

    q = QUERIES["interarrival_cv"]
    sp = q.spark_fn(spark, str(tmp_path)).toPandas()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet'"
    )
    du = con.execute(q.oracle).df()
    from .conftest import assert_frames_match

    assert_frames_match(sp, du, "interarrival_cv")
    assert sp.loc[0, "mean_s"] == du.loc[0, "mean_s"] == 0.0713


def test_basket_lift_boundary_matches_duckdb(spark, tmp_path):
    """The r14 review-wave catch: basket marginals are small
    SF-invariant integers, so lift6's product denominator reaches the
    2^7*5^b half-boundary grid (640 = 16*40) at percent rates —
    measured: 25/1600 odd numerators over 640 split between the
    engines' float round paths. Constructed: one pair with supp = 1
    over marginals (16, 40) in a 641-order corpus gives lift exactly
    641/640 = 1.0015625, whose float path reads 1.001562 on DuckDB
    (scaled 1001562.4999...) and 1.001563 on the shortest-repr path.
    The registered integer half-away form must read 1.001563 on both
    engines."""
    import duckdb
    import pandas as pd

    from etl_earthquake_gcp_spark.plans import QUERIES

    # part 1 in orders {1, 602..616} (16), part 2 in {1..40} (40),
    # filler part 3 covers the rest so n_orders = 641; the only
    # co-occurrence is order 1 -> supp(1,2) = 1
    rows = [(1, 1)] + [(o, 1) for o in range(602, 617)]
    rows += [(o, 2) for o in range(1, 41)]
    rows += [(o, 3) for o in range(41, 602)]
    rows += [(o, 3) for o in range(617, 642)]
    pdf = pd.DataFrame(rows, columns=["l_orderkey", "l_partkey"])
    pdf["l_linenumber"] = 1
    pdf = pdf.astype({"l_linenumber": "int32"})  # the declared lineitem type
    pdf["l_quantity"] = 1.0
    pdf.to_parquet(tmp_path / "lineitem.parquet")

    # the hazard is real on this input: the two float paths disagree
    con = duckdb.connect()
    assert con.execute(
        "SELECT round((641 * 1.0 / 640)::DOUBLE, 6)"
    ).fetchone()[0] == 1.001562  # binary-value path rounds DOWN
    from decimal import ROUND_HALF_UP, Decimal

    assert float(
        Decimal(repr(641 / 640)).quantize(
            Decimal("0.000001"), ROUND_HALF_UP
        )
    ) == 1.001563  # shortest-repr path rounds UP

    q = QUERIES["basket_pair_rules"]
    sp = q.spark_fn(spark, str(tmp_path)).toPandas()
    con.execute(
        f"CREATE VIEW lineitem AS SELECT * FROM "
        f"'{tmp_path}/lineitem.parquet'"
    )
    du = con.execute(q.oracle).df()
    from .conftest import assert_frames_match

    assert_frames_match(sp, du, "basket_pair_rules")
    assert len(sp) == 1
    assert sp.loc[0, "lift6"] == du.loc[0, "lift6"] == 1.001563
