"""The declared table catalog (sources/tables.py).

Opening a table takes its schema from the catalog instead of a Spark
inference job. These tests pin the declarations to what inference gives
on the testdata at every scale and on the regeneration-rehearsal
variants, check that opening runs no Spark job and leaves the session
conf alone, and that a drifted file fails at open.
"""

from __future__ import annotations

import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_earthquake_gcp_spark.sources.tables import (
    TABLE_NAMES,
    TableContractError,
    fix_nanos_ts,
    load_table,
)
from etl_earthquake_gcp_spark.streaming.jobs import (
    _events_stream,
    _events_stream_multibatch,
)
from tools.regeneration_rehearsal import build_variant

from .conftest import SF_DIR

NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"
SCALES = ("sf0.001", "sf0.01", "sf0.1")
TESTDATA = os.path.dirname(SF_DIR.rstrip("/"))


def _scale_dir(sf: str) -> str:
    d = os.path.join(TESTDATA, sf)
    if not os.path.isdir(d):
        pytest.skip(f"no testdata at {d}")
    return d


@pytest.fixture
def nanos_conf(spark):
    """Unset nanosAsLong for the test and restore it afterwards."""
    before = spark.conf.get(NANOS_CONF)
    spark.conf.unset(NANOS_CONF)
    yield
    spark.conf.set(NANOS_CONF, before)


def _inferred(spark, sf_dir: str, name: str):
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    return fix_nanos_ts(df) if name == "events" else df


def _jobs_in_group(spark, fn) -> int:
    sc = spark.sparkContext
    gid = f"catalog-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(gid, gid, False)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(gid))


@pytest.mark.parametrize("sf", SCALES)
def test_declared_schema_equals_inferred(spark, sf):
    sf_dir = _scale_dir(sf)
    for name in TABLE_NAMES:
        assert load_table(spark, sf_dir, name).schema == _inferred(
            spark, sf_dir, name
        ).schema, name


@pytest.mark.parametrize("axis", ["layout", "nanos"])
def test_declared_schema_equals_inferred_on_variants(
    spark, tmp_path, nanos_conf, axis
):
    dst = str(tmp_path / axis)
    build_variant(axis, SF_DIR, dst, seed=7)
    for name in TABLE_NAMES:
        declared = load_table(spark, dst, name)
        if axis == "nanos" and name == "events":
            # the footer says NANOS: the loader needs the conf, and turned it on
            assert spark.conf.get(NANOS_CONF) == "true"
        assert declared.schema == _inferred(spark, dst, name).schema, name
        assert declared.count() == _inferred(spark, dst, name).count(), name


def test_nanos_events_read_same_instants_as_micros(spark, tmp_path, nanos_conf):
    dst = str(tmp_path / "nanos")
    build_variant("nanos", SF_DIR, dst, seed=7)
    micros = load_table(spark, SF_DIR, "events").select("event_id", "ts")
    nanos = load_table(spark, dst, "events").select("event_id", "ts")
    assert nanos.exceptAll(micros).count() == 0
    assert micros.exceptAll(nanos).count() == 0


def test_opening_every_table_runs_no_spark_job(spark):
    sf_dir = _scale_dir("sf0.01")
    assert _jobs_in_group(
        spark, lambda: [load_table(spark, sf_dir, n) for n in TABLE_NAMES]
    ) == 0
    # the check bites: schema inference is one job per table
    assert _jobs_in_group(
        spark, lambda: spark.read.parquet(f"{sf_dir}/region.parquet")
    ) >= 1


def test_streaming_sources_take_the_catalog_schema(spark, nanos_conf):
    before = spark.conf.get(NANOS_CONF)
    streams = []
    assert _jobs_in_group(
        spark,
        lambda: streams.extend(
            [_events_stream(spark, SF_DIR), _events_stream_multibatch(spark, SF_DIR)]
        ),
    ) == 0
    for s in streams:
        assert dict(s.dtypes)["ts"] == "timestamp"
    assert spark.conf.get(NANOS_CONF) == before


def test_opening_micros_events_leaves_nanos_conf_alone(spark, nanos_conf):
    before = spark.conf.get(NANOS_CONF)
    load_table(spark, _scale_dir("sf0.01"), "events")
    assert spark.conf.get(NANOS_CONF) == before


def test_mismatched_column_type_raises(spark, tmp_path):
    pq.write_table(
        pa.table({
            "r_regionkey": pa.array([0, 1], pa.int64()),  # declared int
            "r_name": ["AFRICA", "ASIA"],
        }),
        str(tmp_path / "region.parquet"),
    )
    with pytest.raises(TableContractError) as err:
        load_table(spark, str(tmp_path), "region")
    msg = str(err.value)
    for part in ("'region'", "'r_regionkey'", "declared int", "found bigint"):
        assert part in msg, msg


def test_undeclared_column_raises(spark, tmp_path):
    pq.write_table(
        pa.table({
            "n_nationkey": pa.array([0], pa.int32()),
            "n_name": ["N0"],
            "n_regionkey": pa.array([0], pa.int32()),
            "n_comment": ["drift"],
        }),
        str(tmp_path / "nation.parquet"),
    )
    with pytest.raises(TableContractError, match="'n_comment'.*found string"):
        load_table(spark, str(tmp_path), "nation")


def test_spark_written_int96_events_open_as_timestamp(spark, tmp_path):
    """Spark's own writer stores timestamps as INT96, which pyarrow reports
    as nanoseconds; the footer check must read it as Spark does (LTZ)."""
    src = load_table(spark, SF_DIR, "events").orderBy("event_id").limit(20)
    src.write.parquet(str(tmp_path / "events.parquet"))
    got = load_table(spark, str(tmp_path), "events")
    assert dict(got.dtypes)["ts"] == "timestamp"
    assert got.exceptAll(src).count() == 0
