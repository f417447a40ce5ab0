"""`catalog.load_table`: declared schemas match the files and skip the
schema-inference job."""

from __future__ import annotations

import pytest

from tests.conftest import SF_MEDIUM, SF_SMALL
from usgs_lidar_spark.catalog import DECLARED_SCHEMAS, load_table
from usgs_lidar_spark.schemas import TABLE_NAMES


def _fields(schema):
    return [(f.name, f.dataType) for f in schema.fields]


@pytest.mark.parametrize("sf_dir", [SF_SMALL, SF_MEDIUM])
def test_load_table_schema_equals_inferred(spark, sf_dir):
    for name in TABLE_NAMES:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        assert _fields(load_table(spark, sf_dir, name).schema) == _fields(
            inferred
        ), name


def _jobs_fired(spark, group: str, load) -> list[int]:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return sc.statusTracker().getJobIdsForGroup(group)


def test_declared_load_fires_no_job(spark):
    assert "events" not in DECLARED_SCHEMAS
    for name in DECLARED_SCHEMAS:
        assert _jobs_fired(
            spark, f"declared-{name}", lambda: load_table(spark, SF_SMALL, name)
        ) == [], name
    # The control: an inferred load does fire the footer job.
    assert _jobs_fired(
        spark, "inferred-events", lambda: load_table(spark, SF_SMALL, "events")
    )
