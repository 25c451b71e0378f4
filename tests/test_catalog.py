"""The catalog's declared schemas are the schemas Spark infers.

``catalog.table`` reads nine of the ten tables with a declared schema,
so it runs no inference job. A declared type that drifted from the
files would read wrong values or fail only at execution, so each
declaration is checked against the footer-inferred schema of the
fixtures at the three scales and of a ``tools/gen_full_sf.py`` fixture.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructType

from dmi_ingestor_spark.catalog import SCHEMAS, TABLES
from tools.gen_full_sf import generate

# beside the test fixture (conftest.SF_DIR), one directory per scale
SCALES = ("sf0.001", "sf0.01", "sf0.1")


@pytest.fixture(scope="module")
def generated_dir(tmp_path_factory) -> str:
    out = str(tmp_path_factory.mktemp("gen_full_sf") / "sf0.001")
    generate(0.001, out)
    return out


@pytest.mark.parametrize("fixture", [*SCALES, "gen_full_sf"])
def test_declared_schemas_equal_inferred(spark, sf_dir, generated_dir, fixture):
    if fixture == "gen_full_sf":
        sf_dir = generated_dir
    else:
        sf_dir = os.path.join(os.path.dirname(sf_dir), fixture)
    declared = {name: StructType.fromDDL(ddl) for name, ddl in SCHEMAS.items()}
    inferred = {
        name: spark.read.parquet(f"{sf_dir}/{name}.parquet").schema for name in SCHEMAS
    }
    assert declared == inferred


def test_every_table_but_events_is_declared():
    assert set(TABLES) - set(SCHEMAS) == {"events"}
