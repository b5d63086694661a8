"""The declared testdata catalog (``sources.readers.TESTDATA_SCHEMAS``)
against the parquet footers it replaces: every table at every shipped
scale infers exactly the declared schema, except ``events.ts``, whose
timezone-naive column is declared as a UTC TIMESTAMP on purpose."""

from __future__ import annotations

import os

import pytest
from pyspark.sql.types import StructField, StructType, TimestampNTZType, TimestampType

from ra2_datalake_linaresjoan_spark.sources.readers import TESTDATA_SCHEMAS, read_testdata
from conftest import SF_SMOKE

TESTDATA = os.path.dirname(SF_SMOKE)


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01", "sf0.1"])
def test_declared_schemas_equal_footer_inference(spark, sf):
    sf_dir = os.path.join(TESTDATA, sf)
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} not present")
    for name, ddl in TESTDATA_SCHEMAS.items():
        inferred = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        declared = StructType.fromDDL(ddl)
        if name == "events":
            assert inferred["ts"].dataType == TimestampNTZType()
            assert declared["ts"].dataType == TimestampType()
            inferred = StructType(
                [StructField("ts", TimestampType()) if f.name == "ts" else f for f in inferred]
            )
        assert declared == inferred, (sf, name)
        assert read_testdata(spark, sf_dir, name).schema == declared, (sf, name)


def test_off_contract_file_raises_instead_of_reading(spark, tmp_path):
    """An int64 ``n_nationkey`` (the contract says INT) must fail the
    read, not come back silently narrowed."""
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        [(1, "ALPHA", 0)], "n_nationkey long, n_name string, n_regionkey int"
    ).write.parquet(os.path.join(sf_dir, "nation.parquet"))
    with pytest.raises(Exception, match="n_nationkey"):
        read_testdata(spark, sf_dir, "nation").collect()
