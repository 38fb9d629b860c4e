"""The shared log-table DataSource family (``sources/log_datasource.py``)
behind ``format("deltalog")`` and ``format("iceberglog")``: checks
that hold for every format and stream mode. Readers are built through
``DataSource(options).streamReader(schema)`` — no Spark job runs."""

import pytest
from pyspark.sql.datasource import CaseInsensitiveDict
from pyspark.sql.types import StructType

from etl_processing_scd1_spark.sources.deltalog_datasource import (
    DeltaLogDataSource,
)
from etl_processing_scd1_spark.sources.iceberglog_datasource import (
    IcebergLogDataSource,
)


@pytest.mark.parametrize("change_feed", ["false", "true"])
@pytest.mark.parametrize("source", [DeltaLogDataSource, IcebergLogDataSource])
def test_max_versions_per_batch_must_be_positive(source, change_feed, tmp_path):
    """A cap of 0 would never advance the offset: refused when the
    stream reader is built, for appends and change feed alike."""
    options = CaseInsensitiveDict({
        "path": str(tmp_path / "t"),
        "readChangeFeed": change_feed,
        "maxVersionsPerBatch": "0",
    })
    with pytest.raises(ValueError, match="maxVersionsPerBatch must be >= 1"):
        source(options).streamReader(StructType([]))
    options["maxVersionsPerBatch"] = "1"
    source(options).streamReader(StructType([]))  # the smallest valid cap
