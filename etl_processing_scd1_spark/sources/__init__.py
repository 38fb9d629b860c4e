from .readers import (
    read_blacklist_excel,
    read_jdbc_table,
    read_transactions_csv,
    read_xlsx,
    scan_drop_dir,
)

__all__ = [
    "read_blacklist_excel",
    "read_jdbc_table",
    "read_transactions_csv",
    "read_xlsx",
    "scan_drop_dir",
]


def ensure_datasources(spark) -> None:
    """Register the ``deltalog``/``iceberglog`` Python DataSources
    exactly ONCE per SparkSession. Re-registering replaces the entry
    and Spark logs ``WARN DataSourceManager: ... replaced a previously
    registered data source`` on every call — a multi-query session
    (the driver window runs 20+ lakehouse queries) would bury real
    warnings under that noise."""
    if getattr(spark, "_spark_graft_datasources", False):
        return
    from .deltalog_datasource import DeltaLogDataSource
    from .iceberglog_datasource import IcebergLogDataSource

    spark.dataSource.register(DeltaLogDataSource)
    spark.dataSource.register(IcebergLogDataSource)
    spark._spark_graft_datasources = True
