from big_data_analytics_cse545_spark.sources.tables import (
    TABLE_NAMES,
    load_table,
    load_tables,
    register_views,
    spread_scan,
)

__all__ = [
    "TABLE_NAMES",
    "load_table",
    "load_tables",
    "register_data_source",
    "register_views",
    "spread_scan",
]


def register_data_source(spark, source: type) -> None:
    """Register a Python data source class on ``spark``, idempotent also
    across the sessions of one application: Spark refuses a name the
    ACTIVE session already resolves (``[DATA_SOURCE_ALREADY_EXISTS]``),
    so ``spark`` is made the active session for the call."""
    jvm_session = spark._jvm.org.apache.spark.sql.SparkSession
    previous = jvm_session.getActiveSession()
    jvm_session.setActiveSession(spark._jsparkSession)
    try:
        spark.dataSource.register(source)
    finally:
        if previous.isDefined():
            jvm_session.setActiveSession(previous.get())
        else:
            jvm_session.clearActiveSession()
