from data_profiler_spark.sources.tableio import IcebergTableIO, ParquetTableIO, TableIO  # noqa: F401
from data_profiler_spark.sources.tpch import TPCH_TABLES, load_table  # noqa: F401
