from simple_query_engine_spark.sources.catalog import TABLE_NAMES, load_tables
from simple_query_engine_spark.sources.readers import read_csv

__all__ = ["TABLE_NAMES", "load_tables", "read_csv"]
