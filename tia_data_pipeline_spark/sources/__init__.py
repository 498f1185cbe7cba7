"""Ingestion sources & sinks.

The reference's ingestion surface (SURVEY §2.1): paginated REST JSON
(`src-rest-page`), keyed REST fan-out (`src-rest-keyed`), JSON staging
files (`src-json-file`/`snk-json-file`), JDBC (`src-jdbc` /
`snk-jdbc-upsert`). Re-expressed so the *fetch* is pluggable (driver-
side page fetch or distributed `mapInPandas` fan-out) and everything
downstream is a plain DataFrame.
"""

from tia_data_pipeline_spark.sources.rest import (
    keyed_fanout_source,
    paginated_rest_source,
)
from tia_data_pipeline_spark.sources.files import read_json_records, write_json_records
from tia_data_pipeline_spark.sources.jdbc import jdbc_read
from tia_data_pipeline_spark.sources.lakehouse import (
    delete_keys,
    delete_where,
    merge_upsert_table,
)

__all__ = [
    "paginated_rest_source",
    "keyed_fanout_source",
    "read_json_records",
    "write_json_records",
    "jdbc_read",
    "delete_keys",
    "delete_where",
    "merge_upsert_table",
]
