"""Sources and sinks: layered catalog reads, format-aware writes with
merge/upsert and partition-overwrite semantics."""

from databricks_demo_feature_store_spark.sources.catalog import Catalog
from databricks_demo_feature_store_spark.sources.writers import save_table, merge_upsert

__all__ = ["Catalog", "save_table", "merge_upsert"]
