"""SparkMergeTree — the reference's LSM storage engine, re-expressed on Spark.

Reference identity (SURVEY §1): memtable + immutable sorted columnar parts +
manifest metadata + background compaction. Spark mapping: a driver-side row
buffer (memtable analog), Parquet part directories written key-sorted
(repartitionByRange + sortWithinPartitions), a JSON manifest carrying the
reference's part metadata (R24), and a compaction job over adjacent
runs of parts in insert order (R29; merger.py records the deviation).
"""

from clickhouse_mergetree_spark.engine.ddl import (
    create_materialized_view_from_ddl,
    create_table_from_ddl,
    execute_ddl,
    parse_create_table,
)
from clickhouse_mergetree_spark.engine.manifest import Manifest, PartMeta
from clickhouse_mergetree_spark.engine.matview import MaterializedView
from clickhouse_mergetree_spark.engine.merge_table import MergeTable
from clickhouse_mergetree_spark.engine.null_table import NullTable
from clickhouse_mergetree_spark.engine.merge_tree import (
    MergeTreeConfig,
    ProjectionSpec,
    SparkMergeTree,
)
from clickhouse_mergetree_spark.engine.merger import select_merge_candidates
from clickhouse_mergetree_spark.engine.sharded import ShardedMergeTree

__all__ = [
    "Manifest",
    "MaterializedView",
    "MergeTable",
    "NullTable",
    "MergeTreeConfig",
    "PartMeta",
    "ProjectionSpec",
    "ShardedMergeTree",
    "SparkMergeTree",
    "create_materialized_view_from_ddl",
    "create_table_from_ddl",
    "execute_ddl",
    "parse_create_table",
    "select_merge_candidates",
]
