"""fsql_spark — a PySpark-native engine with the capabilities of AmpX-AI/fsql.

A metastore-less query layer over partitioned file trees: crawl/prune with
predicates over partition-path columns, scan any fsspec/Hadoop filesystem,
return a distributed DataFrame — plus the full Spark relational surface and
LLM-data-pipeline operators (dedup, similarity search, text analysis,
multimodal columns) designed for 100 TB scale.

Reference semantics: AmpX-AI/fsql v1 (see SURVEY.md; citations inline).
Architecture: thin API over ``spark.read`` + Catalyst — never reimplements
what the optimizer does (SURVEY §7).
"""

from .api import (  # noqa: F401
    read_partitioned_table,
    read_s3_table,
    register_tables,
    write_bucketed_table,
    write_sorted_table,
    write_object,
    write_table,
)
from .column_parser import (  # noqa: F401
    AUTO_PARSER,
    AutoParser,
    ColumnParser,
    DateRangeGenerator,
    FixedColumnsParser,
    PartitionGrammar,
)
from .formats import InputFormat  # noqa: F401
from .fs import FileSystem, LocalFileSystem, get_url_and_fs, set_default_config  # noqa: F401
from .queries import (  # noqa: F401
    AtomicQuery,
    ColumnComparator,
    ColumnRange,
    DateRangeQuery,
    LexRangeQuery,
    Q_AND,
    Q_EQ,
    Q_FALSE,
    Q_IN,
    Q_OR,
    Q_TRUE,
    Query,
)
from .readers import (  # noqa: F401
    ENUMERATED_DICT_READER,
    EnumeratedDictReader,
    FileInPartition,
    IDENTITY_READER,
    IdentityReader,
    ListingReader,
    PANDAS_READER,
    PandasReader,
    SPARK_READER,
    SparkReader,
)
from .maintenance import (  # noqa: F401
    compact,
    drop_partitions,
    file_stats,
    overwrite_partitions,
)
from .session import get_spark  # noqa: F401
from .sql import register_path_tables, sql  # noqa: F401

__version__ = "0.1.0"
