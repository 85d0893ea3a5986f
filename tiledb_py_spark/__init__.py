"""tiledb_py_spark: a PySpark-native analytics engine with the query and
data-processing capabilities of TileDB-Py.

Public API mirrors the reference surface
(``/root/reference/tiledb/__init__.py:33-110``): Array / ArraySchema /
Attr / Dim / Domain / DenseArray / SparseArray / Query / QueryCondition /
Group / Metadata / Enumeration / FragmentInfoList / ArraySchemaEvolution /
from_pandas / from_csv / from_json / from_parquet / from_numpy / open_dataframe /
consolidate / vacuum — rebuilt on Spark DataFrames over parquet fragments
with a JSON manifest.

Beyond the reference (SURVEY.md §7 phase E): ``operators`` package with
large-scale dedup, similarity search, text analysis, and multimodal
column plumbing; ``streaming`` package with Structured Streaming ingestion.
"""

from .aggregation import nan_safe_equal
from .cdc import changelog
from .ctx import Config, Ctx, default_ctx, scope_ctx
from .filter_ import (BitShuffleFilter, BitWidthReductionFilter, Bzip2Filter,
                      ByteShuffleFilter, ChecksumMD5Filter,
                      ChecksumSHA256Filter, CompressionFilter, DeltaFilter,
                      DictionaryFilter, DoubleDeltaFilter, Filter, FilterList,
                      FloatScaleFilter, GzipFilter, LZ4Filter, NoOpFilter,
                      PositiveDeltaFilter, RleFilter, WebpFilter, XORFilter,
                      ZstdFilter)
from .array import (Aggregation, Array, DataFrameIndexer, DenseArray,
                    DomainIndexer, IncompleteIterator, MultiRangeIndexer,
                    Query, SparseArray)
from .filestore import Filestore
from .vfs import VFS, FileIO
from .fragment import (ConsolidationPlan, FragmentInfo, FragmentInfoList,
                       array_fragments, copy_fragments_to_existing_array,
                       create_array_from_fragments, delete_fragments)
from .functions.query_condition import QueryCondition, TileDBError
from .group import Group
from .highlevel import (Object, ann_search, array_exists, as_built, build_ann_index, consolidate,
                        delete_array, empty_like, from_numpy, ls, move,
                        object_type, open, remove, save, schema_like, vacuum,
                        walk)
from .indexing import EmptyRange, is_empty_range
from .labels import DimLabel, DimLabelSchema, LabelIndexer
from .manifest import FragmentRecord, Manifest
from .metadata import Metadata
from .schema import ArraySchema, Attr, Dim, Domain, Enumeration
from .current_domain import CurrentDomain, NDRectangle
from .profile import Profile
from .schema_evolution import ArraySchemaEvolution
from .session import get_spark
from .sources.dataframe_ import (from_csv, from_json, from_pandas, from_parquet,
                                 from_spark, open_dataframe)
from .stats import (stats_disable, stats_dump, stats_enable, stats_enabled,
                    stats_reset)
from .subarray import Subarray

__version__ = "0.1.0"

#: legacy impl aliases (reference exports DenseArrayImpl/SparseArrayImpl)
DenseArrayImpl = DenseArray
SparseArrayImpl = SparseArray


def version() -> tuple:
    """Engine version as a tuple (reference ``tiledb.version()`` returns
    the core library version triple)."""
    return tuple(int(p) for p in __version__.split("."))

__all__ = [
    "Array", "ArraySchema", "ArraySchemaEvolution", "Attr", "Aggregation",
    "BitShuffleFilter", "BitWidthReductionFilter", "Bzip2Filter",
    "ByteShuffleFilter", "ChecksumMD5Filter", "ChecksumSHA256Filter",
    "Config", "Ctx", "DeltaFilter", "DictionaryFilter", "DoubleDeltaFilter",
    "Filter", "FilterList", "FloatScaleFilter", "GzipFilter", "LZ4Filter",
    "NoOpFilter", "PositiveDeltaFilter", "RleFilter", "XORFilter",
    "ZstdFilter", "default_ctx", "scope_ctx",
    "ConsolidationPlan", "DataFrameIndexer", "DenseArray", "Dim", "Domain",
    "DimLabelSchema", "DomainIndexer", "Enumeration", "FileIO", "Filestore",
    "FragmentInfo", "FragmentInfoList", "FragmentRecord", "LabelIndexer",
    "Group", "IncompleteIterator", "Manifest", "Metadata", "MultiRangeIndexer",
    "Query", "QueryCondition", "SparseArray", "Subarray", "TileDBError", "VFS",
    "stats_disable", "stats_dump", "stats_enable", "stats_enabled",
    "stats_reset",
    "CompressionFilter", "WebpFilter", "DenseArrayImpl", "SparseArrayImpl",
    "DimLabel", "EmptyRange", "Object", "Profile", "CurrentDomain",
    "NDRectangle",
    "array_exists", "array_fragments", "as_built", "consolidate",
    "copy_fragments_to_existing_array",
    "create_array_from_fragments", "delete_array", "delete_fragments",
    "empty_like", "from_csv", "from_json", "from_numpy", "from_pandas", "from_parquet",
    "from_spark", "get_spark", "is_empty_range", "ls", "move",
    "nan_safe_equal", "object_type", "open", "open_dataframe", "remove",
    "save", "schema_like", "vacuum", "version", "walk",
]

# last, so the freeze covers this package's whole import-time heap
from ._worker import prepare as _prepare_worker

_prepare_worker()
