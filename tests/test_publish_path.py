"""One fragment-publish path: every writer (from_pandas, from_spark,
format("tiledb"), consolidate) writes the schema's declared parquet
codec and refuses columns outside the schema the same way."""

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

import tiledb_py_spark as tdb
from tiledb_py_spark import manifest as mf
from tiledb_py_spark.sources.dataframe_ import from_spark
from tiledb_py_spark.sources.spark_datasource import register


def _create(uri, filters):
    pdf = pd.DataFrame({"k": np.arange(10, dtype=np.int64),
                        "v": np.arange(10) * 1.0})
    tdb.from_pandas(uri, pdf, index_dims=["k"], full_domain=True,
                    attr_filters=filters)


def _newest_codecs(uri) -> set:
    m = mf.read_manifest(uri)
    rec = max(m.live_fragments(), key=lambda f: f.timestamp_range[1])
    codecs = set()
    for root, _dirs, files in os.walk(mf.fragment_path(uri, rec)):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, fn)).metadata
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                codecs.update(g.column(c).compression
                              for c in range(g.num_columns))
    return codecs


def _append_df(spark):
    return spark.createDataFrame([(20, 2.5), (21, 3.5)], "k long, v double")


_WRITERS = {
    "from_pandas": lambda uri, spark: None,   # the create itself
    "from_spark_append": lambda uri, spark: from_spark(
        uri, _append_df(spark), mode="append"),
    "format_tiledb_append": lambda uri, spark: _append_df(spark).write
    .format("tiledb").mode("append").save(uri),
    "consolidate": lambda uri, spark: (
        tdb.from_pandas(uri, pd.DataFrame(
            {"k": np.array([30], dtype=np.int64), "v": [9.0]}),
            mode="append"),
        tdb.consolidate(uri)),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_declared_codec_on_every_writer(tmp_path, spark, writer):
    """A GzipFilter schema writes GZIP column chunks whichever writer
    produced the fragment (consolidation keeps the declared codec)."""
    register(spark)
    uri = str(tmp_path / "gz")
    _create(uri, tdb.FilterList([tdb.GzipFilter()]))
    _WRITERS[writer](uri, spark)
    assert _newest_codecs(uri) == {"GZIP"}


def test_no_filter_schema_keeps_zstd(tmp_path, spark):
    register(spark)
    uri = str(tmp_path / "plain")
    _create(uri, None)
    _append_df(spark).write.format("tiledb").mode("append").save(uri)
    assert _newest_codecs(uri) == {"ZSTD"}


def test_from_spark_append_refuses_unknown_column(tmp_path, spark):
    """from_spark(mode="append") refuses a column outside the schema,
    like format("tiledb") — it used to drop it silently."""
    uri = str(tmp_path / "a")
    _create(uri, None)
    extra = spark.createDataFrame([(20, 2.5, "x")],
                                  "k long, v double, junk string")
    n0 = len(mf.read_manifest(uri).fragments)
    with pytest.raises(ValueError, match=r"columns \['junk'\] not in"):
        from_spark(uri, extra, mode="append")
    assert len(mf.read_manifest(uri).fragments) == n0
