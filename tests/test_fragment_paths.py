"""The native scan takes each row's last-write-wins order from the
fragment directory in its file path.  Spark URL-encodes that path, so
arrays stored under directory names that need encoding must still read,
merge, delete, consolidate and time-travel exactly; and a file whose
fragment directory the read does not know must fail the query rather
than drop rows from the merge."""

import os
import time

import numpy as np
import pandas as pd
import pytest

import tiledb_py_spark as tdb
from tiledb_py_spark import manifest as mf


def _cells(A, sl=slice(None)):
    r = A.multi_index[sl]
    return dict(zip(r["k"].tolist(), r["v"].tolist()))


def _write(uri, keys, vals, mode):
    tdb.from_pandas(uri, pd.DataFrame({"k": np.asarray(keys, np.int64),
                                       "v": np.asarray(vals, np.int64)}),
                    index_dims=["k"], mode=mode, full_domain=mode == "ingest")
    time.sleep(0.003)
    return mf.read_manifest(uri).fragments[-1].timestamp_range[0]


def test_encoded_array_path_matches_model(tmp_path, spark):
    uri = str(tmp_path / "a b%c=d" / "arr")
    rng = np.random.default_rng(7)
    model = {k: k for k in range(100)}
    stamps = [(_write(uri, list(model), list(model.values()), "ingest"),
               dict(model))]
    for i in range(1, 4):
        ks = rng.choice(100, 30, replace=False).tolist()
        vs = [1000 * i + k for k in ks]
        model.update(zip(ks, vs))
        stamps.append((_write(uri, ks, vs, "append"), dict(model)))
    with tdb.open(uri, mode="d", spark=spark) as A:
        A.query(cond="v < 50").submit()
    model = {k: v for k, v in model.items() if v >= 50}

    with tdb.open(uri, spark=spark) as A:
        assert _cells(A) == model
        assert _cells(A, slice(10, 40)) == {
            k: v for k, v in model.items() if 10 <= k <= 40}
    ts, snap = stamps[2]
    with tdb.open(uri, timestamp=ts, spark=spark) as A:
        assert _cells(A) == snap
    tdb.consolidate(uri)
    with tdb.open(uri, spark=spark) as A:
        assert _cells(A) == model


def test_unknown_fragment_directory_fails_the_read(tmp_path, spark):
    """A fragment directory whose name the file path spells differently
    (here: a space, URL-encoded as %20) is not in the read's order map:
    the LWW read must raise, never return the merge minus its rows."""
    uri = str(tmp_path / "arr")
    _write(uri, range(10), range(10), "ingest")
    _write(uri, range(5), [100] * 5, "append")
    forged = "frag_1_1_forged name"

    def rename_last(m):
        last = [f for f in m.fragments if f.kind == "write"][-1]
        os.rename(mf.fragment_path(uri, last), mf.fragment_path(uri, forged))
        last.name = forged

    mf.commit(uri, rename_last)
    with tdb.open(uri, spark=spark) as A:
        with pytest.raises(Exception, match="no fragment of this read"):
            _cells(A)
