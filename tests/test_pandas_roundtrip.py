"""Ingestion round-trips: from_pandas / from_csv / from_parquet /
open_dataframe, pandas metadata restoration, categoricals, time travel,
consolidation (mirrors test_pandas_dataframe.py + fragment tests).
"""

import numpy as np
import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

import tiledb_py_spark as tdb


def _pdf():
    return pd.DataFrame({
        "k": np.arange(10, dtype=np.int64),
        "v": np.arange(10) * 1.5,
        "s": [f"row{i}" for i in range(10)],
    })


def test_from_pandas_sparse_roundtrip(uri, spark):
    pdf = _pdf()
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    assert A.schema.sparse
    out = A.df[:].reset_index()
    assert_frame_equal(out.sort_values("k").reset_index(drop=True), pdf,
                       check_dtype=False)


def test_from_pandas_dense_rowindex(uri, spark):
    """Default RangeIndex -> dense array over __tiledb_rows."""
    pdf = _pdf()
    tdb.from_pandas(uri, pdf)
    A = tdb.open(uri, spark=spark)
    assert not A.schema.sparse
    out = A.df[:]
    assert_frame_equal(out.reset_index(drop=True), pdf, check_dtype=False)


def test_from_pandas_append(uri, spark):
    pdf = _pdf()
    # append workflows declare full_domain (reference rule: the domain
    # pins to batch 1 otherwise, and out-of-domain appends are REJECTED)
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    A = tdb.open(uri, spark=spark)
    out = A.df[:].reset_index().sort_values("k").reset_index(drop=True)
    assert_frame_equal(out, pdf, check_dtype=False)


def test_categorical_roundtrip(uri, spark):
    pdf = pd.DataFrame({
        "k": np.arange(6, dtype=np.int64),
        "cat": pd.Categorical(["a", "b", "a", "c", "b", "a"]),
    })
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    assert A.schema.attr("cat").enum_label == "cat"
    out = A.df[:].reset_index().sort_values("k").reset_index(drop=True)
    assert isinstance(out["cat"].dtype, pd.CategoricalDtype)
    assert out["cat"].tolist() == pdf["cat"].tolist()


def test_var_length_cells_roundtrip(uri, spark):
    """Var-length multi-value cells (embeddings): list column -> ArrayType
    attr -> object ndarray of numpy arrays (reference TILEDB_VAR_NUM)."""
    rng = np.random.RandomState(1)
    pdf = pd.DataFrame({
        "k": np.arange(10, dtype=np.int64),
        "emb": [rng.randn(4).astype("float32") for _ in range(10)],
    })
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    a = A.schema.attr("emb")
    assert a.var and a.dtype == np.dtype("float32")
    res = A.multi_index[2:4]
    assert [v.shape for v in res["emb"]] == [(4,)] * 3
    for j, kk in enumerate(res["k"]):
        np.testing.assert_allclose(res["emb"][j], pdf["emb"][kk])


def test_open_dataframe(uri, spark):
    pdf = _pdf()
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    out = tdb.open_dataframe(uri).reset_index().sort_values("k").reset_index(drop=True)
    assert_frame_equal(out, pdf, check_dtype=False)


def test_from_csv(uri, tmp_path, spark):
    pdf = _pdf()
    csv = tmp_path / "data.csv"
    pdf.to_csv(csv, index=False)
    tdb.from_csv(uri, str(csv), index_dims=["k"])
    out = tdb.open_dataframe(uri).reset_index().sort_values("k").reset_index(drop=True)
    assert out["v"].tolist() == pdf["v"].tolist()


def test_from_json_lines(uri, tmp_path, spark):
    """JSONL ingest: pandas path, chunked fragments, and the
    distributed spark.read.json path all land the same rows."""
    pdf = _pdf()
    jl = tmp_path / "data.jsonl"
    pdf.to_json(jl, orient="records", lines=True)
    tdb.from_json(uri, str(jl), index_dims=["k"])
    out = tdb.open_dataframe(uri).reset_index().sort_values("k") \
        .reset_index(drop=True)
    assert out["v"].tolist() == pdf["v"].tolist()

    uri2 = str(tmp_path / "arr_chunked")
    tdb.from_json(uri2, str(jl), index_dims=["k"], chunksize=4)
    assert len(tdb.array_fragments(uri2)) == 3          # 4+4+2 rows
    out2 = tdb.open_dataframe(uri2).reset_index().sort_values("k")
    assert out2["v"].tolist() == pdf["v"].tolist()

    uri3 = str(tmp_path / "arr_spark")
    tdb.from_json(uri3, str(jl), index_dims=["k"], spark=spark)
    A = tdb.open(uri3, spark=spark)
    got = A.df[:].sort_values("v")
    assert got["v"].tolist() == sorted(pdf["v"].tolist())


def test_from_json_nested_structs(tmp_path, spark):
    """Nested JSON objects: loud refusal by default (flat attr schema),
    flatten=True lifts struct leaves to parent_child columns
    recursively."""
    import json as _json

    import pytest

    jl = tmp_path / "nested.jsonl"
    with open(jl, "w") as f:
        for i in range(4):
            f.write(_json.dumps(
                {"k": i, "meta": {"a": i * 2, "deep": {"b": i * 3}},
                 "v": f"x{i}"}) + "\n")
    uri = str(tmp_path / "arr")
    with pytest.raises(ValueError, match="flatten=True"):
        tdb.from_json(uri, str(jl), index_dims=["k"], spark=spark)
    tdb.from_json(uri, str(jl), index_dims=["k"], spark=spark,
                  flatten=True)
    A = tdb.open(uri, spark=spark)
    out = A.df[:].sort_values("meta_a")
    assert out["meta_a"].tolist() == [0, 2, 4, 6]
    assert out["meta_deep_b"].tolist() == [0, 3, 6, 9]


def test_chunked_schema_only_ingests_nothing(tmp_path, spark):
    """schema_only + chunksize creates the array from the FIRST chunk's
    shape and stops (reference from_csv breaks after the first batch in
    schema_only mode) — it must not fall through to appending the rest
    of the corpus as data (ADVICE r10)."""
    pdf = _pdf()
    csv = tmp_path / "data.csv"
    jl = tmp_path / "data.jsonl"
    pdf.to_csv(csv, index=False)
    pdf.to_json(jl, orient="records", lines=True)
    for name, fn, src in [("csv", tdb.from_csv, csv),
                          ("json", tdb.from_json, jl)]:
        uri = str(tmp_path / f"arr_schema_only_{name}")
        fn(uri, str(src), index_dims=["k"], mode="schema_only",
           chunksize=4)
        assert tdb.array_exists(uri)
        assert len(tdb.array_fragments(uri)) == 0, name
        out = tdb.open_dataframe(uri)
        assert len(out) == 0, name


def test_from_json_nested_pandas_path(tmp_path, spark):
    """The PANDAS paths (whole-file and chunked) honor flatten= exactly
    like the spark path: loud refusal on nested objects by default,
    json_normalize flattening with flatten=True (ADVICE r10 — they used
    to silently store dict columns)."""
    import json as _json

    import pytest

    jl = tmp_path / "nested.jsonl"
    with open(jl, "w") as f:
        for i in range(6):
            f.write(_json.dumps(
                {"k": i, "meta": {"a": i * 2, "deep": {"b": i * 3}},
                 "v": f"x{i}"}) + "\n")
    with pytest.raises(ValueError, match="flatten=True"):
        tdb.from_json(str(tmp_path / "a0"), str(jl), index_dims=["k"])
    with pytest.raises(ValueError, match="flatten=True"):
        tdb.from_json(str(tmp_path / "a1"), str(jl), index_dims=["k"],
                      chunksize=2)
    for name, kw in [("whole", {}), ("chunked", {"chunksize": 2})]:
        uri = str(tmp_path / f"arr_flat_{name}")
        tdb.from_json(uri, str(jl), index_dims=["k"], flatten=True, **kw)
        out = tdb.open_dataframe(uri).reset_index().sort_values("k")
        assert out["meta_a"].tolist() == [0, 2, 4, 6, 8, 10], name
        assert out["meta_deep_b"].tolist() == [0, 3, 6, 9, 12, 15], name


def test_from_spark_mode_and_full_domain(tmp_path, spark):
    """from_spark validates mode like from_pandas (an unknown mode must
    not silently behave like schema_only), and full_domain= reaches the
    spark ingest paths: integer dims get the full dtype range so later
    appends with out-of-batch coordinates stay inside the domain."""
    import pytest

    from tiledb_py_spark.sources.dataframe_ import from_spark

    sdf = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    with pytest.raises(ValueError, match="invalid mode"):
        from_spark(str(tmp_path / "bad"), sdf, index_dims=["k"],
                   mode="bogus")

    uri = str(tmp_path / "full")
    from_spark(uri, sdf, index_dims=["k"], full_domain=True)
    with tdb.open(uri, spark=spark) as A:
        lo, hi = A.schema.domain.dim(0).domain
        assert int(lo) < -(2**62) and int(hi) > 2**62
    # an append far outside the first batch's min/max must fit
    from_spark(uri, spark.createDataFrame([(10**12, "z")],
                                          "k long, v string"),
               mode="append")
    # from_spark now writes pandas_meta like from_pandas, so the
    # round-trip restores index_dims as the index
    out = tdb.open(uri, spark=spark).df[:].reset_index().sort_values("k")
    assert out["k"].tolist() == [1, 2, 10**12]

    # pinned domain without full_domain (the default, unchanged)
    uri2 = str(tmp_path / "pinned")
    from_spark(uri2, sdf, index_dims=["k"])
    with tdb.open(uri2, spark=spark) as A:
        assert tuple(int(x) for x in A.schema.domain.dim(0).domain) == (1, 2)


def test_from_parquet(uri, tmp_path, spark):
    pdf = _pdf()
    pq = tmp_path / "data.parquet"
    pdf.to_parquet(pq)
    tdb.from_parquet(uri, str(pq))
    out = tdb.open_dataframe(uri)
    assert len(out) == 10


def test_timetravel(uri, spark):
    """Open at timestamp sees only fragments committed by then
    (reference array.py:321-339, examples/time_traveling.py)."""
    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    frags = tdb.array_fragments(uri)
    ts1 = frags[0].timestamp_range[1]
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    A_now = tdb.open(uri, spark=spark)
    assert len(A_now.df[:]) == 10
    A_then = tdb.open(uri, timestamp=ts1, spark=spark)
    assert len(A_then.df[:]) == 5


def test_fragment_info(uri, spark):
    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    frags = tdb.array_fragments(uri)
    assert len(frags) == 2
    assert frags[0].cell_num == 5
    ned = frags[0].nonempty_domain
    assert ned[0] == (0, 4)


def test_consolidate_vacuum(uri, spark):
    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    assert len(tdb.array_fragments(uri)) == 2
    tdb.consolidate(uri)
    tdb.vacuum(uri)
    assert len(tdb.array_fragments(uri)) == 1
    out = tdb.open(uri, spark=spark).df[:].reset_index().sort_values("k")
    assert out["v"].tolist() == pdf["v"].tolist()


def test_create_array_from_fragments_skips_superseded(uri, tmp_path, spark):
    """A consolidated-but-not-vacuumed source: the new array must copy
    only LIVE fragments — a record still marked superseded_by would be
    hidden from FragmentInfoList and DELETED by the first vacuum() on
    the new array (silent data loss)."""
    from tiledb_py_spark.fragment import create_array_from_fragments

    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    tdb.consolidate(uri)  # folded fragments stay on disk until vacuum
    frs = tdb.array_fragments(uri)
    assert len(frs) == 1  # live view hides the superseded pair
    lo, hi = 0, max(f.timestamp_range[1] for f in frs)
    new = str(tmp_path / "copy")
    create_array_from_fragments(uri, new, (lo, hi))
    assert len(tdb.array_fragments(new)) == 1
    # vacuum on the copy must be a no-op, not a data wipe
    tdb.vacuum(new)
    out = tdb.open(new, spark=spark).df[:].reset_index().sort_values("k")
    assert out["v"].tolist() == pdf["v"].tolist()


def test_create_array_from_fragments_window_excludes_product(
        uri, tmp_path, spark):
    """A timestamp window that covers a FOLDED fragment but excludes
    its consolidation product: the folded fragment is the only carrier
    of that window's data, so it must be copied — with superseded_by
    cleared on the copy (the product it points at is not in the new
    array).  Pre-r12 the copy contained neither, silently dropping the
    window (r11 ADVICE)."""
    import time

    from tiledb_py_spark.fragment import create_array_from_fragments

    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    ts1 = max(f.timestamp_range[1] for f in tdb.array_fragments(uri))
    time.sleep(0.002)  # ensure fragment 2 lands in a later ms slot
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    tdb.consolidate(uri)  # product spans both writes -> ends AFTER ts1
    new = str(tmp_path / "copy_window")
    create_array_from_fragments(uri, new, (0, ts1))
    frs = tdb.array_fragments(new)
    assert len(frs) == 1  # the folded batch-1 fragment, now live
    out = tdb.open(new, spark=spark).df[:].reset_index().sort_values("k")
    assert out["v"].tolist() == pdf["v"].tolist()[:5]
    # vacuum must be a no-op on the copy (superseded_by cleared)
    tdb.vacuum(new)
    out = tdb.open(new, spark=spark).df[:].reset_index().sort_values("k")
    assert out["v"].tolist() == pdf["v"].tolist()[:5]


def test_consolidate_single_commit(uri, spark):
    """consolidate() supersedes the folded fragments in the SAME manifest
    commit that registers the new fragment — two commits would let a
    crash (or a concurrent reader) see folded fragments AND their
    product live simultaneously (doubled cells on duplicate-allowing
    schemas)."""
    from tiledb_py_spark import manifest as mf

    pdf = _pdf()
    tdb.from_pandas(uri, pdf.iloc[:5], index_dims=["k"], full_domain=True)
    tdb.from_pandas(uri, pdf.iloc[5:], index_dims=["k"], mode="append")
    v_before = mf.read_manifest(uri).version
    tdb.consolidate(uri)
    v_after = mf.read_manifest(uri).version
    assert v_after == v_before + 1  # exactly ONE commit
    # and the folded records are already superseded in that commit
    m = mf.read_manifest(uri)
    assert sum(1 for f in m.fragments
               if f.kind == "write" and f.superseded_by is None) == 1


def test_delete_mode(uri, spark):
    """Mode 'd' delete query (S15): anti-predicate fragment."""
    pdf = _pdf()
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v > 10.0").submit_delete()
    out = tdb.open(uri, spark=spark).df[:].reset_index()
    assert sorted(out["k"].tolist()) == [0, 1, 2, 3, 4, 5, 6]


def test_delete_null_cells_survive(uri, spark, format_keys):
    """TileDB QC semantics: NULL cells never match a delete condition, so
    they must SURVIVE the delete — under SQL three-valued logic the
    anti-filter would silently drop them (ADVICE r1, array.py delete)."""
    pdf = pd.DataFrame({
        "k": np.arange(6, dtype=np.int64),
        "v": pd.array([1.0, None, 30.0, None, 5.0, 50.0], dtype="Float64"),
    })
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="v > 10.0").submit_delete()
    out = tdb.open(uri, spark=spark).df[:].reset_index()
    # rows 2 and 5 match (30, 50) and die; nulls (1, 3) survive
    assert sorted(out["k"].tolist()) == [0, 1, 3, 4]
    assert format_keys(uri) == [0, 1, 3, 4]


def test_delete_negated_cond_null_semantics(uri, spark, format_keys):
    """Negation flips the leaf-level null->False: 'not (v > 10)' MATCHES
    null cells (leaf false, NOT true), so they are deleted."""
    pdf = pd.DataFrame({
        "k": np.arange(5, dtype=np.int64),
        "v": pd.array([1.0, None, 30.0, None, 50.0], dtype="Float64"),
    })
    tdb.from_pandas(uri, pdf, index_dims=["k"])
    with tdb.open(uri, "d", spark=spark) as A:
        A.query(cond="not (v > 10.0)").submit_delete()
    out = tdb.open(uri, spark=spark).df[:].reset_index()
    assert sorted(out["k"].tolist()) == [2, 4]
    assert format_keys(uri) == [2, 4]


def test_metadata_kv(uri, spark):
    tdb.from_pandas(uri, _pdf(), index_dims=["k"])
    A = tdb.open(uri, spark=spark)
    A.meta["owner"] = "test"
    A.meta["version"] = 3
    A.meta["ratio"] = 0.5
    assert A.meta["owner"] == "test"
    assert A.meta["version"] == 3
    assert len(A.meta) >= 3
    del A.meta["owner"]
    assert "owner" not in A.meta


def test_group(tmp_path, spark):
    g = str(tmp_path / "grp")
    tdb.Group.create(g)
    a1 = str(tmp_path / "grp" / "a1")
    tdb.from_pandas(a1, _pdf(), index_dims=["k"])
    with tdb.Group(g, "w") as grp:
        grp.add(a1, name="a1")
    with tdb.Group(g) as grp:
        assert len(grp) == 1
        assert grp["a1"].uri == a1
    assert tdb.object_type(g) == "group"
    assert tdb.object_type(a1) == "array"


def test_schema_evolution(uri, spark):
    tdb.from_pandas(uri, _pdf(), index_dims=["k"])
    ev = tdb.ArraySchemaEvolution()
    ev.add_attribute(tdb.Attr(name="extra", dtype=np.float64))
    ev.array_evolve(uri)
    A = tdb.open(uri, spark=spark)
    assert A.schema.has_attr("extra")
    out = A.df[:]
    assert "extra" in out.columns
    # sparse cells written before the attr existed read the FILL value,
    # not null (ADVICE r1: only the dense path coalesced to fill)
    assert np.isnan(out["extra"]).all()


def test_schema_evolution_int_fill(uri, spark):
    """Added int attr: pre-evolution cells read the int fill (type min for
    signed, type MAX for unsigned, per TileDB default-fill docs)."""
    tdb.from_pandas(uri, _pdf(), index_dims=["k"])
    ev = tdb.ArraySchemaEvolution()
    ev.add_attribute(tdb.Attr(name="xi", dtype=np.int32))
    ev.add_attribute(tdb.Attr(name="xu", dtype=np.uint16))
    ev.array_evolve(uri)
    out = tdb.open(uri, spark=spark).df[:]
    assert (out["xi"] == np.iinfo(np.int32).min).all()
    assert (out["xu"] == np.iinfo(np.uint16).max).all()


def test_group_metadata_consolidate_vacuum(tmp_path, spark):
    """Group metadata delta log: repeated writes accumulate delta files;
    consolidate folds them into the base document (values preserved,
    including overwrites and deletes); vacuum removes the folded files
    (reference group.py:321-352)."""
    import os

    g = str(tmp_path / "grp")
    tdb.Group.create(g)
    with tdb.Group(g, "w") as grp:
        grp.meta["a"] = 1
        grp.meta["b"] = "x"
        grp.meta["a"] = 2          # overwrite
        grp.meta["c"] = 3.5
        del grp.meta["b"]          # tombstone
    meta_dir = os.path.join(g, "__group_meta")
    assert len(os.listdir(meta_dir)) == 5
    with tdb.Group(g) as grp:
        assert grp.meta["a"] == 2 and grp.meta["c"] == 3.5
        assert "b" not in grp.meta

    n = tdb.Group.consolidate_metadata(g)
    assert n == 5
    removed = tdb.Group.vacuum_metadata(g)
    assert removed == 5
    assert [f for f in os.listdir(meta_dir) if f.startswith("meta_")] == []
    with tdb.Group(g) as grp:
        assert grp.meta["a"] == 2 and grp.meta["c"] == 3.5
        assert "b" not in grp.meta
    # vacuum without a prior consolidate is a no-op
    assert tdb.Group.vacuum_metadata(g) == 0


def test_out_of_domain_write_rejected(uri, tmp_path, spark):
    """Coordinates outside the declared dim domain are REJECTED at write
    time (reference core behavior) instead of silently polluting
    nonempty_domain and full-range reads; the staged fragment is cleaned
    up, and in-domain writes still land."""
    dim = tdb.Dim(name="k", domain=(0, 9), tile=10, dtype=np.int64)
    schema = tdb.ArraySchema(domain=tdb.Domain(dim),
                             attrs=[tdb.Attr(name="v", dtype=np.float64)],
                             sparse=True)
    tdb.Array.create(uri, schema)
    with pytest.raises(IndexError, match="outside the domain"):
        with tdb.open(uri, "w", spark=spark) as A:
            A[np.array([5, 100])] = np.array([1.0, 2.0])
    assert len(tdb.array_fragments(uri)) == 0
    assert tdb.open(uri).nonempty_domain() is None
    with tdb.open(uri, "w", spark=spark) as A:
        A[np.array([5, 9])] = np.array([1.0, 2.0])
    assert tdb.open(uri, spark=spark).nonempty_domain()[0] == (5, 9)
