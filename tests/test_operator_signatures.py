"""Each operator has one implementation: no public operator or
streaming callable takes an ``impl`` selector."""

import importlib
import inspect
import pkgutil


def _public_callables(pkg):
    for info in pkgutil.iter_modules(pkg.__path__):
        mod = importlib.import_module(f"{pkg.__name__}.{info.name}")
        for name, obj in vars(mod).items():
            if name.startswith("_") or not callable(obj) \
                    or getattr(obj, "__module__", None) != mod.__name__:
                continue
            qual = f"{mod.__name__}.{name}"
            yield qual, obj
            if inspect.isclass(obj):
                for m in vars(obj):
                    if not m.startswith("_") and callable(getattr(obj, m)):
                        yield f"{qual}.{m}", getattr(obj, m)


def test_no_operator_takes_impl():
    import tiledb_py_spark.operators as ops
    import tiledb_py_spark.streaming as streaming

    walked, offenders = set(), []
    for pkg in (ops, streaming):
        for qual, fn in _public_callables(pkg):
            walked.add(qual)
            try:
                params = inspect.signature(fn).parameters
            except (TypeError, ValueError):
                continue
            if "impl" in params:
                offenders.append(qual)
    assert "tiledb_py_spark.operators.similarity.IVFIndex.assign" in walked
    assert "tiledb_py_spark.streaming.events.ewma" in walked
    assert not offenders, offenders
