"""The traced benchmark run (``perfbench/tracing.py``) wraps package
functions it looks up by module and attribute name. This checks, without
importing the benchmark, that every name it looks up exists, so removing a
shimmed function fails here rather than in a traced run."""

import ast
import importlib
import os

TRACING = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "perfbench", "tracing.py")


def _tree():
    with open(TRACING) as fh:
        return ast.parse(fh.read())


def _attr_names(node) -> list:
    """Keys of one SHIMS entry: a dict literal or ``{n: ... for n in
    (names...)}``."""
    if isinstance(node, ast.Dict):
        return [k.value for k in node.keys]
    assert isinstance(node, ast.DictComp), ast.dump(node)
    return [e.value for e in node.generators[0].iter.elts]


def _shims() -> dict:
    for node in _tree().body:
        if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "SHIMS"
                for t in node.targets):
            return {k.value: _attr_names(v)
                    for k, v in zip(node.value.keys, node.value.values)}
    raise AssertionError("perfbench/tracing.py has no SHIMS table")


def test_shim_targets_exist():
    shims = _shims()
    assert len(shims) > 10
    missing = [f"{mod}.{attr}" for mod, attrs in shims.items()
               for attr in attrs
               if not callable(getattr(importlib.import_module(mod), attr,
                                       None))]
    assert missing == []


def test_encode_arrow_names_exist():
    from parquet_cpp_spark.operators import encode_arrow
    used = {n.attr for n in ast.walk(_tree())
            if isinstance(n, ast.Attribute)
            and isinstance(n.value, ast.Name) and n.value.id == "encode_arrow"}
    assert "make_arrow_encode_fn" in used
    assert [a for a in sorted(used) if not hasattr(encode_arrow, a)] == []
    assert callable(encode_arrow.make_arrow_encode_fn().encode_part)
