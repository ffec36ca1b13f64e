"""Every encode entry point takes its configuration as one
``WriterProperties`` (``props``) and nothing else. This checks the
signatures, so a keyword copy of a ``WriterProperties`` field (or of one
of its old aliases) coming back onto an entry point fails here rather
than as a silently ignored option."""

import dataclasses
import importlib
import inspect

import pytest

from parquet_cpp_spark.properties import WriterProperties

ENCODE_ENTRY_POINTS = [
    ("operators.encode_arrow", "make_arrow_encode_fn"),
    ("operators.encode_arrow", "encode_scan_local"),
    ("operators.encode_arrow", "make_grouped_arrow_encode_fn"),
    ("operators.encode_arrow", "encode_df_arrow"),
    ("sources.parquet_direct", "encode_parquet_direct"),
    ("sources.chunk_sink", "encode_parquet_direct_sink"),
    ("plans.encode_job", "encode_pipeline"),
    ("plans.encode_job", "run_checkpointed"),
]
# keyword spellings the entry points used before props was their only knob
OLD_ALIASES = {"dict_size_limit", "page_size", "bloom_columns",
               "slices_per_core"}


def _params(module: str, name: str) -> set:
    fn = getattr(importlib.import_module(f"parquet_cpp_spark.{module}"),
                 name)
    return set(inspect.signature(fn).parameters)


def _knobs() -> set:
    return {f.name for f in dataclasses.fields(WriterProperties)} \
        | OLD_ALIASES


@pytest.mark.parametrize("module,name", ENCODE_ENTRY_POINTS)
def test_encode_entry_point_takes_only_props(module, name):
    params = _params(module, name)
    assert "props" in params
    assert sorted(params & _knobs()) == []


def test_streaming_encode_takes_no_encode_knob():
    """The streaming sink encodes each micro-batch with the default
    ``WriterProperties``; it has no caller that sets a knob."""
    params = _params("streaming.encode_stream", "start_encode_stream")
    assert sorted(params & (_knobs() | {"props"})) == []


@pytest.mark.parametrize("module,name", [
    ("operators.decode_arrow", "decode_parquet_direct"),
    ("sources.parquet_sink", "write_parquet_dataset")])
def test_task_count_is_not_an_option(module, name):
    assert "slices_per_core" not in _params(module, name)
