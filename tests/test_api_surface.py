"""The streaming API carries no option that nothing reads.

A config field that no code reads is a silently ignored knob: a caller sets
it and nothing changes.  This pins that every settable field of the
streaming and Pulsar config classes is read as an attribute somewhere in
the package, ``perfbench/`` or ``examples/``.  No Spark session is needed.
"""

from __future__ import annotations

import ast
import dataclasses
import functools
import pathlib

import pytest

from pulsar_pekko_streams_example_spark.sources.pulsar import (
    PulsarSinkConfig,
    PulsarSourceConfig,
)
from pulsar_pekko_streams_example_spark.streaming.permits import PermitConfig
from pulsar_pekko_streams_example_spark.streaming.retry import RetryRouter
from pulsar_pekko_streams_example_spark.streaming.workload import Workload

ROOT = pathlib.Path(__file__).resolve().parent.parent
READERS = ("pulsar_pekko_streams_example_spark", "perfbench", "examples")


@functools.cache
def _attributes_read() -> frozenset[str]:
    names = set()
    for top in READERS:
        for path in (ROOT / top).rglob("*.py"):
            for node in ast.walk(ast.parse(path.read_text(), str(path))):
                if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Load):
                    names.add(node.attr)
    return frozenset(names)


@pytest.mark.parametrize(
    "cls", [RetryRouter, Workload, PermitConfig, PulsarSourceConfig, PulsarSinkConfig]
)
def test_every_init_field_is_read(cls):
    read = _attributes_read()
    unread = [f.name for f in dataclasses.fields(cls) if f.init and f.name not in read]
    assert not unread, f"{cls.__name__} fields that no code reads: {unread}"
