from __future__ import annotations

import threading
from collections.abc import Iterator
from contextlib import contextmanager

import pytest

from clashroyale_datapipeline_agent_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


class CallCount:
    """A running count, read as ``.n`` inside or after the ``with`` block."""

    n = 0


@contextmanager
def _counting(owner: type, method: str, *, per_object: bool = False) -> Iterator[CallCount]:
    """Count calls of ``owner.method`` made by this thread inside the block
    (other threads, such as Spark's callback server, are not counted);
    ``per_object`` counts each ``self`` once."""
    count = CallCount()
    thread = threading.get_ident()
    original = getattr(owner, method)
    seen: dict[int, object] = {}  # holds each counted self, so ids stay unique

    def counted(self, *args, **kwargs):
        if threading.get_ident() == thread and not (per_object and id(self) in seen):
            seen[id(self)] = self
            count.n += 1
        return original(self, *args, **kwargs)

    setattr(owner, method, counted)
    try:
        yield count
    finally:
        setattr(owner, method, original)


def py4j_calls() -> Iterator[CallCount]:
    """``with py4j_calls() as c:`` — py4j round trips to the JVM in the block."""
    from py4j.clientserver import ClientServerConnection

    return _counting(ClientServerConnection, "send_command")


def dataframes_created() -> Iterator[CallCount]:
    """``with dataframes_created() as c:`` — DataFrames built in the block.

    Counts objects: a classic DataFrame runs ``__init__`` twice (once from
    its ``__new__``), so ``__init__`` calls are twice this count."""
    from pyspark.sql.classic.dataframe import DataFrame

    return _counting(DataFrame, "__init__", per_object=True)
