"""The two custom Python data sources behind `source_python_datasource`
and `source_python_stream_datasource` (Spark 4's Python DataSource API).

`connectors` registers this module with cloudpickle's
`register_pickle_by_value`, so the classes travel to Python workers as
code rather than as a `module.qualname` reference. The streaming
source's planner worker never sees the package zip that
`session.ship_package_to_executors` adds, so a by-reference pickle
fails there with `ModuleNotFoundError` whenever the driver runs outside
the checkout. This module therefore imports nothing from the package.
"""

from __future__ import annotations

import hashlib

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)


def _fp(i: int) -> str:
    return hashlib.md5(str(i).encode()).hexdigest()


class SynthRangeDataSource(DataSource):
    """Custom batch source: a partition-parallel deterministic row
    generator — the minimal harness for plugging ANY Python-reachable
    system (REST API, message queue, bespoke format) into
    `spark.read.format(...)`. Each InputPartition reads its residue class
    independently, so the scan parallelizes exactly like a file source's
    splits."""

    @classmethod
    def name(cls) -> str:
        return "synthrange"

    def schema(self) -> str:
        return "id bigint, shard int, fp string"

    def reader(self, schema):
        return _SynthRangeReader(self.options)


class _SynthRangeReader(DataSourceReader):
    def __init__(self, options):
        self.n = int(options.get("n", "1000"))
        self.parts = int(options.get("partitions", "8"))

    def partitions(self):
        return [InputPartition(i) for i in range(self.parts)]

    def read(self, partition):
        shard = partition.value
        for i in range(shard, self.n, self.parts):
            yield (i, shard, _fp(i))


class SynthTickStreamSource(DataSource):
    """Custom STREAMING source — the streaming twin of
    `SynthRangeDataSource`, using the EXECUTOR-PARALLEL
    `DataSourceStreamReader` (not the driver-prefetching Simple variant):
    the driver only tracks offsets; `partitions(start, end)` splits each
    micro-batch's offset range into shards and executors run `read()` in
    parallel — the Kafka-consumer split model, reachable from pure
    Python. This is how a bespoke queue/REST/changelog system plugs into
    Structured Streaming without JVM code."""

    @classmethod
    def name(cls) -> str:
        return "synthtick"

    def schema(self) -> str:
        return "id bigint, batch int, fp string"

    def streamReader(self, schema):
        return _SynthTickStreamReader(self.options)


class _SynthTickStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        self.n = int(options.get("n", "2000"))
        self.batch = int(options.get("batch", "500"))
        self.parts = int(options.get("partitions", "4"))
        self._latest = 0

    def initialOffset(self) -> dict:
        return {"offset": 0}

    def latestOffset(self) -> dict:
        # one batch-worth of new rows becomes available per poll,
        # until the configured end of stream
        self._latest = min(self._latest + self.batch, self.n)
        return {"offset": self._latest}

    def partitions(self, start: dict, end: dict):
        lo, hi = start["offset"], end["offset"]
        return [
            InputPartition((lo, hi, i, self.parts, self.batch))
            for i in range(self.parts)
        ]

    def read(self, partition):
        lo, hi, shard, parts, batch = partition.value
        for i in range(lo + shard, hi, parts):
            yield (i, i // batch, _fp(i))

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: the generator is stateless
