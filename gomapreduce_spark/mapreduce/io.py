"""Inputer/Outputer implementations — the reference's source/sink hooks.

The reference ships exactly one of each, both S3-backed
(S3Inputer: reference inputer.go:23-43 + s3_utils.go:39-67;
S3Outputer: outputer.go:21-34, int-values-only). Here:

- ``DirectoryInputer``  — a directory of text files; each file is one
  chunk (the reference's "prechunked" layout, jobConfig.go:11).
- ``MemoryInputer``     — in-memory dict, for tests.
- ``DataFrameInputer``  — adapts any 2-column DataFrame (key, value).
- ``MemoryOutputer``    — collects pairs on the driver (test-scale; the
  reference's one-S3-object-per-key sink is the same driver-side,
  per-key loop, outputer.go:29-34).
- ``PartitionedSink``   — parquet files of ``key string, value string``
  rows, each file sorted by key: the MapReduce paper's R output files
  (one file for a result small enough to buffer on the driver) in
  place of the reference's one object per key.
- ``split_file_into_chunks`` — the reference's input chunker
  (s3_utils.go:71-107): split a file into ~chunk_size byte pieces on
  line boundaries. Kept for API fidelity; Spark's file splitting
  (spark.sql.files.maxPartitionBytes) makes it unnecessary on the
  analytics path.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame

from .api import Inputer, Outputer


class MemoryInputer(Inputer):
    def __init__(self, data: dict[str, Any]):
        self._data = dict(data)

    def list_keys(self) -> list[str]:
        return sorted(self._data)

    def get_value(self, key: str) -> Any:
        return self._data[key]


class DirectoryInputer(Inputer):
    """One chunk per file under ``folder`` — the prechunked layout the
    reference's ListKeys enumerates via S3 prefix listing
    (inputer.go:33-37). Executors read files directly (local/NFS/S3A
    path), so GetValue runs distributed, like the reference's per-task
    S3 GET (inputer.go:39-43)."""

    def __init__(self, folder: str):
        self.folder = folder

    def list_keys(self) -> list[str]:
        return sorted(
            f for f in os.listdir(self.folder) if os.path.isfile(os.path.join(self.folder, f))
        )

    def get_value(self, key: str) -> str:
        with open(os.path.join(self.folder, key), encoding="utf-8") as fh:
            return fh.read()


class DataFrameInputer(Inputer):
    """Adapts a (key, value) DataFrame without ever materializing the
    values on the driver.

    The engine detects ``as_rdd`` and maps the DataFrame's own
    distributed partitions straight into the map phase — data never
    moves driver-ward (the round-1 version collected the whole frame
    into every task's closure). The ``list_keys``/``get_value`` pair
    stays for API fidelity: enumeration collects ONLY the key column
    (the reference's ListKeys is exactly that, inputer.go:33-37) and
    ``get_value`` is a filtered point lookup — fine for a debugger,
    quadratic if an engine loops over it, which ours no longer does."""

    def __init__(self, df: DataFrame, key_col: str, value_col: str):
        self._kv = df.select(
            df[key_col].cast("string").alias("key"), df[value_col].alias("value")
        )

    def as_rdd(self, sc) -> Any:  # noqa: ARG002 - sc kept for hook symmetry
        """Distributed (key, value) pairs — the engine's preferred path."""
        return self._kv.rdd.map(lambda r: (r[0], r[1]))

    def list_keys(self) -> list[str]:
        return sorted(r[0] for r in self._kv.select("key").collect())

    def get_value(self, key: str) -> Any:
        rows = self._kv.where(self._kv.key == key).take(1)
        if not rows:
            raise KeyError(key)
        return rows[0][1]


class MemoryOutputer(Outputer):
    def __init__(self) -> None:
        self.results: dict[str, Any] = {}

    def output(self, key: str, value: Any) -> None:
        self.results[key] = value


class PartitionedSink(Outputer):
    """Distributed keyed sink — the scale-correct version of the
    reference's one-S3-object-per-key S3Outputer (outputer.go:29-34).

    The output is plain parquet with two string data columns, ``key``
    and ``value``, so every key reads back exactly as written (no
    type inference from directory names). One object — or one
    directory — per key is pathological at 100 TB: a billion tiny PUTs.

    ``output()`` buffers driver-side for facade fidelity and the engine
    flushes the buffer when the job finishes (``flush`` is called by
    MapReduceEngine._run for any outputer that defines it) — so
    ``submit(..., PartitionedSink(path))`` produces files without the
    caller knowing about ``write_rdd``. ``flush`` hands the JVM one
    key-sorted Arrow table (a local relation: no Python stage), writes
    it as one file and always overwrites ``path``, with an empty dataset
    when there are no results. ``write_rdd`` is the fully distributed
    path for results above the engine's driver cap: it writes the R
    reduce partitions as they are, each sorted by key — the MapReduce
    paper's R output files; hash partitioning puts each key in exactly
    one of them. Read back with ``spark.read.parquet(path)``."""

    def __init__(self, path: str):
        self.path = path
        self.results: dict[str, Any] = {}

    def output(self, key: str, value: Any) -> None:
        self.results[key] = value

    def flush(self, spark) -> None:
        import pyarrow as pa

        rows = sorted((str(k), str(v)) for k, v in self.results.items())
        table = pa.table({
            "key": pa.array([k for k, _ in rows], pa.string()),
            "value": pa.array([v for _, v in rows], pa.string()),
        })
        # at most MAX_DRIVER_RESULT_PAIRS rows: one file, not one per core
        spark.createDataFrame(table).coalesce(1).write.mode("overwrite").parquet(self.path)

    def write_rdd(self, spark, pairs_rdd) -> None:
        df = spark.createDataFrame(
            pairs_rdd.map(lambda kv: (str(kv[0]), str(kv[1]))), "key string, value string"
        )
        df.sortWithinPartitions("key").write.mode("overwrite").parquet(self.path)


def split_file_into_chunks(filepath: str, out_dir: str, chunk_size: int) -> list[str]:
    """Split ``filepath`` into ~chunk_size byte chunks on line
    boundaries, one file per chunk named ``0, 1, 2, ...`` — the
    reference's SplitFileIntoChunks (s3_utils.go:71-107), local-dir
    flavored. Returns the chunk file names."""
    os.makedirs(out_dir, exist_ok=True)
    names: list[str] = []
    with open(filepath, encoding="utf-8") as fh:
        buf: list[str] = []
        size = 0
        for line in fh:
            buf.append(line)
            size += len(line.encode("utf-8"))
            if size >= chunk_size:
                names.append(_write_chunk(out_dir, len(names), buf))
                buf, size = [], 0
        if buf:
            names.append(_write_chunk(out_dir, len(names), buf))
    return names


def _write_chunk(out_dir: str, idx: int, lines: list[str]) -> str:
    name = str(idx)
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as fh:
        fh.writelines(lines)
    return name
