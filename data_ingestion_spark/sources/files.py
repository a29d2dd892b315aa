"""Whole-file reads shared by the ingest parsers.

Formats Spark has no reader for (XML, XLSX, HTML, PDF, Avro) decode whole
files on executors: one ``binaryFile`` scan feeding one Arrow-batched
``mapInPandas`` pass, each file's bytes decoded by the format's own
``decode(content) -> rows`` — the rebuild's counterpart of the reference's
per-format ``DataParser`` (ports.rs:11-14). Readers that only need file
names or sizes (the CSV header file, the TXT mode switch, the XLSX/Avro
header peek) take them from one driver-side Hadoop listing, which starts
no Spark job and skips the hidden side files (``_SUCCESS``, ``.crc``,
``_temporary/``) Spark's readers skip; ``first_path`` is the one place
that picks the lexicographically first file when one file of a directory
stands for the rest.
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator, Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _hidden(name: str) -> bool:
    """Spark's rule for the names its file readers skip
    (``InMemoryFileIndex.shouldFilterOutPathName``): ``_SUCCESS``,
    ``_temporary/``, ``.crc`` side files and in-flight ``._COPYING_``
    copies, but not ``_col=v`` partition directories. (Spark also keeps
    Parquet's ``_metadata`` files; no reader here reads Parquet.)"""
    return name.startswith(".") or (name.startswith("_") and "=" not in name) \
        or name.endswith("._COPYING_")


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """``(path, bytes)`` of every file under ``path`` — a file, a directory
    (recursive) or a glob, as Spark's readers take it; empty when nothing
    matches — that Spark's readers would read (hidden names below a match
    skipped), from one driver-side Hadoop FS listing: metadata only, no
    Spark job, any supported filesystem (file://, s3a://, hdfs://)."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for match in fs.globStatus(hpath) or []:
        root = str(match.getPath())
        it = fs.listFiles(match.getPath(), True)
        while it.hasNext():
            status = it.next()
            file = str(status.getPath())
            if not any(_hidden(part) for part in file[len(root):].split("/")):
                out.append((file, int(status.getLen())))
    return out


def first_path(spark: SparkSession, path: str) -> Optional[str]:
    """The lexicographically first file under ``path`` — the one file that
    stands for a directory in the CSV header read and the XLSX/Avro header
    peek — or None when there is none."""
    return min((file for file, _ in list_files(spark, path)), default=None)


def first_file(spark: SparkSession, path: str, max_bytes: int = 0) -> Optional[bytes]:
    """The bytes of ``first_path(spark, path)`` (only its first ``max_bytes``
    when > 0, cut before they leave the executor), or None when there is no
    file."""
    first = first_path(spark, path)
    if first is None:
        return None
    content = F.substring("content", 1, max_bytes) if max_bytes > 0 else F.col("content")
    return bytes(spark.read.format("binaryFile").load(first).select(content).first()[0])


def decode_files(
    spark: SparkSession,
    path: str,
    decode: Callable[[bytes], Iterable[Any]],
    schema: Union[str, T.StructType],
) -> DataFrame:
    """Rows of ``decode(content)`` for every file under ``path``, in one
    ``mapInPandas`` pass over a ``binaryFile`` scan (each file decoded once,
    its bytes loaded lazily on the executor that reads it, never on the
    driver). Each row is a sequence in ``schema``'s
    field order."""
    schema = T.StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = schema.fieldNames()

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [row for content in pdf["content"] for row in decode(bytes(content))]
            # with ``columns`` given, an empty batch is object-typed, not
            # float64 (which Arrow cannot convert to string/map columns)
            yield pd.DataFrame(rows, columns=names)

    binary = spark.read.format("binaryFile").load(path).select("content")
    return binary.mapInPandas(_decode, schema=schema)
