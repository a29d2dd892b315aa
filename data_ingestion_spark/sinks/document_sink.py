"""Document-store sink: rows → JSON documents → bulk insert.

The reference's Mongo/CouchDB/DocumentDB repos all do the same thing: render
each record as a JSON document and bulk-insert into a named collection
(mongodb/data_repo.rs:32-59, couchdb/data_repo.rs:22-59 `_bulk_docs`,
documentdb/data_repo.rs:17-44). The rebuild expresses that as:

    df → to_json(struct(*))  [JVM-side render, one string column]
      → foreachPartition(bulk insert of batches)

The connector layer is pluggable and import-gated: with pymongo installed,
``MongoBulkWriter`` ships batches via insert_many (one connection per
partition, batched — never per-row); without it, ``JsonLinesWriter`` lands
the same wire payload as .jsonl files so the dataflow stays testable in this
container. Both run executor-side and scale with partition count.
"""

from __future__ import annotations

import json
import os
import uuid
from typing import Callable, Iterable, Iterator, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

BulkWriter = Callable[[str, Iterator[str]], None]


def _batches(docs: Iterator[str], batch_size: int) -> Iterator[list]:
    """Parsed JSON documents in lists of ``batch_size`` (the last one
    shorter, never empty) — one bulk request each."""
    batch: list = []
    for doc in docs:
        batch.append(json.loads(doc))
        if len(batch) >= batch_size:
            yield batch
            batch = []
    if batch:
        yield batch


class JsonLinesWriter:
    """Default bulk 'connector': one .jsonl part per partition batch.

    Stands in for the NoSQL wire protocol in environments without a driver;
    the payload per document is byte-identical to what insert_many would
    receive.
    """

    def __init__(self, out_dir: str) -> None:
        self.out_dir = out_dir

    def __call__(self, target_table: str, docs: Iterator[str]) -> None:
        table_dir = os.path.join(self.out_dir, target_table)
        os.makedirs(table_dir, exist_ok=True)
        part = os.path.join(table_dir, f"part-{uuid.uuid4().hex}.jsonl")
        wrote = False
        with open(part, "w", encoding="utf-8") as fh:
            for doc in docs:
                fh.write(doc)
                fh.write("\n")
                wrote = True
        if not wrote:
            os.remove(part)


def make_mongo_writer(
    uri: str,
    database: str,
    batch_size: int = 1000,
    client_factory: Optional[Callable[[], object]] = None,
) -> BulkWriter:
    """Bulk writer with pymongo insert_many batching (reference:
    src/infrastructure/mongodb/data_repo.rs:32-59 — render + bulk insert).

    ``client_factory`` injects the connection (tests drive a fake client;
    production omits it and gets ``pymongo.MongoClient(uri)``). The factory
    runs EXECUTOR-side, once per partition — one connection per partition,
    batched inserts, never per-row."""
    if client_factory is None:
        try:
            import pymongo  # noqa: F401
        except ImportError as ex:
            raise NotImplementedError(
                "pymongo is not installed; inject client_factory, use "
                "JsonLinesWriter, or add the mongo-spark-connector jar and "
                "write via df.write.format('mongodb')"
            ) from ex

        def client_factory() -> object:  # pragma: no cover - needs pymongo
            import pymongo

            return pymongo.MongoClient(uri)

    def _write(target_table: str, docs: Iterator[str]) -> None:
        client = client_factory()
        coll = client[database][target_table]
        for batch in _batches(docs, batch_size):
            coll.insert_many(batch)
        client.close()

    return _write


def make_couchdb_writer(
    base_url: str,
    batch_size: int = 1000,
    transport: Optional[Callable[[str, bytes], object]] = None,
) -> BulkWriter:
    """CouchDB bulk writer via the ``_bulk_docs`` REST endpoint (reference:
    src/infrastructure/couchdb/data_repo.rs:22-59) — POST
    ``{base_url}/{db}/_bulk_docs`` with ``{"docs": [...]}`` JSON payloads.

    ``transport(url, body) -> response`` injects the HTTP layer (tests use a
    fake recording transport; production omits it and gets stdlib urllib —
    no external dependency). Runs executor-side per partition, batched."""
    if transport is None:

        def transport(url: str, body: bytes) -> object:  # pragma: no cover
            import urllib.request

            req = urllib.request.Request(
                url,
                data=body,
                headers={"Content-Type": "application/json"},
                method="POST",
            )
            with urllib.request.urlopen(req) as resp:
                return resp.read()

    def _write(target_table: str, docs: Iterator[str]) -> None:
        url = f"{base_url.rstrip('/')}/{target_table}/_bulk_docs"
        for batch in _batches(docs, batch_size):
            transport(url, json.dumps({"docs": batch}).encode("utf-8"))

    return _write


class DocumentSink:
    def __init__(self, bulk_writer: BulkWriter) -> None:
        self.bulk_writer = bulk_writer

    def insert_documents(self, target_table: str, df: DataFrame) -> None:
        """Render rows to JSON docs JVM-side, bulk-insert per partition."""
        docs = df.select(F.to_json(F.struct(*df.columns)).alias("doc"))
        writer = self.bulk_writer

        def _per_partition(rows: Iterable) -> None:
            writer(target_table, (r["doc"] for r in rows))

        docs.foreachPartition(_per_partition)
