"""Seeded input generator for the ingest workload.

Everything here is a pure function of ``(seed, file counts)``: the same
seed writes byte-identical inputs, so two runs on one seed measure the
same work.
Nothing in this module imports Spark; generation is never timed.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass, field

BUCKET = "bench"

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark "
    "line sort window order data column join small customer query big stream "
    "group filter vector"
).split()
_CITIES = ("Berlin", "Lagos", "Lima", "Osaka", "Pune", "Quito", "Oslo", "Perth")
_LEVELS = ("INFO", "WARN", "DEBUG", "ERROR")


@dataclass
class IngestInputs:
    """The landing files of one pass and what ingesting them must produce."""

    landing_dir: str
    #: key -> data rows the parser must sink for it (good files only)
    expected_rows: dict[str, int] = field(default_factory=dict)
    #: keys no routing rule matches; each must end as one Failed audit row
    unroutable: list[str] = field(default_factory=list)
    input_bytes: int = 0

    @property
    def keys(self) -> list[str]:
        return sorted(self.expected_rows) + sorted(self.unroutable)


def _csv_file(rng: random.Random, n: int) -> str:
    lines = ["id,name,city,amount"]
    for i in range(n):
        lines.append(
            f"{i},user{rng.randrange(10**6)},{rng.choice(_CITIES)},"
            f"{rng.randrange(10**5) / 100:.2f}"
        )
    return "\n".join(lines) + "\n"


def _json_file(rng: random.Random, n: int) -> str:
    docs = [
        {
            "id": i,
            "name": f"item{rng.randrange(10**6)}",
            "value": rng.randrange(-1000, 1000),
            "active": rng.random() < 0.5,
        }
        for i in range(n)
    ]
    return json.dumps(docs)


def _txt_file(rng: random.Random, n: int) -> str:
    lines = [
        f"2024-01-01T00:{i // 60 % 60:02d}:{i % 60:02d} {rng.choice(_LEVELS)} "
        + " ".join(rng.choice(_WORDS) for _ in range(rng.randint(3, 12)))
        for i in range(n)
    ]
    return "\n".join(lines) + "\n"


def make_ingest_inputs(
    out_dir: str, seed: int, n_csv: int, n_json: int, n_txt: int, n_unroutable: int
) -> IngestInputs:
    """KB-scale files in the reference's seed-rule mix (``uploads/*.csv``,
    ``uploads/*.json``, ``logs/*.txt``) plus keys no rule routes."""
    rng = random.Random(seed)
    inputs = IngestInputs(landing_dir=out_dir)
    # row counts are fixed per format so every seed sinks the same rows
    makers = (
        [("uploads/part-{:03d}.csv", _csv_file, 80)] * n_csv
        + [("uploads/doc-{:03d}.json", _json_file, 60)] * n_json
        + [("logs/app-{:03d}.txt", _txt_file, 100)] * n_txt
    )
    for i, (pattern, maker, rows) in enumerate(makers):
        key = pattern.format(i)
        body = maker(rng, rows)
        path = os.path.join(out_dir, BUCKET, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(body)
        inputs.expected_rows[key] = rows
        inputs.input_bytes += len(body.encode())
    for i in range(n_unroutable):
        key = f"misc/notes-{i:03d}.md"
        path = os.path.join(out_dir, BUCKET, key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write("# no rule routes this key\n")
        inputs.unroutable.append(key)
    return inputs


def s3_event_body(bucket: str, key: str) -> str:
    """One S3 ObjectCreated notification, as an SQS message body carries it."""
    return json.dumps(
        {"Records": [{"s3": {"bucket": {"name": bucket}, "object": {"key": key}}}]}
    )


def write_queue(queue_dir: str, keys: list[str], per_receive: int) -> None:
    """One queue file per SQS receive, each holding at most ``per_receive``
    message bodies (one per line)."""
    os.makedirs(queue_dir, exist_ok=True)
    for n, start in enumerate(range(0, len(keys), per_receive)):
        with open(os.path.join(queue_dir, f"receive-{n:04d}.txt"), "w") as f:
            for key in keys[start : start + per_receive]:
                f.write(s3_event_body(BUCKET, key) + "\n")
