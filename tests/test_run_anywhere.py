"""The engine runs from any working directory and sizes its driver to
the host.

Python workers must import the package even when the caller's cwd is
not the repository and ``PYTHONPATH`` is unset: ``get_spark`` ships the
package's parent directory to them. One Arrow-worker query and one
ingest query run in a fresh interpreter to show it.
"""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd

from data_ingestion_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import sys
sys.path.insert(0, {root!r})
from data_ingestion_spark.queries import merged_queries
from data_ingestion_spark.session import get_spark
spark = get_spark("run_anywhere", cpus=2)
queries = merged_queries()
for name in ("multimodal_metadata_docs", "ingest_avro_docs"):
    print(name, len(queries[name][0](spark, {sf_dir!r}).collect()))
"""


def test_queries_run_from_a_foreign_cwd(tmp_path):
    sf_dir, cwd = tmp_path / "sf", tmp_path / "cwd"
    sf_dir.mkdir()
    cwd.mkdir()
    pd.DataFrame({"doc_id": range(1, 21)}).to_parquet(sf_dir / "documents.parquet")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT.format(root=ROOT, sf_dir=str(sf_dir))],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    counts = dict(line.split() for line in proc.stdout.splitlines())
    assert counts == {"multimodal_metadata_docs": "20", "ingest_avro_docs": "3"}


def test_driver_memory_follows_host_ram(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert session._driver_memory() == f"{min(48, max(1, ram // 2 // 2**30))}g"
    assert 1 <= int(session._driver_memory()[:-1]) <= 48
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
