"""Import boundary of the docket product.

The product — ``cli``, ``api``, the ingest/RAG/query/quality plans,
``sources`` and ``functions`` — must load only the code it runs: no
registry (``plans.registry``, ``plans.driver_queries*``), no streaming
seam, no ``operators`` module, no ``functions.hashing``, and not the
registry's two-dialect SQL builders in ``functions.portable`` (the
product's hash embedding is ``functions.hashembed``).  The import runs
in a fresh interpreter so modules loaded by other tests cannot hide (or
fake) a leak.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "legal_data_ingestion_rag_pipeline_spark"

PRODUCT = (
    "cli",
    "api",
    "plans.ingest",
    "plans.rag",
    "plans.queries",
    "plans.quality_report",
    "sources",
    "sources.readers",
    "sources.sinks",
    "functions",
)

#: Package source lines the product may load: the measured total, so
#: any growth is a decision (3,177 when this test was written, 2,986
#: after the unused reader and sink helpers went, 2,838 once ingest
#: stopped importing the surrogate-id operators, 2,450 once the hash
#: embedding left ``functions.portable``, 2,535 with the serving
#: snapshot, 2,395 once the warehouse had one manifest-committed store
#: and ``TlogStore`` left ``sources``, 2,416 once the manifest recorded
#: each table's schema, 2,363 once ingest parsed parties with one
#: grammar, 2,447 once a load built the serving snapshot from the
#: warehouse's parquet files, 2,499 once a load planned no Spark frame
#: and needed no session, 2,541 once the warehouse staged its tables
#: and the quality report collected its sections concurrently; the
#: operator and registry modules it must not load come to over 9,000
#: more).
LINE_BUDGET = 2541

_PROBE = f"""
import importlib, json, sys
for m in {PRODUCT!r}:
    importlib.import_module("{PKG}." + m)
mods = {{}}
for name, mod in sys.modules.items():
    if name == "{PKG}" or name.startswith("{PKG}."):
        with open(mod.__file__, encoding="utf-8") as f:
            mods[name[len("{PKG}."):] if "." in name else ""] = sum(1 for _ in f)
print(json.dumps(mods))
"""


def _product_modules() -> dict[str, int]:
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        cwd=ROOT,
        capture_output=True,
        text=True,
        check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_product_loads_no_registry_streaming_or_unused_operators():
    mods = _product_modules()
    leaked = sorted(
        m
        for m in mods
        if m == "plans.registry"
        or m.startswith("plans.driver_queries")
        or m == "streaming"
        or m.startswith("streaming.")
        or m.startswith("operators.")
        or m in ("functions.portable", "functions.hashing")
    )
    assert not leaked, f"product imports code it does not run: {leaked}"
    total = sum(mods.values())
    assert total <= LINE_BUDGET, (
        f"product loads {total} package lines (budget {LINE_BUDGET}): "
        f"{sorted(mods)}"
    )
