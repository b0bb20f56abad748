"""docs/CATALOG.md is generated from the REGISTRY: the committed file
must equal a fresh render, so a query added, moved or re-documented
without regenerating the doc fails here."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def test_committed_catalog_doc_is_current():
    spec = importlib.util.spec_from_file_location(
        "catalog_doc", ROOT / "tools" / "catalog_doc.py"
    )
    catalog_doc = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(catalog_doc)
    assert (ROOT / "docs" / "CATALOG.md").read_text() == catalog_doc.render()
