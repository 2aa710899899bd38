"""CATALOG.md is generated from the query registries and their
docstrings; the committed file must match what the generator renders
today, so a catalog or docstring edit cannot leave the doc stale.
Regenerate with ``python tools/gen_catalog_doc.py``."""

from __future__ import annotations

import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_doc_matches_registries() -> None:
    spec = importlib.util.spec_from_file_location(
        "gen_catalog_doc", os.path.join(REPO, "tools", "gen_catalog_doc.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with open(gen.CATALOG_PATH) as f:
        committed = f.read()
    assert gen.render() == committed, (
        "CATALOG.md is stale: run python tools/gen_catalog_doc.py"
    )
