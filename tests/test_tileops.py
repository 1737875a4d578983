"""Module boundaries of the tile-UDF toolkit: shared Arrow/layout helpers
live in tileops, operator modules reach pipeline only through its public
names, and tileops depends on no operator module."""

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "i_landsat8_swlst_spark"


def _pipeline_private_uses(path: Path) -> list[str]:
    """`_`-prefixed names a module takes from pipeline, by import or by
    attribute access on an imported pipeline module."""
    found = []
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").split(".")[-1] == "pipeline":
            found += [f"{node.lineno}: {a.name}" for a in node.names if a.name.startswith("_")]
        elif (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name)
              and node.value.id == "pipeline" and node.attr.startswith("_")):
            found.append(f"{node.lineno}: pipeline.{node.attr}")
    return found


def test_no_private_pipeline_imports():
    modules = [p for p in sorted(PKG.glob("*.py")) if p.name != "pipeline.py"]
    bad = {p.name: u for p in modules + [REPO / "__spark_entry__.py"]
           if (u := _pipeline_private_uses(p))}
    assert not bad, f"private pipeline names used outside pipeline.py: {bad}"


def test_tileops_does_not_import_pipeline():
    tree = ast.parse((PKG / "tileops.py").read_text())
    mods = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mods.append(node.module or "")
            mods += [a.name for a in node.names]
        elif isinstance(node, ast.Import):
            mods += [a.name for a in node.names]
    assert not [m for m in mods if m.split(".")[-1] == "pipeline"], mods
