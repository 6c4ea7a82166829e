"""The table format lives behind ``spark_spotify/warehouse/``: modules
outside the package use only its public names (and none of the ETL
DAG module's private ones), and the package depends on nothing built on
top of it.  Scratch dirs come from ``spark_spotify/functions/scratch.py``
alone.  Tests stay white-box and are not walked."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WAREHOUSE = ROOT / "spark_spotify" / "warehouse"
SCRATCH = ROOT / "spark_spotify" / "functions" / "scratch.py"
# modules whose underscore names are private to their own package
PRIVATE = ("spark_spotify.warehouse", "spark_spotify.etl.pipeline")
# what the table format must never import: the layers built on it
ABOVE = (
    "spark_spotify.etl.pipeline",
    "spark_spotify.analytics",
    "spark_spotify.streaming",
)


def _walked() -> list[Path]:
    out = [ROOT / "bench.py"]
    for d in ("spark_spotify", "tools"):
        out += sorted((ROOT / d).rglob("*.py"))
    return out


def _under(module: str, prefixes: tuple[str, ...]) -> bool:
    return any(module == p or module.startswith(p + ".") for p in prefixes)


def _references(path: Path):
    """(module, name, line) for every name ``path`` takes from another
    module: ``from m import n``, plus ``alias.n`` attribute reads on an
    imported module alias; ``name`` is None for a bare module import."""
    tree = ast.parse(path.read_text())
    aliases: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                yield node.module, a.name, node.lineno
                # `from pkg import mod` binds a module alias
                aliases[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                yield a.name, None, node.lineno
                if a.asname:
                    aliases[a.asname] = a.name
                elif "." not in a.name:
                    aliases[a.name] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in aliases
        ):
            yield aliases[node.value.id], node.attr, node.lineno


def test_no_private_names_cross_the_warehouse_boundary():
    bad = []
    for path in _walked():
        if WAREHOUSE in path.parents:
            continue
        for module, name, line in _references(path):
            if (
                _under(module, PRIVATE)
                and name is not None
                and name.startswith("_")
            ):
                rel = path.relative_to(ROOT)
                bad.append(f"{rel}:{line} uses {module}.{name}")
    assert not bad, "\n".join(bad)


def test_warehouse_imports_nothing_built_on_it():
    bad = []
    for path in sorted(WAREHOUSE.rglob("*.py")):
        for module, name, line in _references(path):
            full = module if name is None else f"{module}.{name}"
            if _under(module, ABOVE) or _under(full, ABOVE):
                rel = path.relative_to(ROOT)
                bad.append(f"{rel}:{line} imports {full}")
    assert not bad, "\n".join(bad)


def test_only_the_scratch_module_makes_temp_dirs():
    """Every scratch dir is made, kept alive and reclaimed by one module,
    so the prefix the orphan sweep matches and the removal policy cannot
    drift apart between drills."""
    lifecycle = {("tempfile", "mkdtemp"), ("atexit", "register")}
    bad = []
    for path in _walked():
        if path == SCRATCH:
            continue
        for module, name, line in _references(path):
            if (module, name) in lifecycle:
                rel = path.relative_to(ROOT)
                bad.append(f"{rel}:{line} calls {module}.{name}")
    assert not bad, "\n".join(bad)
