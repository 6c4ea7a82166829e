"""The table format lives behind ``spark_spotify/warehouse/``: modules
outside the package use only its public names (and none of the ETL
DAG module's private ones), and the package depends on nothing built on
top of it.  Scratch dirs come from ``spark_spotify/functions/scratch.py``
alone, stream runs from ``spark_spotify/streaming/drain.py``, LSH band
joins from ``spark_spotify/operators/dedup.py``, whitespace tokens from
``spark_spotify/functions/text.py``, and the multimodal Arrow passes from
``_per_row`` and the two batch-vectorized stages.  Tests stay white-box
and are not walked."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WAREHOUSE = ROOT / "spark_spotify" / "warehouse"
SCRATCH = ROOT / "spark_spotify" / "functions" / "scratch.py"
DRAIN = ROOT / "spark_spotify" / "streaming" / "drain.py"
DEDUP = ROOT / "spark_spotify" / "operators" / "dedup.py"
TEXT = ROOT / "spark_spotify" / "functions" / "text.py"
MULTIMODAL = ROOT / "spark_spotify" / "multimodal.py"
# the multimodal functions that may start an Arrow batch pass
ARROW_STAGES = ("_per_row", "decode_media", "resize_media")
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


def test_only_the_drain_module_runs_streams():
    """Every streaming query is started, awaited and stopped by
    ``streaming/drain.py``, so the trigger, the scoped state-partition
    conf and the stop-on-failure cannot drift apart between gates."""
    bad = []
    for path in _walked():
        if path == DRAIN:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Attribute) and node.attr in (
                "writeStream",
                "awaitTermination",
            ):
                rel = path.relative_to(ROOT)
                bad.append(f"{rel}:{node.lineno} reads .{node.attr}")
    assert not bad, "\n".join(bad)


def _names_band_key(node: ast.expr) -> bool:
    """A ``band_val``/``bv`` column name, or a list/tuple holding one."""
    if isinstance(node, (ast.List, ast.Tuple)):
        return any(_names_band_key(e) for e in node.elts)
    return isinstance(node, ast.Constant) and node.value in ("band_val", "bv")


def test_only_the_dedup_module_joins_bands():
    """Every LSH band join and bucket cap lives in ``operators/dedup.py``
    (``band_self_join``, ``band_cross_join``, ``over_full_buckets``), so
    the cap and the candidate shape cannot drift apart between the
    near-dup detectors.  Outside it no module names an aliased band value,
    or joins, groups or windows on a band key.  ORACLE SQL strings are
    whole constants and never match."""
    bad = []
    for path in _walked():
        if path == DEDUP:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            rel = path.relative_to(ROOT)
            if isinstance(node, ast.Constant) and node.value in (
                "a.band_val",
                "b.band_val",
            ):
                bad.append(f"{rel}:{node.lineno} names {node.value!r}")
            elif (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("join", "groupBy", "partitionBy")
                and any(
                    _names_band_key(a)
                    for a in [*node.args, *(k.value for k in node.keywords)]
                )
            ):
                bad.append(
                    f"{rel}:{node.lineno} .{node.func.attr} on a band key"
                )
    assert not bad, "\n".join(bad)


def _splits_trimmed_on_space(node: ast.AST) -> bool:
    """``<F>.split(<F>.trim(...), " ")``."""
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "split"
        and len(node.args) >= 2
        and isinstance(node.args[0], ast.Call)
        and isinstance(node.args[0].func, ast.Attribute)
        and node.args[0].func.attr == "trim"
        and isinstance(node.args[1], ast.Constant)
        and node.args[1].value == " "
    )


def test_only_the_text_module_splits_on_whitespace():
    """Every whitespace tokenization goes through
    ``functions/text.tokens_col``, so the split the oracles state as
    ``string_split(trim(text), ' ')`` cannot drift apart between the
    text, curation and dedup layers.  A split of lowercased text is a
    different tokenizer and does not match."""
    bad = []
    for path in _walked():
        if path == TEXT:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            if _splits_trimmed_on_space(node):
                rel = path.relative_to(ROOT)
                bad.append(f"{rel}:{node.lineno} splits trimmed text on ' '")
    assert not bad, "\n".join(bad)


def test_multimodal_arrow_passes_go_through_one_operator():
    """``multimodal.py`` builds no typed pandas column by hand, and only
    ``_per_row`` (every per-payload stage) and the batch-vectorized
    ``decode_media``/``resize_media`` call ``mapInPandas``, so the
    batch-to-frame plumbing exists once."""
    bad = []
    for top in ast.parse(MULTIMODAL.read_text()).body:
        name = getattr(top, "name", None)
        for node in ast.walk(top):
            if not isinstance(node, ast.Attribute):
                continue
            if node.attr == "mapInPandas" and name not in ARROW_STAGES:
                bad.append(f"multimodal.py:{node.lineno} {name} maps batches")
            elif (
                node.attr == "Series"
                and isinstance(node.value, ast.Name)
                and node.value.id == "pd"
            ):
                bad.append(f"multimodal.py:{node.lineno} builds a pd.Series")
    assert not bad, "\n".join(bad)
