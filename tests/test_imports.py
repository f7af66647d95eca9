"""Import guard: every `import kgpipe…` / `from kgpipe… import name` in
the package, perfbench, the verify skill and the entry module must
resolve, and every `PipelineConfig(...)` built there must name only
fields of the dataclass. perfbench and the verify drive are scripts
no other test loads, so a deleted module, renamed helper or dropped
config field would otherwise only show when someone next runs them."""

from __future__ import annotations

import ast
import dataclasses
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED_DIRS = ("kgpipe", "perfbench", ".claude/skills/verify")


def _scanned_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py"]
    for d in SCANNED_DIRS:
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _kgpipe_imports(tree: ast.AST):
    """(module, name or None, line) for each kgpipe import; `name` is
    None for a plain `import module`."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "kgpipe":
                    yield a.name, None, node.lineno
        elif isinstance(node, ast.ImportFrom) and node.level == 0 and node.module:
            if node.module.split(".")[0] == "kgpipe":
                for a in node.names:
                    yield node.module, a.name, node.lineno


def _is_module(module: str) -> bool:
    try:
        return importlib.util.find_spec(module) is not None
    except ModuleNotFoundError:  # the parent is missing or not a package
        return False


def _resolves(module: str, name: str | None) -> bool:
    if not _is_module(module):
        return False
    if name is None:
        return True
    return hasattr(importlib.import_module(module), name) or _is_module(f"{module}.{name}")


def _unresolved(source: str, label: str) -> list[str]:
    return [
        f"{label}:{line}: {mod}" + (f" → {name}" if name else "")
        for mod, name, line in _kgpipe_imports(ast.parse(source))
        if not _resolves(mod, name)
    ]


def test_kgpipe_imports_resolve():
    # the guard itself sees a dangling module and a dangling name
    assert len(_unresolved(
        "import kgpipe.no_such_module\nfrom kgpipe.io import no_such_name\n", "probe"
    )) == 2
    files = _scanned_files()
    # the scan reaches every scanned dir and the package's subpackages
    for d in (*SCANNED_DIRS, "kgpipe/nt", "kgpipe/operators"):
        assert any(f.parent == ROOT / d for f in files), d
    bad = []
    for f in files:
        bad += _unresolved(f.read_text(), str(f.relative_to(ROOT)))
    assert not bad, "unresolved kgpipe imports:\n" + "\n".join(bad)


def _dotted(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        base = _dotted(node.value)
        return base and f"{base}.{node.attr}"
    return None


def _config_keywords(source: str, label: str, fields: set[str]) -> tuple[int, list[str]]:
    """(number of PipelineConfig calls, keywords that name no field)."""
    calls = [
        node for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and _dotted(node.func) in ("PipelineConfig", "kgpipe.pipeline.PipelineConfig")
    ]
    bad = [
        f"{label}:{kw.lineno}: PipelineConfig({kw.arg}=...)"
        for call in calls for kw in call.keywords
        if kw.arg is not None and kw.arg not in fields
    ]
    return len(calls), bad


def test_pipeline_config_keywords_are_fields():
    from kgpipe.pipeline import PipelineConfig

    fields = {f.name for f in dataclasses.fields(PipelineConfig)}
    # the guard itself sees a made-up keyword, in both call forms
    assert _config_keywords(
        "PipelineConfig(warehouse='w', no_such_field=1)\n"
        "kgpipe.pipeline.PipelineConfig(warehouse='w', other_field=2)\n",
        "probe", fields,
    ) == (2, ["probe:1: PipelineConfig(no_such_field=...)",
              "probe:2: PipelineConfig(other_field=...)"])
    n_calls, bad = 0, []
    for f in _scanned_files():
        n, b = _config_keywords(f.read_text(), str(f.relative_to(ROOT)), fields)
        n_calls, bad = n_calls + n, bad + b
    # cli, perfbench/child.py, the verify drive
    assert n_calls >= 3
    assert not bad, "PipelineConfig keywords that name no field:\n" + "\n".join(bad)
