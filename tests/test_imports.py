"""Import guard: every `import kgpipe…` / `from kgpipe… import name` in
the package, the tools, perfbench, the verify skill and the entry
module must resolve. Tools and probes are scripts no other test loads,
so a deleted module or renamed helper would otherwise only show when
someone next runs them."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
SCANNED_DIRS = ("kgpipe", "tools", "perfbench", ".claude/skills/verify")


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
    assert len(files) > 30
    bad = []
    for f in files:
        bad += _unresolved(f.read_text(), str(f.relative_to(ROOT)))
    assert not bad, "unresolved kgpipe imports:\n" + "\n".join(bad)
