"""The validation engine imports nothing from the operator modules beside it.

Parses every import of the engine modules, function-local ones included,
so a later deletion of ``dedup/``, ``similarity/`` or the ``functions/``
text operators cannot break the engine. Needs no Spark session.
"""

import ast
from pathlib import Path

PKG = "open_data_linter_spark"
ROOT = Path(__file__).resolve().parents[1] / PKG

ENGINE = sorted(
    [ROOT / "__init__.py", ROOT / "session.py"]
    + [p for d in ("core", "plans", "rules") for p in (ROOT / d).glob("*.py")]
    + [ROOT / "streaming" / f"{m}.py" for m in ("validate", "stateful")]
    + [
        ROOT / "sources" / f"{m}.py"
        for m in ("audio_files", "bucketed", "fixtures", "rawtext", "excel", "xlsx_mini")
    ]
    + [ROOT / "audio" / f"{m}.py" for m in ("codecs", "synth")]
    + [ROOT / "functions" / f"{m}.py" for m in ("__init__", "predicates", "regexes")]
)
FORBIDDEN_PACKAGES = {"dedup", "similarity", "multimodal"}
ENGINE_FUNCTIONS = {"predicates", "regexes"}


def _module_name(path: Path) -> str:
    parts = path.relative_to(ROOT.parent).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _imported(path: Path) -> set[str]:
    """Every module an import statement in ``path`` may load: the module
    itself and, for ``from X import y``, ``X.y`` (y may be a submodule)."""
    package = _module_name(path).split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    out = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                stem = package[: len(package) - node.level + 1]
                base = ".".join(stem + ([base] if base else []))
            out.add(base)
            out.update(f"{base}.{a.name}" for a in node.names)
    return out


def _forbidden(name: str) -> bool:
    parts = name.split(".")
    if parts[0] != PKG or len(parts) < 2:
        return False
    if parts[1] in FORBIDDEN_PACKAGES:
        return True
    if parts[1] != "functions" or len(parts) < 3 or parts[2] in ENGINE_FUNCTIONS:
        return False
    # ``from ...functions import is_empty`` names a re-export, not a module
    return (ROOT / "functions" / f"{parts[2]}.py").exists()


def test_every_engine_file_exists():
    # a renamed engine module must not drop out of the guard unnoticed
    assert [p for p in ENGINE if not p.exists()] == []


def test_engine_imports_no_operator_module():
    bad = {
        _module_name(p): sorted(n for n in _imported(p) if _forbidden(n))
        for p in ENGINE
    }
    assert not {m: names for m, names in bad.items() if names}
