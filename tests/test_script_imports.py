"""Scripts no test runs still import what exists: every
``from maha_spark... import X`` (and ``import maha_spark...``) in
``tools/**/*.py``, ``bench.py`` and ``__spark_entry__.py`` names a
module or a module attribute of the package as it is now. Each script
is parsed with ``ast``, never executed, so a rename or deletion in the
package fails here instead of on the next manual run."""

from __future__ import annotations

import ast
import glob
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _scripts() -> list[str]:
    return sorted(glob.glob(os.path.join(ROOT, "tools", "**", "*.py"),
                            recursive=True)
                  + [os.path.join(ROOT, "bench.py"),
                     os.path.join(ROOT, "__spark_entry__.py")])


def _package_imports(path: str):
    """(line, module, name or None) for each package import in ``path``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 \
                and (node.module or "").split(".")[0] == "maha_spark":
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "maha_spark":
                    yield node.lineno, alias.name, None


def _resolves(module: str, name) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_script_package_imports_resolve():
    scripts = _scripts()
    assert len(scripts) > 2 and all(os.path.exists(p) for p in scripts)
    missing = [f"{os.path.relpath(p, ROOT)}:{line}: {module}"
               + (f".{name}" if name else "")
               for p in scripts
               for line, module, name in _package_imports(p)
               if not _resolves(module, name)]
    assert not missing, missing
