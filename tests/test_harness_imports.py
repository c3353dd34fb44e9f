"""Every package name a harness imports still exists.

The scripts, the bench entry points and ``perfbench/`` run outside the
test suite, so a deletion in the package can leave one of them importing
a name that is gone, and nothing fails until someone runs it.  This walks
their source (imports inside functions too) and resolves every
``from chavinha_mini_search_engine_spark... import name`` and every
``import chavinha_mini_search_engine_spark...`` against the package.
"""

import ast
import importlib
import os

PKG = "chavinha_mini_search_engine_spark"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HARNESS = ["scripts", "bench.py", "__spark_entry__.py", "bench_extra.py",
           "perfbench"]


def _harness_files():
    for entry in HARNESS:
        path = os.path.join(REPO, entry)
        if os.path.isfile(path):
            yield path
            continue
        for base, _dirs, files in os.walk(path):
            for fn in sorted(files):
                if fn.endswith(".py"):
                    yield os.path.join(base, fn)


def _package_imports(path):
    """(line, module, name) for each package import; name is None for a
    plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
                node.module or "").split(".")[0] == PKG:
            for alias in node.names:
                yield node.lineno, node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield node.lineno, alias.name, None


def _resolves(module, name):
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or name == "*" or hasattr(mod, name):
        return True
    try:  # a submodule: ``from pkg.operators import serve``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return False
    return True


def test_harness_package_imports_resolve():
    seen, missing = 0, []
    for path in _harness_files():
        for line, module, name in _package_imports(path):
            seen += 1
            if not _resolves(module, name):
                rel = os.path.relpath(path, REPO)
                missing.append(f"{rel}:{line}: {module} import {name}")
    assert seen > 0, "no harness file imports the package"
    assert missing == [], missing
