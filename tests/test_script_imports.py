"""The scripts outside the package — ``tools/*.py``, ``bench.py`` and
``bench_extra.py`` — import only names that exist in ``lsh_rs_spark``, so
deleting a package name cannot leave a script importing it.  Checked
statically (``ast``): the scripts themselves are never run here."""

import ast
import glob
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py"))) + [
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "bench_extra.py"),
]


def _package_imports(tree):
    """(module, name) for every ``lsh_rs_spark`` import; name None for a
    plain ``import lsh_rs_spark.x``."""
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and not node.level and (
            node.module.split(".")[0] == "lsh_rs_spark"
        ):
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "lsh_rs_spark":
                    yield alias.name, None


def _snippet_trees(tree):
    """Single-line import statements inside string constants — the code
    some tools format and run in a child interpreter."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str) and (
            "lsh_rs_spark" in node.value
        ):
            for line in node.value.splitlines():
                line = line.strip()
                if line.startswith(("from lsh_rs_spark", "import lsh_rs_spark")):
                    yield ast.parse(line)


def _resolves(module: str, name: str | None) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name is None or hasattr(mod, name):
        return True
    try:  # ``from pkg import submodule``
        importlib.import_module(f"{module}.{name}")
        return True
    except ImportError:
        return False


def test_scripts_import_only_existing_package_names():
    missing = []
    for path in SCRIPTS:
        tree = ast.parse(open(path).read(), path)
        for t in (tree, *_snippet_trees(tree)):
            for module, name in _package_imports(t):
                if not _resolves(module, name):
                    missing.append(f"{os.path.relpath(path, REPO)}: {module}.{name}")
    assert not missing, missing
