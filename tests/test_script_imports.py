"""The scripts outside the package — ``tools/*.py``, ``bench.py``, the
driver contract ``__spark_entry__.py`` and the benchmark
``perfbench/*.py`` — use only names that exist in ``lsh_rs_spark``, so
deleting a package name cannot leave a script importing or calling it;
and a tool importing a sibling tool names one that still exists.  Checked
statically (``ast``): the scripts themselves are never run here.  Covered:
``from … import`` names, attribute references through module aliases
(``SX.winnowing_anchors_kernel``, ``TK.knn``, …) and the ``(module,
attr)`` pairs the benchmark's tracer patches
(``perfbench/tracing.PLAN_FUNCTIONS``)."""

import ast
import glob
import importlib
import importlib.util
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(
    glob.glob(os.path.join(REPO, "tools", "*.py"))
    + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
) + [
    os.path.join(REPO, "bench.py"),
    os.path.join(REPO, "__spark_entry__.py"),
]


def _top_level_names(path):
    """Names a module binds at its top level (defs, classes, assignments,
    imports)."""
    names = set()
    for node in ast.parse(open(path).read(), path).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names.update(t.id for t in targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


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


def _module_or_none(name: str):
    try:
        return importlib.import_module(name)
    except ImportError:
        return None


def _scope_aliases(body) -> dict:
    """{local name: package module} bound by the imports of one scope
    (nested function and class bodies excluded)."""
    aliases = {}
    stack = list(body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Lambda)):
            continue
        if isinstance(node, ast.ImportFrom) and not node.level and (
            node.module.split(".")[0] == "lsh_rs_spark"
        ):
            for alias in node.names:
                mod = _module_or_none(f"{node.module}.{alias.name}")
                if mod is not None:
                    aliases[alias.asname or alias.name] = mod
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname and alias.name.split(".")[0] == "lsh_rs_spark":
                    mod = _module_or_none(alias.name)
                    if mod is not None:
                        aliases[alias.asname] = mod
        stack.extend(ast.iter_child_nodes(node))
    return aliases


def _alias_attributes(tree):
    """(module, attr, line) for every ``ALIAS.attr`` read where ALIAS names
    a package module in the innermost scope that binds it."""

    def visit(body, outer):
        aliases = {**outer, **_scope_aliases(body)}
        stack = list(body)
        while stack:
            node = stack.pop()
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                yield from visit(node.body, aliases)
                continue
            if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name) and (
                node.value.id in aliases
            ):
                yield aliases[node.value.id], node.attr, node.lineno
            stack.extend(ast.iter_child_nodes(node))

    yield from visit(tree.body, {})


def _plan_functions():
    """``PLAN_FUNCTIONS`` of perfbench/tracing.py, read as a literal."""
    path = os.path.join(REPO, "perfbench", "tracing.py")
    for node in ast.parse(open(path).read(), path).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "PLAN_FUNCTIONS" for t in node.targets
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("perfbench/tracing.py defines no PLAN_FUNCTIONS")


def test_scripts_import_only_existing_package_names():
    missing = []
    for path in SCRIPTS:
        tree = ast.parse(open(path).read(), path)
        for t in (tree, *_snippet_trees(tree)):
            for module, name in _package_imports(t):
                if not _resolves(module, name):
                    missing.append(f"{os.path.relpath(path, REPO)}: {module}.{name}")
    assert not missing, missing


def test_scripts_use_only_existing_module_attributes():
    missing = []
    for path in SCRIPTS:
        for mod, attr, line in _alias_attributes(ast.parse(open(path).read(), path)):
            if not _resolves(mod.__name__, attr):
                missing.append(f"{os.path.relpath(path, REPO)}:{line}: {mod.__name__}.{attr}")
    assert not missing, missing


def test_benchmark_tracer_targets_exist():
    plan_functions = _plan_functions()
    assert plan_functions
    missing = [f"{m}.{a}" for m, a in plan_functions if not _resolves(m, a)]
    assert not missing, missing


def test_tools_sibling_imports_resolve():
    """Every absolute import in ``tools/*.py`` (function bodies included)
    either resolves outside ``tools/`` or names a ``tools/<mod>.py`` that
    defines the imported names — deleting a tool cannot break a kept one."""
    siblings = {
        os.path.splitext(os.path.basename(p))[0]: p
        for p in glob.glob(os.path.join(REPO, "tools", "*.py"))
    }
    missing = []
    for path in sorted(siblings.values()):
        for node in ast.walk(ast.parse(open(path).read(), path)):
            if isinstance(node, ast.ImportFrom) and not node.level:
                imports = [(node.module, [a.name for a in node.names])]
            elif isinstance(node, ast.Import):
                imports = [(a.name, []) for a in node.names]
            else:
                continue
            for module, names in imports:
                top = module.split(".")[0]
                where = f"{os.path.relpath(path, REPO)}:{node.lineno}"
                if top not in siblings:
                    if importlib.util.find_spec(top) is None:
                        missing.append(f"{where}: no module {top}")
                    continue
                undefined = set(names) - _top_level_names(siblings[top])
                missing += [f"{where}: {top}.{n}" for n in sorted(undefined)]
    assert not missing, missing
