"""Reachability: every top-level package definition and every method of a
top-level class is reached from a root.

The roots are the programs that run the package: ``bench.py``,
``__spark_entry__.py``, ``scripts/*.py`` and ``perfbench/*.py``, plus the
package's own module-level statements other than imports and ``__all__``
(registries, constants, import-time setup). A definition that only
``tests/`` reaches is code no query, oracle or benchmark path runs, so this
check fails and names it.

The scan is name-based and uses ``ast`` only: a reached name reaches every
top-level ``def``/``class`` of that name, and references are followed
through definition bodies to a fixed point. Identifier-like string
constants count as references, because registries and ``getattr`` look
names up by string.

Each method of a top-level class is a definition of its own,
``Class.method``. A reached class reaches only its non-method body (bases,
decorators, class-level statements); a method is reached when its class is
reached and either its name is reached or it is a dunder, which Python
calls by protocol.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "datafusion_distributed_experiment_spark"
ROOT_FILES = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "scripts").glob("*.py")),
    *sorted((ROOT / "perfbench").glob("*.py")),
]

# (module path relative to the package, name) -> why it stays unreached
EXEMPT: dict[tuple[str, str], str] = {}

_FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _names(node: ast.AST) -> set[str]:
    """Every name ``node`` refers to: identifiers, attributes, and string
    constants that are identifiers."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out.add(n.value)
    return out


def _is_all(stmt: ast.stmt) -> bool:
    return isinstance(stmt, ast.Assign) and any(
        isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
    )


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def scan(package: Path = PACKAGE, root_files: list[Path] = ROOT_FILES):
    """Return ``(defs, reached)``: ``defs`` maps ``(module, name)`` to the
    definition's line, where ``name`` is a top-level name or
    ``Class.method``; ``reached`` is the set of reached names, methods
    included as ``Class.method``."""
    bodies: dict[str, list[ast.AST]] = {}
    # method name -> [(class, "Class.method")], and class -> [(method name, "Class.method")]
    methods: dict[str, list[tuple[str, str]]] = {}
    by_class: dict[str, list[tuple[str, str]]] = {}
    defs: dict[tuple[str, str], int] = {}
    seeds: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        module = str(path.relative_to(package))
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, ast.ClassDef):
                defs[(module, stmt.name)] = stmt.lineno
                body = [*stmt.bases, *stmt.keywords, *stmt.decorator_list]
                for item in stmt.body:
                    if isinstance(item, _FUNCS):
                        qual = f"{stmt.name}.{item.name}"
                        defs[(module, qual)] = item.lineno
                        bodies.setdefault(qual, []).append(item)
                        methods.setdefault(item.name, []).append((stmt.name, qual))
                        by_class.setdefault(stmt.name, []).append((item.name, qual))
                    else:
                        body.append(item)
                bodies.setdefault(stmt.name, []).extend(body)
            elif isinstance(stmt, _FUNCS):
                defs[(module, stmt.name)] = stmt.lineno
                bodies.setdefault(stmt.name, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)) and not _is_all(stmt):
                seeds |= _names(stmt)
    for path in root_files:
        seeds |= _names(ast.parse(path.read_text()))
    reached: set[str] = set()
    todo = list(seeds)
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for body in bodies.get(name, ()):
            todo.extend(_names(body) - reached)
        # a method is reached once both its class and its name are, or with
        # its class alone when it is a dunder
        todo.extend(qual for cls, qual in methods.get(name, ()) if cls in reached)
        todo.extend(
            qual for meth, qual in by_class.get(name, ()) if meth in reached or _is_dunder(meth)
        )
    return defs, reached


def test_every_package_definition_is_reached_from_a_root():
    defs, reached = scan()
    unreached = [
        f"{module}:{line} {name}"
        for (module, name), line in sorted(defs.items(), key=lambda d: (d[0][0], d[1]))
        if name not in reached and (module, name) not in EXEMPT
    ]
    assert not unreached, (
        "package definitions that no bench, entry, script or perfbench path "
        "reaches (delete them, or add an EXEMPT entry with a reason):\n  "
        + "\n  ".join(unreached)
    )


def test_exempt_entries_are_reasoned_and_still_needed():
    defs, reached = scan()
    for (module, name), reason in EXEMPT.items():
        assert reason.strip(), f"{module}:{name} is exempt without a reason"
        assert (module, name) in defs, f"{module}:{name} is exempt but no longer defined"
        assert name not in reached, f"{module}:{name} is exempt but now reached"


def test_scan_names_a_definition_only_a_test_reaches(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from .mod import used\n__all__ = ['used', 'helper']\n")
    (pkg / "mod.py").write_text(
        "REGISTRY = {'q': 'by_string'}\n"
        "def used():\n    return _inner()\n"
        "def _inner():\n    return 1\n"
        "def by_string():\n    return 2\n"
        "def _test_only_helper():\n    return 3\n"
    )
    entry = tmp_path / "entry.py"
    entry.write_text("from pkg import used\nused()\n")
    defs, reached = scan(pkg, [entry])
    assert {n for (_, n) in defs if n not in reached} == {"_test_only_helper"}


def test_scan_names_a_method_only_a_test_reaches(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("from .mod import Thing\n__all__ = ['Thing']\n")
    (pkg / "mod.py").write_text(
        "class Thing:\n"
        "    LIMIT = _bound()\n"
        "    def __init__(self):\n        self.n = 0\n"
        "    def used(self):\n        return self._helper()\n"
        "    def _helper(self):\n        return 1\n"
        "    def test_only(self):\n        return 2\n"
        "def _bound():\n    return 3\n"
        "class Unused:\n"
        "    def used(self):\n        return 4\n"
    )
    entry = tmp_path / "entry.py"
    entry.write_text("from pkg import Thing\nThing().used()\n")
    defs, reached = scan(pkg, [entry])
    assert {n for (_, n) in defs if n not in reached} == {
        "Thing.test_only",
        "Unused",
        "Unused.used",
    }
