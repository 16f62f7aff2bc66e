"""Every library definition must be reached by code that is not a test.

Scans each top-level ``def``, ``class`` and assignment under
``federated_gcn_spark/`` (private ones included; the ``@register`` query
functions are reached through ``QUERIES`` and skipped) and looks for a
reference to its name in the code of the package, ``bench.py``,
``__spark_entry__.py``, ``tools/`` or ``perfbench/``. A reference is a name,
an attribute, an imported name or a word of a string constant that is not a
docstring; comments and docstrings do not count, nor does the definition's
own body, nor an ``__init__.py`` re-export. A second check fails on a name
that a package module imports and never uses. Pure Python: no Spark session.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "federated_gcn_spark"

# Library code whose only caller is a test, kept on purpose.
TEST_REFERENCES = {
    # test_federated.py reads federated_fit's weights sink with it
    "federated_gcn_spark.sources.weights:read_weights_table",
    # the exact top-k the ANN recall tests compare against
    "federated_gcn_spark.operators.similarity:brute_force_topk",
    # the reference's "nograd" and prototype variants (PAPER.md §0, rows 4-5)
    "federated_gcn_spark.ml.federated:distributed_nograd",
    "federated_gcn_spark.ml.kernels:LinearModel",
}

_WORD = re.compile(r"\w+")


def _sources():
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (ROOT / PACKAGE, ROOT / "tools", ROOT / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return {
        ".".join(f.relative_to(ROOT).with_suffix("").parts): f.read_text()
        for f in files
    }


def _is_prose(node):
    return (
        isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def references(node, reexports=False):
    """Counter of the names that the code under ``node`` refers to; with
    ``reexports`` the imported names do not count."""
    prose = {id(n.value) for n in ast.walk(node) if _is_prose(n)}
    out = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias) and not reexports:
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if id(n) not in prose:
                out.update(_WORD.findall(n.value))
    return out


def _is_register(decorator):
    return isinstance(decorator, ast.Call) and (
        getattr(decorator.func, "id", None) == "register"
    )


def _definitions(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not any(_is_register(d) for d in node.decorator_list):
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name) and not n.id.startswith("__"):
                        yield n.id, node


def unreached(sources):
    """``{"module:name"}`` of package definitions that no code outside their
    own body refers to. ``sources`` maps dotted module names to source."""
    trees = {m: ast.parse(s) for m, s in sources.items()}
    total = Counter()
    for m, tree in trees.items():
        total.update(references(tree, reexports=m.endswith("__init__")))
    out = set()
    for m, tree in trees.items():
        if not m.startswith(PACKAGE + "."):
            continue
        for name, node in _definitions(tree):
            own = references(node, reexports=m.endswith("__init__"))
            if total[name] == own[name]:
                out.add(f"{m}:{name}")
    return out


def unused_imports(sources):
    """``{"module:name"}`` of names a package module (not an
    ``__init__.py``) imports and never uses."""
    out = set()
    for m, source in sources.items():
        if not m.startswith(PACKAGE + ".") or m.endswith("__init__"):
            continue
        tree = ast.parse(source)
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Import) or (
                isinstance(node, ast.ImportFrom) and node.module != "__future__"
            ):
                for a in node.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound != "*" and bound not in used:
                        out.add(f"{m}:{bound}")
    return out


def test_every_definition_is_reached_outside_tests():
    dead = unreached(_sources())
    assert not dead - TEST_REFERENCES, (
        "definitions that only tests, prose (or nothing) reach; wire each "
        "into a query, pipeline or tool, or delete it with its tests: "
        + ", ".join(sorted(dead - TEST_REFERENCES))
    )
    # an allowed name that is gone, or now reached, is a stale entry
    assert dead == TEST_REFERENCES


def test_no_unused_imports():
    unused = unused_imports(_sources())
    assert not unused, "imported, never used: " + ", ".join(sorted(unused))


_TOY = '''
"""Module docstring naming only_in_prose."""


def only_in_prose():
    """only_in_prose's own docstring."""
    return only_in_prose  # its own body does not count


def by_string():
    return 1


def _orphan():
    return 2


def used():
    return _helper()


def _helper():
    return getattr(__import__("x"), "by_string")


LIMIT = 3
'''

_USER = '''
from federated_gcn_spark.toy import used, LIMIT

# only_in_prose is named in this comment
print(used(), LIMIT)
'''


def test_scanner_counts_code_not_prose():
    dead = unreached({"federated_gcn_spark.toy": _TOY, "tools.user": _USER})
    assert dead == {
        "federated_gcn_spark.toy:only_in_prose",  # docstrings and a comment
        "federated_gcn_spark.toy:_orphan",  # private, no caller
    }


def test_scanner_flags_unused_import():
    src = "import os\nfrom x import a, b as c\n\nprint(a)\n"
    assert unused_imports({"federated_gcn_spark.toy": src}) == {
        "federated_gcn_spark.toy:os",
        "federated_gcn_spark.toy:c",
    }
