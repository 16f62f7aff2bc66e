"""Every public library definition must be reached by something that is
not a test.

Scans each public top-level ``def``/``class`` under ``federated_gcn_spark/``
outside ``plans/`` (the registry modules are reached through ``QUERIES``)
and looks for its name as a whole word in the package, ``bench.py``,
``__spark_entry__.py``, ``tools/`` or ``perfbench/``. The definition's own
lines and the ``__init__.py`` re-exports do not count. Pure Python: no
Spark session.
"""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "federated_gcn_spark"

# Library code whose only caller is a test, kept on purpose: each one is the
# reference a test checks a live operator against.
TEST_REFERENCES = {
    "edge_support",  # independent support count that checks graph/truss.k_truss
    "read_weights_table",  # reads back federated_fit's weights sink
}

_WORD = re.compile(r"\w+")


def _corpus():
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return [f for f in files if f.name != "__init__.py"]


def _public_definitions(tree):
    for node in tree.body:
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ) and not node.name.startswith("_"):
            yield node


def _definition_lines(node):
    first = min([node.lineno] + [d.lineno for d in node.decorator_list])
    return first - 1, node.end_lineno


def unreached():
    """``{"module:name"}`` of public definitions that nothing outside tests
    refers to."""
    texts = {path: path.read_text() for path in _corpus()}
    # a whole-word match of an identifier is exactly an equal \w+ run
    total = Counter(_WORD.findall("\n".join(texts.values())))
    out = set()
    for path, text in texts.items():
        if not path.is_relative_to(PACKAGE) or path.is_relative_to(
            PACKAGE / "plans"
        ):
            continue
        lines = text.splitlines()
        for node in _public_definitions(ast.parse(text)):
            lo, hi = _definition_lines(node)
            own = _WORD.findall("\n".join(lines[lo:hi])).count(node.name)
            if total[node.name] == own:
                module = path.relative_to(ROOT).with_suffix("").as_posix()
                out.add(f"{module.replace('/', '.')}:{node.name}")
    return out


def test_every_public_definition_is_reached_outside_tests():
    dead = unreached()
    allowed = {d for d in dead if d.rsplit(":", 1)[1] in TEST_REFERENCES}
    assert not dead - allowed, (
        "public definitions that only tests (or nothing) reach; wire each "
        "into a query, pipeline or tool, or delete it with its tests: "
        + ", ".join(sorted(dead - allowed))
    )
    # an allowed name that is gone, or now reached, is a stale entry
    assert {d.rsplit(":", 1)[1] for d in allowed} == TEST_REFERENCES
