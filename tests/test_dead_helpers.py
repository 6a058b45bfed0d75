"""Gates against dead and duplicated code (Spark-free, ``ast`` only).

- Every module-level ``_``-prefixed function in ``talna_spark/`` must be
  referenced somewhere other than its own definition — by the package,
  the tests, the scripts, ``__spark_entry__.py`` or ``bench.py``. A
  helper nobody calls is either dead code or a sign that its logic was
  re-typed inline somewhere else.
- No two functions in ``talna_spark/`` (nested ones included) may share
  a body of at least :data:`MIN_DUP_NODES` AST nodes, docstrings aside:
  a re-typed body belongs in one function both places call."""

from __future__ import annotations

import ast
import warnings
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "talna_spark"
SEARCH = [PACKAGE, ROOT / "tests", ROOT / "scripts",
          ROOT / "__spark_entry__.py", ROOT / "bench.py"]
# Smaller bodies are idiom, not logic: at 30 nodes the gate would also
# flag unigram's two ``lse`` closures and dedup/sketches' bitwise merges.
MIN_DUP_NODES = 60


def _py_files():
    for p in SEARCH:
        if p.is_dir():
            yield from sorted(p.rglob("*.py"))
        elif p.exists():
            yield p


def _names(node: ast.AST) -> Counter:
    """Every identifier ``node``'s subtree uses: bare names, attribute
    names (``mod._helper``) and imported names."""
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _parse(path: Path) -> ast.Module:
    with warnings.catch_warnings():  # other files' escape warnings
        warnings.simplefilter("ignore")
        return ast.parse(path.read_text(), filename=str(path))


def test_every_private_module_function_is_referenced():
    refs: Counter = Counter()
    private: dict[str, list[tuple[str, Counter]]] = {}
    for path in _py_files():
        tree = _parse(path)
        refs += _names(tree)
        if PACKAGE not in path.parents:
            continue
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and node.name.startswith("_")
                and not node.name.endswith("__")
            ):
                where = str(path.relative_to(ROOT))
                # uses inside the helper's own body (recursion) don't count
                private.setdefault(node.name, []).append((where, _names(node)))
    dead = sorted(
        f"{where}:{name}"
        for name, defs in private.items()
        for where, own in defs
        if refs[name] - sum(o[name] for _, o in defs) <= 0
    )
    assert private, "no private helpers found: the scan is broken"
    assert not dead, f"private helpers with no caller: {dead}"


def test_no_duplicate_function_bodies():
    first: dict[str, str] = {}
    dups = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(_parse(path)):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            body = node.body
            if ast.get_docstring(node, clean=False) is not None:
                body = body[1:]
            if sum(1 for stmt in body for _ in ast.walk(stmt)) < MIN_DUP_NODES:
                continue
            key = "\n".join(ast.dump(stmt) for stmt in body)
            where = f"{path.relative_to(ROOT)}:{node.name}"
            if key in first:
                dups.append((first[key], where))
            else:
                first[key] = where
    assert first, "no function bodies found: the scan is broken"
    assert not dups, f"functions with identical bodies: {dups}"
