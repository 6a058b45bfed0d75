"""Gate against dead private helpers (Spark-free, ``ast`` only): every
module-level ``_``-prefixed function in ``talna_spark/`` must be
referenced somewhere other than its own definition — by the package,
the tests, the scripts, ``__spark_entry__.py`` or ``bench.py``. A
helper nobody calls is either dead code or a sign that its logic was
re-typed inline somewhere else."""

from __future__ import annotations

import ast
import warnings
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "talna_spark"
SEARCH = [PACKAGE, ROOT / "tests", ROOT / "scripts",
          ROOT / "__spark_entry__.py", ROOT / "bench.py"]


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


def test_every_private_module_function_is_referenced():
    refs: Counter = Counter()
    private: dict[str, list[tuple[str, Counter]]] = {}
    for path in _py_files():
        with warnings.catch_warnings():  # other files' escape warnings
            warnings.simplefilter("ignore")
            tree = ast.parse(path.read_text(), filename=str(path))
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
