"""Module-level mutable state is an allow-list. A static scan of every
package module finds each module-level name that a function body
mutates: a subscript store or delete, a ``.pop/.clear/.update/
.setdefault/.append/.add`` call, or a ``global`` rebind. A new
per-process memo then fails here until it is listed with its reason,
and no module may import another module's mutated state."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "ecommerce_dataengineering_project_spark"

ALLOWED = {
    "sources.readers._SCHEMA_CACHE": (
        "fixture schema memo; each entry is stamped with the file's "
        "(mtime, size), so a rewritten file is inferred again"
    ),
    "queries.ext_similarity._IVF_INDEX": (
        "repeat IVF serves skip the corpus fingerprint scan; the index "
        "directory on disk is content-fingerprinted"
    ),
    "streaming.harness.LAST_PLAN": "plan hook that test_plan_hygiene reads",
    "operators.bpe.LAST_VOCAB_PLAN": "plan hook that test_bpe reads",
}

MUTATORS = {"pop", "clear", "update", "setdefault", "append", "add"}
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
SCOPES = FUNCS + (ast.ClassDef,)


def _root(node: ast.AST) -> str | None:
    while isinstance(node, (ast.Subscript, ast.Attribute)):
        node = node.value
    return node.id if isinstance(node, ast.Name) else None


def _own_nodes(scope: ast.AST):
    """Every node of ``scope``'s body, not descending into nested
    functions or classes."""
    stack = [scope.body] if isinstance(scope, ast.Lambda) else list(scope.body)
    while stack:
        node = stack.pop()
        yield node
        if not isinstance(node, SCOPES):
            stack.extend(ast.iter_child_nodes(node))


def _stores(nodes) -> set[str]:
    return {
        n.id for n in nodes if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    }


def _functions(nodes):
    """The functions directly inside ``nodes``, methods of classes
    included."""
    for n in nodes:
        if isinstance(n, FUNCS):
            yield n
        elif isinstance(n, ast.ClassDef):
            yield from _functions(_own_nodes(n))


def _mutated(tree: ast.Module) -> set[str]:
    module = _stores(
        n for top in tree.body if not isinstance(top, SCOPES) for n in ast.walk(top)
    )
    found: set[str] = set()

    def visit(fn: ast.AST, shadow: set[str]) -> None:
        own = list(_own_nodes(fn))
        glob = {name for n in own if isinstance(n, ast.Global) for name in n.names}
        a = fn.args
        params = {p.arg for p in a.posonlyargs + a.args + a.kwonlyargs}
        params |= {p.arg for p in (a.vararg, a.kwarg) if p}
        shadow = (shadow | params | _stores(own)) - glob
        for n in own:
            name = None
            if isinstance(n, ast.Subscript) and isinstance(n.ctx, (ast.Store, ast.Del)):
                name = _root(n)
            elif (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr in MUTATORS
            ):
                name = _root(n.func.value)
            if name in module and name not in shadow:
                found.add(name)
        found.update(glob & _stores(own) & module)
        for inner in _functions(own):
            visit(inner, shadow)

    for fn in _functions(tree.body):
        visit(fn, set())
    return found


def _modules() -> dict[str, ast.Module]:
    return {
        ".".join(p.relative_to(PKG).with_suffix("").parts): ast.parse(p.read_text())
        for p in sorted(PKG.rglob("*.py"))
    }


def _mutated_state() -> set[str]:
    return {f"{mod}.{name}" for mod, tree in _modules().items() for name in _mutated(tree)}


def test_mutated_module_state_is_the_allow_list():
    assert _mutated_state() == set(ALLOWED)


def test_no_module_imports_another_modules_mutated_state():
    pkg = PKG.name
    imports = [
        (mod, f"{n.module[len(pkg) + 1:]}.{a.name}")
        for mod, tree in _modules().items()
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom) and (n.module or "").startswith(pkg + ".")
        for a in n.names
    ]
    state = _mutated_state()
    assert [(mod, name) for mod, name in imports if name in state] == []


def test_scan_sees_each_kind_of_mutation():
    src = """
import numpy as np
MEMO, SEEN, LAST, FIXED, HOOK = {}, [], None, {}, {}
def f(k, FIXED=None):
    MEMO[k] = 1
    SEEN.append(k)
    FIXED[k] = 2  # a parameter, not the module name
    return np.append(k, 1)  # a function of an imported module
def g():
    global LAST
    LAST = 3
    return lambda: MEMO.pop(0)
class C:
    def m(self):
        del HOOK["k"]
"""
    assert _mutated(ast.parse(src)) == {"MEMO", "SEEN", "LAST", "HOOK"}
