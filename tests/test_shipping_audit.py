"""Static audit of the UDF-shipping invariant (the r13 x44 bug class):
any nested function handed to mapInPandas / applyInPandas / mapInArrow
/ applyInPandasWithState / pandas_udf that references a name imported
from another in-package module must have that module ship_module'd —
cloudpickle serializes such references BY REFERENCE to the owning
module, and the Python worker of an external-cwd consumer (the
driver's contract) cannot import ``video_streamer_spark``. The failure
is ORDER-DEPENDENT (an earlier query shipping the same module masks
it), so runtime tests can't pin it reliably; this AST walk can."""

from __future__ import annotations

import ast
import pathlib
import sys

UDF_CALLS = {
    "mapInPandas",
    "applyInPandas",
    "mapInArrow",
    "applyInPandasWithState",
    "pandas_udf",
}
PKG = pathlib.Path(__file__).resolve().parents[1] / "video_streamer_spark"


def _is_module(dotted: str) -> bool:
    rel = dotted.split(".")[1:]
    base = PKG.joinpath(*rel) if rel else PKG
    return base.with_suffix(".py").is_file() or (
        base / "__init__.py"
    ).is_file()


def _in_pkg_bindings(tree: ast.AST) -> dict[str, str]:
    """local name -> owning in-package module, from any import stmt.
    ``from pkg import sub as Z`` where ``sub`` is itself a module binds
    Z to the SUBMODULE (shipping Z ships that module)."""
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.ImportFrom)
            and node.module
            and node.module.startswith("video_streamer_spark")
        ):
            for a in node.names:
                sub = f"{node.module}.{a.name}"
                out[a.asname or a.name] = (
                    sub if _is_module(sub) else node.module
                )
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("video_streamer_spark"):
                    out[(a.asname or a.name).split(".")[0]] = a.name
    return out


def _free_names(fn: ast.AST) -> set[str]:
    """Names free in ``fn``, with PROPER scope nesting: a name STORED
    inside an inner helper must not mask the same name loaded free at
    the closure's own level (review r13 — the flat walk under-reported
    exactly the class this audit exists for). free(scope) =
    (loads(scope) − bound(scope)) ∪ (free(child) − bound(scope))."""

    def scope_free(node: ast.AST) -> set[str]:
        bound: set[str] = set()
        loads: set[str] = set()
        children: list[ast.AST] = []
        if isinstance(node, (ast.FunctionDef, ast.Lambda)):
            a = node.args
            for arg in (
                a.args + a.kwonlyargs + getattr(a, "posonlyargs", [])
            ):
                bound.add(arg.arg)
            if a.vararg:
                bound.add(a.vararg.arg)
            if a.kwarg:
                bound.add(a.kwarg.arg)

        def visit(n: ast.AST) -> None:
            for c in ast.iter_child_nodes(n):
                if isinstance(c, (ast.FunctionDef, ast.Lambda)):
                    children.append(c)
                    if isinstance(c, ast.FunctionDef):
                        bound.add(c.name)
                    continue  # its body is a separate scope
                if isinstance(c, ast.Name):
                    (
                        loads
                        if isinstance(c.ctx, ast.Load)
                        else bound
                    ).add(c.id)
                if isinstance(c, (ast.Import, ast.ImportFrom)):
                    for al in c.names:
                        bound.add((al.asname or al.name).split(".")[0])
                visit(c)

        visit(node)
        free = loads - bound
        for ch in children:
            free |= scope_free(ch) - bound
        return free

    return scope_free(fn)


def _attrs_on(fn: ast.AST, name: str) -> set[str]:
    """Attributes accessed as ``name.<attr>`` anywhere inside ``fn`` —
    the attribute-style spelling of a cross-module reference
    (``multimodal.decode_frame(...)``), which the by-name transitive
    check alone would miss (review r13)."""
    return {
        sub.attr
        for sub in ast.walk(fn)
        if isinstance(sub, ast.Attribute)
        and isinstance(sub.value, ast.Name)
        and sub.value.id == name
    }


def _ship_args(scope: ast.AST) -> set[str]:
    return {
        ast.unparse(a)
        for node in ast.walk(scope)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", "") == "ship_module"
        for a in node.args
    }


def _module_tree(dotted: str) -> ast.AST | None:
    rel = dotted.split(".")[1:]
    base = PKG.joinpath(*rel)
    path = (
        base.with_suffix(".py")
        if base.with_suffix(".py").is_file()
        else base / "__init__.py"
    )
    try:
        return ast.parse(path.read_text())
    except (OSError, SyntaxError):
        return None


def _transitive_refs(owner: str, name: str) -> set[str]:
    """Modules the function ``owner``.``name`` references through ITS
    OWN free names (one precise hop: a shipped module's function that
    calls into a third module breaks the worker unless that module
    ships too — the x44 decode_frame → jpeg case — but deps the
    function never touches are fine)."""
    tree = _module_tree(owner)
    if tree is None:
        return set()
    binds = _in_pkg_bindings(tree)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return {
                binds[n]
                for n in _free_names(node) & set(binds)
                if not binds[n].endswith("shipping")
            }
    return set()


def test_udf_closures_ship_their_cross_module_references():
    offenders: list[str] = []
    for f in sorted(PKG.rglob("*.py")):
        src = f.read_text()
        if not any(k in src for k in UDF_CALLS):
            continue
        tree = ast.parse(src)
        binds = _in_pkg_bindings(tree)
        mod_name = (
            "video_streamer_spark."
            + str(f.relative_to(PKG).with_suffix(""))
            .replace("/", ".")
        ).removesuffix(".__init__")
        mod_ships = {
            a
            for node in tree.body
            if isinstance(node, ast.Expr)
            and isinstance(node.value, ast.Call)
            and getattr(node.value.func, "id", "") == "ship_module"
            for a in _ship_args(node)
        }
        top_defs = {
            n.name: n
            for n in tree.body
            if isinstance(n, ast.FunctionDef)
        }
        for outer in ast.walk(tree):
            if not isinstance(outer, ast.FunctionDef):
                continue
            outer_src = ast.unparse(outer)
            if not any(k in outer_src for k in UDF_CALLS):
                continue
            ships = mod_ships | _ship_args(outer)
            # resolve each ship arg to the module it actually ships:
            # a bound alias resolves through the import map; the
            # self-ship idiom resolves to this module
            shipped_modules = {
                mod_name if s == "sys.modules[__name__]" else binds.get(s, s)
                for s in ships
            }
            # candidate worker-side closures: every nested def/lambda
            # PLUS any MODULE-LEVEL function handed to a UDF call by
            # name (review r13 — applyInPandas(_module_level_fn, …)
            # was invisible to the nested-only walk)
            candidates: list[tuple[str, ast.AST]] = [
                (n.name, n)
                for n in ast.walk(outer)
                if isinstance(n, ast.FunctionDef) and n is not outer
            ] + [
                ("<lambda>", n)
                for n in ast.walk(outer)
                if isinstance(n, ast.Lambda)
            ]
            for call in ast.walk(outer):
                if (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr in UDF_CALLS
                ):
                    for a in call.args:
                        if isinstance(a, ast.Name) and a.id in top_defs:
                            candidates.append((a.id, top_defs[a.id]))
            for cname, nested in candidates:
                for name in _free_names(nested) & set(binds):
                    owner = binds[name]
                    if owner in shipped_modules:
                        # one precise hop deeper: the referenced
                        # function's OWN free names may pull a third
                        # module (x44: detections shipped multimodal,
                        # whose decode_frame calls the jpeg module) —
                        # checked for BOTH spellings, `from m import
                        # fn` and attribute access `m.fn(...)`
                        hops = _transitive_refs(owner, name)
                        for attr in _attrs_on(nested, name):
                            hops |= _transitive_refs(owner, attr)
                        for dep in hops:
                            if (
                                dep not in shipped_modules
                                and dep != owner
                            ):
                                offenders.append(
                                    f"{f}:{outer.name}/{cname}: "
                                    f"ships {owner} but {name} there "
                                    f"references un-shipped {dep}"
                                )
                        continue
                    offenders.append(
                        f"{f}:{outer.name}/{cname}: closes over "
                        f"{name} from {owner}, which is not "
                        f"ship_module'd in scope "
                        f"(ships={sorted(shipped_modules)})"
                    )
    assert not offenders, (
        "worker-side closures reference un-shipped in-package modules "
        "(external-cwd workers will raise ModuleNotFoundError, "
        "order-dependently):\n" + "\n".join(offenders)
    )


# -- the data-source runner rule ---------------------------------------
#
# Methods of a registered Python DataSource run in Spark's data-source
# runner, a process that cannot import this package when the driver
# runs outside the repo. Everything those methods reach must therefore
# be importable there (the standard library, pyspark, pandas, pyarrow)
# or travel in the pickle: an in-package module that ship_modules
# itself and imports nothing in-package that does not ship too.

RUNNER_MODULES = (
    "video_streamer_spark.sources.cdf_source",
    "video_streamer_spark.sources.snapshot_source",
    "video_streamer_spark.sources.frame_source",
)
RUNNER_BASES = {
    "DataSource",
    "DataSourceReader",
    "DataSourceStreamReader",
    "SimpleDataSourceStreamReader",
    "InputPartition",
}
RUNNER_LIBS = {"pyspark", "pandas", "pyarrow"}
# ship_module itself only runs at import time, on the driver
SHIPPING = "video_streamer_spark.functions.shipping"


def _import_targets(node: ast.AST) -> dict[str, str]:
    """local name -> imported module, for the import statements
    anywhere under ``node`` (``from m import f`` binds f to m, or to
    the submodule m.f when that is a module)."""
    out: dict[str, str] = {}
    for n in ast.walk(node):
        if isinstance(n, ast.ImportFrom) and n.module and not n.level:
            for a in n.names:
                sub = f"{n.module}.{a.name}"
                in_pkg = sub.startswith("video_streamer_spark")
                out[a.asname or a.name] = (
                    sub if in_pkg and _is_module(sub) else n.module
                )
        elif isinstance(n, ast.Import):
            for a in n.names:
                out[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0]
                )
    return out


def _self_ships(tree: ast.AST) -> bool:
    return "sys.modules[__name__]" in {
        a
        for node in tree.body
        if isinstance(node, ast.Expr) and isinstance(node.value, ast.Call)
        for a in _ship_args(node)
    }


def _runner_safe(module: str, seen: set[str]) -> list[str]:
    """Why ``module`` cannot be used from the runner ([] = it can)."""
    top = module.split(".")[0]
    if top in RUNNER_LIBS or top in sys.stdlib_module_names:
        return []
    if top != "video_streamer_spark":
        return [f"{module} is neither stdlib nor {sorted(RUNNER_LIBS)}"]
    if module == SHIPPING or module in seen:
        return []
    seen.add(module)
    tree = _module_tree(module)
    if tree is None or not _self_ships(tree):
        return [f"{module} does not ship_module itself"]
    return [
        f"{module} imports {why}"
        for dep in sorted(set(_import_targets(tree).values()))
        for why in _runner_safe(dep, seen)
    ]


def _runner_methods(tree: ast.AST) -> list[ast.FunctionDef]:
    """Methods of the module's DataSource / reader / partition
    classes (bases resolved through the module's own classes too)."""
    classes = {n.name: n for n in tree.body if isinstance(n, ast.ClassDef)}
    runner: set[str] = set()
    grew = True
    while grew:
        grew = False
        for name, c in classes.items():
            bases = {ast.unparse(b).split(".")[-1] for b in c.bases}
            if name not in runner and bases & (RUNNER_BASES | runner):
                runner.add(name)
                grew = True
    return [
        f
        for name in sorted(runner)
        for f in classes[name].body
        if isinstance(f, ast.FunctionDef)
    ]


def _runner_references(module: str) -> dict[str, set[str]]:
    """Every name the runner-side code of ``module`` references that
    is not defined in the module itself -> the modules it resolves to
    (``{"<unresolved>"}`` for names bound nowhere). Module-level
    functions and classes those methods reach are followed too."""
    import builtins

    tree = _module_tree(module)
    top_defs = {
        n.name: n
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.ClassDef))
    }
    top_vars = {
        t.id
        for n in tree.body
        if isinstance(n, (ast.Assign, ast.AnnAssign))
        for t in (n.targets if isinstance(n, ast.Assign) else [n.target])
        if isinstance(t, ast.Name)
    }
    imports = {
        k: v
        for n in tree.body
        if isinstance(n, (ast.Import, ast.ImportFrom))
        for k, v in _import_targets(n).items()
    }
    out: dict[str, set[str]] = {}
    todo: list[ast.AST] = list(_runner_methods(tree))
    done: set[int] = set()
    while todo:
        fn = todo.pop()
        if id(fn) in done:
            continue
        done.add(id(fn))
        if isinstance(fn, ast.ClassDef):
            todo += [f for f in fn.body if isinstance(f, ast.FunctionDef)]
            continue
        # imports inside the function body resolve too
        for name, mod in _import_targets(fn).items():
            out.setdefault(name, set()).add(mod)
        handlers = {
            h.name
            for h in ast.walk(fn)
            if isinstance(h, ast.ExceptHandler) and h.name
        }
        for name in _free_names(fn) - handlers:
            if name in top_defs:
                todo.append(top_defs[name])
            elif name in imports:
                out.setdefault(name, set()).add(imports[name])
            elif name not in top_vars and not hasattr(builtins, name):
                out.setdefault(name, set()).add("<unresolved>")
    return out


def _runner_offenders(module: str) -> list[str]:
    offenders = []
    tree = _module_tree(module)
    if not _self_ships(tree):
        offenders.append(f"{module} does not ship_module itself")
    for name, mods in sorted(_runner_references(module).items()):
        for mod in sorted(mods):
            why = (
                ["bound nowhere in the module"]
                if mod == "<unresolved>"
                else _runner_safe(mod, set())
            )
            offenders += [f"{module}: {name} -> {w}" for w in why]
    return offenders


def test_datasource_runner_reaches_only_shipped_modules():
    """Every name referenced from DataSource / reader / partition
    methods (and the module-level helpers they call) resolves to the
    standard library, pyspark, pandas or pyarrow, or to an in-package
    module that ship_modules itself with no unshipped in-package
    import. In-repo tests cannot see a violation at runtime (their
    workers import the package from the repo root); an external-cwd
    driver gets ModuleNotFoundError in the runner."""
    offenders = [o for m in RUNNER_MODULES for o in _runner_offenders(m)]
    assert not offenders, "\n".join(offenders)
    # the shared manifest rules are what the table sources reach
    refs = _runner_references("video_streamer_spark.sources.cdf_source")
    assert "video_streamer_spark.operators.manifest" in set().union(
        *refs.values()
    )
