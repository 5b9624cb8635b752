"""Every operator parameter has at least two values in use.

An option that every caller leaves alone, or sets to the same literal,
is a constant with extra code around it: the parameter line, the
keyword at each call site, and a docstring entry. The scan below finds
each package parameter that is single-valued over the non-test
callers (the package itself, ``tools/``, ``perfbench/``, ``bench.py``
and ``__spark_entry__.py``) and that no test sets to another value.

Calls resolve through imports: ``from m import f``, ``import m as x``
followed by ``x.f``, package re-exports, ``self.method``, nested
``def``s through their enclosing scopes, and ``getattr(module, name)``
dispatch in tests over the names a test file spells out. A function
that escapes as a value (a callback, or one wrapped by a decorator)
has callers the scan cannot see, so it is skipped; so is a function
no non-test code calls. A call passing ``*args`` or ``**kwargs``
leaves the parameters it may cover unknown, which counts as a second
value.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "nhl_data_warehouse_spark"
CALLERS = ("tools", "perfbench", "bench.py", "__spark_entry__.py")

# decorators that leave a function's call signature to its callers
PLAIN_DECORATORS = {
    "staticmethod",
    "classmethod",
    "contextmanager",
    "cache",
    "lru_cache",
}

# Parameters kept on purpose although one value is in use: perfbench
# is the frozen benchmark, so what it passes stays; deployment
# settings (paths, URLs) stay configurable.
ALLOWED = {
    f"{PACKAGE}.plans.quality.null_check.columns": "passed by perfbench/run.py",
    f"{PACKAGE}.suite.core.flagship.sf_dir": "deployment setting: the data path",
    f"{PACKAGE}.sources.extract.scrape_season_tables.year": (
        "deployment setting: the season in the scraped page URLs"
    ),
}


def _modname(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _sources() -> dict[str, tuple[str, ast.Module]]:
    """``{module: (kind, tree)}``; kind is pkg, caller or test."""
    out = {}
    groups = [("pkg", ROOT / PACKAGE), ("test", ROOT / "tests")]
    groups += [("caller", ROOT / c) for c in CALLERS]
    for kind, base in groups:
        files = [base] if base.suffix == ".py" else sorted(base.rglob("*.py"))
        for p in files:
            out[_modname(p)] = (kind, ast.parse(p.read_text(), str(p)))
    return out


class _Scope:
    """Names bound directly in one module or function body."""

    def __init__(self, parent, module, qual):
        self.parent, self.module, self.qual = parent, module, qual
        self.names: dict[str, tuple] = {}


def _literal(node, consts=None):
    """``(type name, value)`` of a literal argument, or of a module
    constant bound to one; None for anything else."""
    if isinstance(node, ast.Name) and consts and node.id in consts:
        return consts[node.id]
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None
    return (type(v).__name__, repr(v))


def _decorator_name(d: ast.expr) -> str:
    d = d.func if isinstance(d, ast.Call) else d
    return d.attr if isinstance(d, ast.Attribute) else getattr(d, "id", "")


def _defaults(fn) -> dict[str, ast.expr]:
    """``{param: default expression}`` of a def."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    out = dict(zip(pos[len(pos) - len(a.defaults) :], a.defaults))
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


class _Index:
    def __init__(self):
        self.src = _sources()
        self.scopes: dict[str, _Scope] = {}  # module -> module scope
        self.defs: dict[tuple, ast.AST] = {}  # (module, qualname) -> def
        self.dup: set[tuple] = set()
        self.method_of: dict[tuple, str] = {}  # def key -> class name
        self.skip: set[tuple] = set()  # escaping / framework-called
        self.by_method_name: dict[str, list[tuple]] = defaultdict(list)
        self.consts: dict[str, dict] = {}  # module -> {NAME: literal}
        for mod, (kind, tree) in self.src.items():
            seen = defaultdict(list)
            for stmt in tree.body:
                if isinstance(stmt, ast.Assign) and len(stmt.targets) == 1:
                    t = stmt.targets[0]
                    if isinstance(t, ast.Name) and t.id.isupper():
                        seen[t.id].append(_literal(stmt.value))
            self.consts[mod] = {
                k: v[0] for k, v in seen.items() if len(v) == 1 and v[0]
            }
            scope = _Scope(None, mod, "")
            self.scopes[mod] = scope
            self._bind(scope, tree.body, kind)

    # -- bindings --------------------------------------------------
    def _bind(self, scope: _Scope, body, kind, cls: ast.ClassDef | None = None):
        for stmt in body:
            for node in self._direct(stmt):
                if isinstance(node, (ast.Import, ast.ImportFrom)):
                    self._bind_import(scope, node)
                elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    owner = f"{scope.qual}.{cls.name}" if cls else scope.qual
                    qual = f"{owner}.{node.name}".lstrip(".")
                    key = (scope.module, qual)
                    if kind == "pkg":
                        if key in self.defs:
                            self.dup.add(key)
                        self.defs[key] = node
                        if cls is not None:
                            self.method_of[key] = cls.name
                            self.by_method_name[node.name].append(key)
                            framework = any(
                                not (isinstance(b, ast.Name) and b.id == "object")
                                for b in cls.bases
                            ) or bool(cls.decorator_list)
                            if framework or node.name.startswith("__"):
                                self.skip.add(key)
                        names = {_decorator_name(d) for d in node.decorator_list}
                        if names - PLAIN_DECORATORS:
                            self.skip.add(key)
                    if cls is None:
                        scope.names[node.name] = ("def", key)
                    inner = _Scope(scope, scope.module, qual)
                    node._scope = inner
                    self._bind(inner, node.body, kind)
                elif isinstance(node, ast.ClassDef) and cls is None:
                    qual = f"{scope.qual}.{node.name}".lstrip(".")
                    scope.names[node.name] = ("class", (scope.module, qual))
                    self._bind(scope, node.body, kind, cls=node)

    @staticmethod
    def _direct(stmt):
        """``stmt`` and the statements nested in its blocks, but not in
        nested function or class bodies."""
        stack = [stmt]
        while stack:
            node = stack.pop()
            yield node
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []) or [])
            for case in getattr(node, "cases", []) or []:
                stack.extend(case.body)

    def _bind_import(self, scope: _Scope, node):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    scope.names[a.asname] = ("mod", a.name)
                else:
                    head = a.name.split(".")[0]
                    scope.names[head] = ("mod", head)
            return
        base = node.module or ""
        if node.level:
            pkg = scope.module.split(".")
            is_pkg = (ROOT / Path(*pkg) / "__init__.py").exists()
            pkg = pkg if is_pkg else pkg[:-1]
            pkg = pkg[: len(pkg) - node.level + 1]
            base = ".".join(pkg + ([base] if base else []))
        for a in node.names:
            scope.names[a.asname or a.name] = ("imp", base, a.name)

    # -- resolution ------------------------------------------------
    def lookup(self, scope: _Scope | None, name: str):
        while scope is not None:
            if name in scope.names:
                return self._target(scope.names[name])
            scope = scope.parent
        return None

    def _target(self, binding, depth=0):
        """A binding followed through imports to ("def" | "class" |
        "mod", ...), or None outside the scanned code."""
        if depth > 8:
            return None
        if binding[0] != "imp":
            return binding
        _, mod, attr = binding
        return self.attr(("mod", mod), attr, depth + 1)

    def attr(self, target, attr, depth=0):
        if target is None:
            return None
        if target[0] == "mod":
            mod = target[1]
            sub = f"{mod}.{attr}"
            if sub in self.scopes:
                return ("mod", sub)
            scope = self.scopes.get(mod)
            if scope is not None and attr in scope.names:
                return self._target(scope.names[attr], depth + 1)
            return None
        if target[0] == "class":
            key = (target[1][0], f"{target[1][1]}.{attr}")
            return ("def", key) if key in self.defs else None
        return None

    def resolve(self, expr, scope: _Scope, cls: str | None):
        if isinstance(expr, ast.Name):
            return self.lookup(scope, expr.id)
        if isinstance(expr, ast.Attribute):
            owner = expr.value
            if cls and isinstance(owner, ast.Name) and owner.id in ("self", "cls"):
                key = (scope.module, f"{cls}.{expr.attr}")
                return ("def", key) if key in self.defs else None
            return self.attr(self.resolve(expr.value, scope, cls), expr.attr)
        return None


def _bind_args(call: ast.Call, fn, skip_first: bool, consts: dict):
    """``{param: literal | 'default' | None}`` for one call site; None
    means a value the scan cannot read."""
    a = fn.args
    positional = (a.posonlyargs + a.args)[1 if skip_first else 0 :]
    defaults = _defaults(fn)
    out: dict[str, object] = {}
    starred = False
    for i, arg in enumerate(call.args):
        if isinstance(arg, ast.Starred):
            starred = True
            for p in positional[i:]:
                out.setdefault(p.arg, None)
            break
        if i < len(positional):
            out[positional[i].arg] = _literal(arg, consts)
    for kw in call.keywords:
        if kw.arg is None:
            starred = True
        else:
            out[kw.arg] = _literal(kw.value, consts)
    for p in positional + a.kwonlyargs:
        if p.arg not in out:
            out[p.arg] = None if starred else ("default" if p.arg in defaults else None)
    return out


def _calls():
    """The index, ``{def key: [(kind, bound args, call node, module)]}``,
    and the defs that escape as values outside and inside tests."""
    idx = _Index()
    calls: dict[tuple, list] = defaultdict(list)
    escaped: set[tuple] = set()
    test_escaped: set[tuple] = set()

    def visit(node, scope, kind, cls, tree_strings):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                inner = getattr(child, "_scope", None)
                inner = inner or _Scope(scope, scope.module, scope.qual)
                visit(child, inner, kind, cls, tree_strings)
                continue
            if isinstance(child, ast.ClassDef):
                visit(child, scope, kind, child.name, tree_strings)
                continue
            visit_expr(child, scope, kind, cls, tree_strings, recurse=False)
            visit(child, scope, kind, cls, tree_strings)

    def record(key, call, kind, skip_first, scope):
        fn = idx.defs.get(key)
        if fn is None or key in idx.dup:
            return
        bound = _bind_args(call, fn, skip_first, idx.consts[scope.module])
        calls[key].append((kind, bound, call, scope.module))

    def visit_expr(node, scope, kind, cls, tree_strings, recurse=True):
        nodes = ast.walk(node) if recurse else [node]
        for n in nodes:
            if isinstance(n, ast.Call):
                func = n.func
                t = idx.resolve(func, scope, cls)
                if t and t[0] == "def":
                    # a method called on an instance binds self positionally
                    owner = func.value if isinstance(func, ast.Attribute) else None
                    on_class = isinstance(owner, ast.Name) and (
                        idx.lookup(scope, owner.id) or ("",)
                    )[0] == "class"
                    bound_self = (
                        t[1] in idx.method_of and owner is not None and not on_class
                    )
                    record(t[1], n, kind, bound_self, scope)
                    func._is_callee = True
                elif (
                    isinstance(func, ast.Call)
                    and isinstance(func.func, ast.Name)
                    and func.func.id == "getattr"
                    and len(func.args) == 2
                    and kind == "test"
                ):
                    mod = idx.resolve(func.args[0], scope, cls)
                    if mod and mod[0] == "mod":
                        names = (
                            [func.args[1].value]
                            if isinstance(func.args[1], ast.Constant)
                            else tree_strings
                        )
                        for name in names:
                            tgt = idx.attr(mod, name) if isinstance(name, str) else None
                            if tgt and tgt[0] == "def":
                                record(tgt[1], n, kind, False, scope)
                elif isinstance(func, ast.Attribute) and t is None:
                    keys = idx.by_method_name.get(func.attr, [])
                    if len(keys) == 1:
                        record(keys[0], n, kind, True, scope)
                        func._is_callee = True
            elif isinstance(n, (ast.Name, ast.Attribute)) and isinstance(
                n.ctx, ast.Load
            ):
                if getattr(n, "_is_callee", False):
                    continue
                t = idx.resolve(n, scope, cls)
                if t and t[0] == "def":
                    (test_escaped if kind == "test" else escaped).add(t[1])

    for mod, (kind, tree) in idx.src.items():
        # the function names a test file spells out, for getattr dispatch
        strings = set()
        if kind == "test":
            for n in ast.walk(tree):
                if isinstance(n, ast.Constant) and isinstance(n.value, str):
                    strings |= {n.value, n.value.split(".")[-1]}
        visit(tree, idx.scopes[mod], kind, None, strings)

    return idx, calls, escaped, test_escaped


def scan() -> dict[str, dict]:
    """Single-valued package parameters: ``{"module.func.param":
    {"value": ..., "sites": n}}``."""
    idx, calls, escaped, test_escaped = _calls()
    found = {}
    for key, fn in idx.defs.items():
        if key in idx.dup or key in idx.skip or key in escaped:
            continue
        sites = [b for k, b, *_ in calls.get(key, []) if k != "test"]
        if not sites:
            continue
        if key in test_escaped:
            continue
        tests = [b for k, b, *_ in calls.get(key, []) if k == "test"]
        defaults = {
            p: _literal(d, idx.consts[key[0]]) for p, d in _defaults(fn).items()
        }
        a = fn.args
        for p in a.posonlyargs + a.args + a.kwonlyargs:
            if p.arg in ("self", "cls"):
                continue

            def value(b, name=p.arg):
                v = b.get(name)
                return defaults[name] if v == "default" else v

            vals = {value(b) for b in sites}
            if len(vals) != 1 or None in vals:
                continue
            if any(value(b) not in vals for b in tests):
                continue
            found[f"{key[0]}.{key[1]}.{p.arg}"] = {
                "value": vals.pop()[1],
                "sites": len(sites),
            }
    return found


def test_every_parameter_has_two_values_in_use():
    found = scan()
    unexplained = sorted(set(found) - set(ALLOWED))
    assert not unexplained, (
        f"{len(unexplained)} package parameters receive one value from every "
        "non-test caller and no test sets another: make each a constant "
        "(a literal at its use, or a private module constant when several "
        "functions share it), or allow-list a kept category with its "
        "reason:\n" + "\n".join(f"  {k} = {found[k]['value']}" for k in unexplained)
    )


def test_allow_list_names_only_single_valued_parameters():
    found = scan()
    stale = sorted(set(ALLOWED) - set(found))
    assert not stale, "allow-listed parameters with two values in use:\n" + "\n".join(
        stale
    )
