"""Every defaulted parameter in the package is set by some caller.

An option no call sets is a value the code always has; it doubles the
configurations nobody tests. This AST scan lists each in-scope defaulted
parameter that no call in the repository passes, so a new one fails here
until a caller sets it or it becomes the literal it always was.

Scope: top-level functions and methods of top-level classes in
``uniparser_spark/``, except the ``q_*`` suite queries, the reference-API
mirror (its signatures follow the reference), ``dom/`` (its ``HTMLParser``
overrides follow the stdlib), ``engine/session.py`` (deployment settings)
and the deployment parameters in ``DEPLOYMENT_PARAMS``.

A parameter is set when any call in the package, ``tools/``,
``perfbench/``, ``tests/`` or ``__spark_entry__.py`` passes it by keyword
or by position. Callees match by simple name: ``f(...)``, ``obj.f(...)``,
and ``Class(...)`` or ``super().__init__(...)`` for ``__init__``. A call
with ``*args`` or ``**kwargs`` sets every parameter.

Run ``python tests/test_options.py`` to print the count and the list.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "uniparser_spark"
CALLER_ROOTS = ("uniparser_spark", "tools", "perfbench", "tests", "__spark_entry__.py")

EXCLUDED = {
    # the reference-API mirror
    "rules.py", "operators.py", "urls.py", "paths.py", "chains.py",
    "exceptions.py", "config.py",
    "engine/session.py",
}
EXCLUDED_DIRS = ("dom/",)
DEPLOYMENT_PARAMS = {"path_glob", "user_agent"}

# (module, function, parameter) -> why it stays although no call sets it.
# Empty: every in-scope option has a caller.
ALLOWED: dict = {}


def _in_scope(rel):
    return rel not in EXCLUDED and not rel.startswith(EXCLUDED_DIRS)


def defaulted_params():
    """Yield ``(rel, line, qualname, callee_names, index, param)`` per
    in-scope defaulted parameter, deployment ones included; ``index`` is
    the positional slot a bound call fills, None for keyword-only."""
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(PACKAGE).as_posix()
        if not _in_scope(rel):
            continue
        for node in ast.parse(path.read_text(), filename=str(path)).body:
            if isinstance(node, ast.FunctionDef):
                yield from _params(rel, node, node.name, [node.name], 0)
            elif isinstance(node, ast.ClassDef):
                for item in node.body:
                    if not isinstance(item, ast.FunctionDef):
                        continue
                    static = any(isinstance(d, ast.Name) and d.id == "staticmethod"
                                 for d in item.decorator_list)
                    names = ([node.name, "__init__"] if item.name == "__init__"
                             else [item.name])
                    yield from _params(rel, item, f"{node.name}.{item.name}", names,
                                       0 if static else 1)


def _params(rel, fn, qualname, names, skip):
    if fn.name.startswith("q_"):
        return
    a = fn.args
    positional = a.posonlyargs + a.args
    first_default = len(positional) - len(a.defaults)
    for i, arg in enumerate(positional[first_default:], first_default):
        yield rel, arg.lineno, qualname, names, i - skip, arg.arg
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield rel, arg.lineno, qualname, names, None, arg.arg


def calls():
    """Callee simple name -> [(n_positional, keywords, starred)] over every
    call in the caller roots."""
    out = {}
    paths = []
    for root in CALLER_ROOTS:
        p = ROOT / root
        paths.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            if isinstance(f, ast.Name):
                name, n_pos = f.id, len(node.args)
            elif isinstance(f, ast.Attribute):
                name, n_pos = f.attr, len(node.args)
                if name == "__init__" and not isinstance(f.value, ast.Call):
                    n_pos -= 1  # Base.__init__(self, ...); super().__init__(...) is bound
            else:
                continue
            starred = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords)
            out.setdefault(name, []).append(
                (n_pos, {k.arg for k in node.keywords}, starred))
    return out


def scan():
    """(unset, stale_allowed, total): the in-scope defaulted parameters no
    call sets, the ALLOWED entries that are set or gone, and the count of
    in-scope defaulted parameters."""
    by_name = calls()
    unset, allowed_unset, total = [], set(), 0
    for rel, line, qualname, names, index, param in defaulted_params():
        total += 1
        if param in DEPLOYMENT_PARAMS:
            continue
        if any(starred or param in keywords or (index is not None and index < n_pos)
               for name in names for n_pos, keywords, starred in by_name.get(name, ())):
            continue
        key = (rel[:-3].replace("/", "."), qualname, param)
        if key in ALLOWED:
            allowed_unset.add(key)
        else:
            unset.append(f"uniparser_spark/{rel}:{line} {qualname}({param})")
    return unset, sorted(set(ALLOWED) - allowed_unset), total


def test_every_defaulted_parameter_is_set():
    unset, stale, total = scan()
    assert not unset, (
        f"{len(unset)} of {total} defaulted parameters are set by no call; "
        "inline each default, or add a caller, or allowlist it with a "
        "reason:\n" + "\n".join(unset))
    assert not stale, f"ALLOWED entries that are set or gone: {stale}"


if __name__ == "__main__":
    unset, stale, total = scan()
    print("\n".join(unset))
    print(f"{len(unset)} unset of {total} defaulted parameters; stale allowlist: {stale}")
