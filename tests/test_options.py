"""Every parameter in the package is an option some caller uses.

An option no call sets is a value the code always has, and so is one
every call sets to the same literal; each doubles the configurations
nobody tests. This AST scan lists each in-scope defaulted parameter
that no call in the repository passes, and each in-scope parameter that
every call resolves to one literal, so a new one fails here until a
caller varies it or it becomes the literal it always was.

Scope: top-level functions and methods of top-level classes in
``uniparser_spark/``, except the ``q_*`` suite queries, the reference-API
mirror (its signatures follow the reference), ``dom/`` (its ``HTMLParser``
overrides follow the stdlib), ``engine/session.py`` (deployment settings)
and the deployment parameters in ``DEPLOYMENT_PARAMS``.

Callers are the calls in the package, ``tools/``, ``perfbench/``,
``tests/`` and ``__spark_entry__.py``. Callees match by simple name:
``f(...)``, ``obj.f(...)``, and ``Class(...)`` or ``super().__init__(...)``
for ``__init__``.

- A defaulted parameter is *unset* when no matched call passes it by
  keyword or by position. A call with ``*args`` or ``**kwargs`` sets
  every parameter.
- A parameter is *one-valued* when it has a matched call, no matched
  call uses ``*args`` or ``**kwargs``, and every matched call resolves it
  to the same Python literal: the one it passes by keyword or position,
  or the default when it passes nothing. A name or an expression counts
  as a value that varies.

Run ``python tests/test_options.py`` to print both lists and counts.
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

# (module, function, parameter) -> why it stays although no call sets it
# or every call sets it to one value.
ALLOWED = {
    ("adapters", "RetryingAdapter.__init__", "retries"):
        "a deployment's retry budget against its own fetch backend",
}


def _in_scope(rel):
    return rel not in EXCLUDED and not rel.startswith(EXCLUDED_DIRS)


def params():
    """Yield ``(rel, line, qualname, callee_names, index, param, default)``
    per in-scope parameter, deployment ones included; ``index`` is the
    positional slot a bound call fills, None for keyword-only, and
    ``default`` the default's AST node or None."""
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
    defaults = [None] * (len(positional) - len(a.defaults)) + a.defaults
    for i, (arg, default) in enumerate(zip(positional, defaults)):
        if i >= skip:
            yield rel, arg.lineno, qualname, names, i - skip, arg.arg, default
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        yield rel, arg.lineno, qualname, names, None, arg.arg, default


def calls():
    """Callee simple name -> [(positional nodes, {keyword: node}, starred)]
    over every call in the caller roots."""
    out = {}
    paths = []
    for root in CALLER_ROOTS:
        p = ROOT / root
        paths.extend([p] if p.is_file() else sorted(p.rglob("*.py")))
    for path in paths:
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not isinstance(node, ast.Call):
                continue
            f, args = node.func, node.args
            if isinstance(f, ast.Name):
                name = f.id
            elif isinstance(f, ast.Attribute):
                name = f.attr
                if name == "__init__" and not isinstance(f.value, ast.Call):
                    args = args[1:]  # Base.__init__(self, ...); super().__init__(...) is bound
            else:
                continue
            starred = any(isinstance(x, ast.Starred) for x in node.args) or any(
                k.arg is None for k in node.keywords)
            out.setdefault(name, []).append(
                (args, {k.arg: k.value for k in node.keywords}, starred))
    return out


def _literal(node):
    """``repr`` of the literal ``node`` states, None for anything else."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return None


def _resolve(call, index, param, default):
    """(passed, literal) for ``param`` at ``call``: whether the call passes
    it, and the literal it resolves to (None if it is not one)."""
    args, keywords, starred = call
    if starred:
        return True, None
    if param in keywords:
        return True, _literal(keywords[param])
    if index is not None and index < len(args):
        return True, _literal(args[index])
    return False, None if default is None else _literal(default)


def scan():
    """(unset, one_valued, allowed, stale, n_params, n_defaulted): the
    in-scope defaulted parameters no call sets; the in-scope parameters
    every call resolves to one literal, as ``(entry, has_default)``; the
    entry of each ALLOWED key kept out of both lists; the ALLOWED keys that are
    neither; and the counts of in-scope and of in-scope defaulted
    parameters."""
    by_name = calls()
    unset, one_valued, allowed = [], [], {}
    n_params = n_defaulted = 0
    for rel, line, qualname, names, index, param, default in params():
        n_params += 1
        n_defaulted += default is not None
        if param in DEPLOYMENT_PARAMS:
            continue
        resolved = [_resolve(c, index, param, default)
                    for name in names for c in by_name.get(name, ())]
        values = {value for _, value in resolved}
        key = (rel[:-3].replace("/", "."), qualname, param)
        where = f"uniparser_spark/{rel}:{line} {qualname}({param})"
        if default is not None and not any(passed for passed, _ in resolved):
            found, text = unset, where
        elif len(values) == 1 and None not in values:
            found, text = one_valued, f"{where} = {values.pop()}"
        else:
            continue
        if key in ALLOWED:
            allowed[key] = text
        else:
            found.append(text if found is unset else (text, default is not None))
    return (unset, one_valued, allowed, sorted(set(ALLOWED) - set(allowed)),
            n_params, n_defaulted)


def test_every_defaulted_parameter_is_set():
    unset, _, _, stale, _, n_defaulted = scan()
    assert not unset, (
        f"{len(unset)} of {n_defaulted} defaulted parameters are set by no "
        "call; inline each default, or add a caller, or allowlist it with a "
        "reason:\n" + "\n".join(unset))
    assert not stale, f"ALLOWED entries that are set or gone: {stale}"


def test_no_parameter_has_one_value():
    _, one_valued, _, stale, n_params, _ = scan()
    assert not one_valued, (
        f"{len(one_valued)} of {n_params} parameters take one literal at "
        "every call; inline the value, or add a caller that varies it, or "
        "allowlist it with a reason:\n" + "\n".join(e for e, _ in one_valued))
    assert not stale, f"ALLOWED entries that vary or are gone: {stale}"


if __name__ == "__main__":
    unset, one_valued, allowed, stale, n_params, n_defaulted = scan()
    print("\n".join(unset))
    print(f"{len(unset)} unset of {n_defaulted} defaulted parameters")
    print("\n".join(e for e, _ in one_valued))
    with_default = sum(d for _, d in one_valued)
    print(f"{len(one_valued)} one-valued of {n_params} parameters "
          f"({with_default} with a default, {len(one_valued) - with_default} without)")
    for key, text in allowed.items():
        print(f"allowed: {text} ({ALLOWED[key]})")
    print(f"{len(allowed)} allowed; stale allowlist: {stale}")
