"""What of the library the contract, pipeline, benchmark and tests use.

Walks the ``jgdtrans_rs_spark`` imports (module level, inside function
bodies, and relative) transitively from the entry points and fails on
any library module none of them reaches.  A second scan over every
``.py`` in the repo fails on any top-level library ``def``/``class``
whose name is used nowhere outside its own body.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "jgdtrans_rs_spark"
ENTRY_POINTS = ("__spark_entry__.py", "scripts/run_pipeline.py", "bench.py",
                "bench_extra.py", "perfbench/workloads.py",
                "perfbench/trace.py")
LIBRARY = {
    ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(
        ".__init__"): p
    for p in (ROOT / PKG).rglob("*.py")}


def _imports(path, name):
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            yield base
            yield from (f"{base}.{alias.name}" for alias in node.names)


def _reached():
    seen = set()
    todo = [(ROOT / entry, "") for entry in ENTRY_POINTS]
    while todo:
        path, name = todo.pop()
        for mod in _imports(path, name):
            parts = mod.split(".")
            # importing a.b.c also runs the a and a.b package inits
            for sub in (".".join(parts[:i]) for i in range(1, len(parts) + 1)):
                if sub in LIBRARY and sub not in seen:
                    seen.add(sub)
                    todo.append((LIBRARY[sub], sub))
    return seen


def test_unreached_library_modules():
    unreached = {m.removeprefix(PKG + ".") for m in set(LIBRARY) - _reached()}
    assert unreached == set()


def _sources():
    """Every .py in the repo, skipping hidden directories (run output)."""
    for p in ROOT.rglob("*.py"):
        if not any(part.startswith(".") for part in p.relative_to(ROOT).parts):
            yield p, ast.parse(p.read_text())


def _uses(node):
    """The name a Name, attribute access or import refers to, else None."""
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name
    return None


def test_every_library_def_is_referenced():
    trees = list(_sources())
    defs = [node for p, tree in trees if p.is_relative_to(ROOT / PKG)
            for node in tree.body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef))]
    # a use inside a def's own body (recursion) does not count
    owner = {id(n): d.name for d in defs for n in ast.walk(d)}
    used = {_uses(n) for _, tree in trees for n in ast.walk(tree)
            if owner.get(id(n)) != _uses(n)}
    assert sorted({d.name for d in defs} - used) == []


KNOB_MODULES = (*sorted((ROOT / PKG / "operators").glob("*.py")),
                ROOT / PKG / "plans" / "webops.py", ROOT / PKG / "plans" / "textsql.py")
RELATIONS = {"docs", "orders", "embeddings", "events"}


def test_every_operator_option_is_varied():
    """A defaulted parameter of a public top-level function in the
    operator and SQL-builder modules must be passed, by position or by
    keyword, in some call of the entry points or the library itself;
    one that no such call passes is a constant (tests vary a constant
    with monkeypatch).  Relation-name parameters are exempt.  Calls
    match on the function's name."""
    options = {}
    for path in KNOB_MODULES:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, ast.FunctionDef) and not node.name.startswith("_"):
                args = node.args
                positional = [a.arg for a in args.posonlyargs + args.args]
                defaulted = positional[len(positional) - len(args.defaults):]
                defaulted += [a.arg for a, d in zip(args.kwonlyargs, args.kw_defaults)
                              if d is not None]
                options[node.name] = (positional, set(defaulted) - RELATIONS)
    callers = [ROOT / entry for entry in ENTRY_POINTS] + list(LIBRARY.values())
    for path in callers:
        for call in ast.walk(ast.parse(path.read_text())):
            name = isinstance(call, ast.Call) and _uses(call.func)
            if name not in options:
                continue
            positional, unpassed = options[name]
            if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords):
                unpassed.clear()
            unpassed -= set(positional[:len(call.args)]) | {k.arg for k in call.keywords}
    assert sorted(f"{f}({p})" for f, (_, ps) in options.items() for p in ps) == []


STAGING_CALLS = {"persist", "cache", "createOrReplaceTempView"}


def test_stages_are_checkpoints_not_cached_views():
    """A stage boundary in the library is a lazy local checkpoint passed
    to the next statement as an argument (plans/spark_sql.sql_with), so
    no call leaves a temp view or a cache entry in the session.  Two
    views are allowed: SqlEngine's broadcast grid view, made once when
    the engine is built, and sql_with's own, dropped after analysis."""
    found = []
    for path in sorted((ROOT / PKG).rglob("*.py")):
        tree = ast.parse(path.read_text())
        exempt = [node for node in tree.body
                  if isinstance(node, ast.FunctionDef) and node.name == "sql_with"]
        exempt += [f for node in tree.body
                   if isinstance(node, ast.ClassDef) and node.name == "SqlEngine"
                   for f in node.body
                   if isinstance(f, ast.FunctionDef) and f.name == "__init__"]
        allowed = {id(n) for f in exempt for n in ast.walk(f)}
        found += [f"{path.relative_to(ROOT)}:{call.lineno} {call.func.attr}"
                  for call in ast.walk(tree)
                  if isinstance(call, ast.Call) and isinstance(call.func, ast.Attribute)
                  and call.func.attr in STAGING_CALLS and id(call) not in allowed]
    assert found == []
