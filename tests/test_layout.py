"""Which library modules the contract, pipeline and benchmark reach.

Walks the ``jgdtrans_rs_spark`` imports (module level, inside function
bodies, and relative) transitively from the entry points, and pins the
set of library modules none of them reaches.  A later deletion shrinks
the expected set; a new unreached module fails here.
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
    assert unreached == {"sources.tables", "streaming", "streaming.ingest",
                         "streaming.stateful"}
