"""Call-site scan: the package's top-level functions that nothing outside
tests/ refers to.

    python tools/callsites.py

Parses (never imports) the package, __spark_entry__.py, bench.py,
run_quality_filter.py, tools/ and perfbench/, and prints every top-level
function of the package whose name no other code there refers to — by a
call, an attribute access or a bare name (a registry entry, a callback).
References inside the function's own body do not count. The scan goes by
name, so a function that shares its name with another referenced function
or method counts as referred to: it finds dead code, it never proves code
alive.

Each reported function must be in ALLOWED below, with its one-line reason
to stay; tests/test_callsites.py fails on any other entry and on an
ALLOWED entry the scan no longer reports.
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "data_quality_spark"
FILES = ["__spark_entry__.py", "bench.py", "run_quality_filter.py"]
DIRS = [PACKAGE, "tools", "perfbench"]

# "module:function" -> why it stays although nothing outside tests/ calls it
ALLOWED = {
    "data_quality_spark.ops.dedup:dedup_bloom_incremental":
        "test-only wrapper; the query and the pipeline call bloom_build and "
        "bloom_maybe_seen directly (open removal item, ROADMAP direction 3)",
    "data_quality_spark.ops.graph:py_hll_bucket_rho":
        "Python twin that the tests pin the Column HLL bucket/rho against",
    "data_quality_spark.ops.similarity:_assign_cell_expr":
        "Column twin that the tests pin the Arrow cell-assignment UDF against",
    "data_quality_spark.ops.similarity:load_codebooks":
        "artifact reader, the inverse of save_codebooks",
    "data_quality_spark.ops.textops:load_nb_weights":
        "artifact reader that the pipeline's --clf-weights geometry error names",
    "data_quality_spark.ops.textops:save_nb_weights":
        "artifact writer whose sidecar the pipeline's --clf-weights gate reads",
    "data_quality_spark.ops.textops:py_readability_milli":
        "Python twin that the tests pin the milli-unit Flesch Column against",
    "data_quality_spark.pipeline.extract:native_extract":
        "test-only single-Column form of extract (open removal item, "
        "ROADMAP direction 3)",
    "data_quality_spark.pipeline.extract:py_anchors":
        "Python twin that the tests pin with_anchors against",
    "data_quality_spark.pipeline.extract:py_links":
        "Python twin that the tests pin with_links against",
    "data_quality_spark.sources.sinks:read_output_table":
        "test-only Delta/Iceberg sink seam (open removal item, ROADMAP "
        "direction 3)",
    "data_quality_spark.sources.sinks:write_output_table":
        "test-only Delta/Iceberg sink seam (open removal item, ROADMAP "
        "direction 3)",
    "data_quality_spark.sources.warc:write_warc":
        "fixture writer for WARC inputs (tests and users build fixtures)",
    "data_quality_spark.sources.warc:write_warc_cdx":
        "fixture writer for the WARC CDX index (tests and users build fixtures)",
}


def sources() -> list[str]:
    """Paths (relative to the checkout) of every scanned file."""
    out = [f for f in FILES if os.path.exists(os.path.join(ROOT, f))]
    for d in DIRS:
        for base, _, names in os.walk(os.path.join(ROOT, d)):
            out += [
                os.path.relpath(os.path.join(base, n), ROOT)
                for n in sorted(names) if n.endswith(".py")
            ]
    return sorted(out)


def _referenced(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Names `tree` refers to, outside the subtree `skip`."""
    names: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        stack.extend(ast.iter_child_nodes(node))
    return names


def scan() -> dict[str, int]:
    """{"module:function": line} for every uncalled top-level function."""
    trees = {}
    for path in sources():
        with open(os.path.join(ROOT, path), encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), path)
    used = {path: _referenced(tree) for path, tree in trees.items()}
    out = {}
    for path, tree in trees.items():
        if not path.startswith(PACKAGE + os.sep):
            continue
        module = path[: -len(".py")].replace(os.sep, ".")
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            elsewhere = any(
                fn.name in names for p, names in used.items() if p != path
            )
            if not elsewhere and fn.name not in _referenced(tree, skip=fn):
                out[f"{module}:{fn.name}"] = fn.lineno
    return out


def main() -> int:
    found = scan()
    for name, line in sorted(found.items()):
        reason = ALLOWED.get(name, "NOT ALLOWED: delete it or give a reason")
        print(f"{name}:{line}  {reason}")
    stale = sorted(set(ALLOWED) - set(found))
    for name in stale:
        print(f"{name}  STALE: now referred to or gone; drop it from ALLOWED")
    return int(bool(set(found) - set(ALLOWED) or stale))


if __name__ == "__main__":
    sys.exit(main())
