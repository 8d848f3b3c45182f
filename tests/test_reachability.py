"""Every package function has a shipped caller.

A name-reachability pass over the source (``ast`` only, no Spark). The
checked nodes are the module-level ``def``s and ``class``es of every module
under ``tbdedup_spark/``. The pass starts from the shipped roots:

* ``cli.main`` (the spark-submit driver);
* ``plans.pipeline.run_pipeline`` (the flagship pipeline);
* the driver contract of ``__spark_entry__.py``: ``entry``, ``queries`` and
  ``oracle_sql``, read into the same graph as the package;
* every file under ``perfbench/``, read whole.

An edge is any ``Name`` id, ``Attribute`` attr, import alias or string
constant inside a node. Reaching a name reaches every node of that name in
any module. Module-level assignments carry reachability (an assignment is
entered when one of its targets is reached) but are not checked, so
declarations such as ``schema.PAIRS`` stay. Other module-level statements
(an ``if __name__ == "__main__"`` block, say) are entered unconditionally;
module-level imports are not, since an import alone calls nothing.

The matching is by bare name, so it is conservative: a name shared with a
live function, attribute or string counts as reached. The guard can miss
dead code; it never flags live code.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "tbdedup_spark"
ENTRY = ROOT / "__spark_entry__.py"
PERFBENCH = ROOT / "perfbench"

SHIPPED_ROOTS = {
    "cli.main",
    "plans.pipeline.run_pipeline",
    "__spark_entry__.entry",
    "__spark_entry__.queries",
    "__spark_entry__.oracle_sql",
}

# Test fixtures: package functions only the test suite calls, each kept
# on purpose.
FIXTURE_ROOTS = {
    "synth.generate_corpus": "the conftest corpus every Spark test runs on",
    "synth.metadata_variant": "builds the metadata-only variants of the golden corpus",
    "synth.to_spark_rows": "turns the golden corpus into IMAGES rows for the fixtures",
    "synth.golden_pairs": "the brute-force oracle pairs the detector tests compare to",
    "synth.golden_clusters": "the oracle clusters the pipeline tests compare to",
    "plans.ckpt.plan_size_bits": "measures plan size in the checkpoint statistics tests",
}


def _edges(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.asname or n.name.rsplit(".", 1)[-1])
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
    return out


def _targets(node: ast.AST) -> set[str]:
    targets = node.targets if isinstance(node, ast.Assign) else [node.target]
    return {n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)}


def _unreached() -> list[str]:
    """Qualified names of the checked nodes that no root reaches."""
    roots = SHIPPED_ROOTS | set(FIXTURE_ROOTS)
    checked: dict[str, ast.AST] = {}
    by_name: dict[str, list[ast.AST]] = {}
    todo: list[ast.AST] = []
    modules = [
        (".".join(p.relative_to(PACKAGE).with_suffix("").parts), p)
        for p in sorted(PACKAGE.rglob("*.py"))
    ] + [("__spark_entry__", ENTRY)]
    for mod, path in modules:
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                by_name.setdefault(node.name, []).append(node)
                qual = f"{mod}.{node.name}"
                if mod != "__spark_entry__":
                    checked[qual] = node
                if qual in roots:
                    todo.append(node)
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                for name in _targets(node):
                    by_name.setdefault(name, []).append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                todo.append(node)
    todo += [ast.parse(p.read_text()) for p in sorted(PERFBENCH.rglob("*.py"))]

    done = {id(n) for n in todo}
    names: set[str] = set()
    while todo:
        for name in _edges(todo.pop()) - names:
            names.add(name)
            for node in by_name.get(name, ()):
                if id(node) not in done:
                    done.add(id(node))
                    todo.append(node)
    return sorted(q for q, node in checked.items() if id(node) not in done)


def test_every_package_function_has_a_shipped_caller():
    unreached = _unreached()
    assert not unreached, (
        "package functions no shipped root reaches (delete them, or add a "
        "fixture root with its reason): " + ", ".join(unreached)
    )
