"""Guard: no top-level package def is reached from tests alone.

An AST and name-reference pass over the program: the package,
``bench.py``, ``__spark_entry__.py``, ``scripts/`` and ``perfbench/``. A
top-level def (function, class or module-level name) counts as reached
when one of those files names it outside its own body, or when it is
decorated (the workload's ``@q(...)`` registers each query). Anything
else is test-only code and should be deleted with its tests, unless
``ALLOWED`` lists it with the reason it stays.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "sec_financial_data_pipeline_using_snowflake_dbt_spark"

#: Test-only defs that stay, keyed "<module path under the package>:<name>".
ALLOWED: dict[str, str] = {
    # sole implementations of a reference stage (COVERAGE.md)
    "sources/acquire.py:acquire_quarter": "S1/S2 acquire step: fetch + zip-slip-guarded extract",
    "sources/tsv.py:read_csv_dated": "S6 dated-CSV load",
    "schemas.py:WEATHER_SCHEMA": "S6 reference weather table, read by read_csv_dated",
    "sources/tsv.py:to_row_records_json": "S8 per-row JSON records",
    "operators/json_doc.py:to_json_documents": "S8 JSON document model",
    "sources/tsv.py:read_json_variant": "S9 semi-structured JSON load",
    "checks.py:column_type_is": "F9 column-type dbt test",
    "checks.py:expression_holds": "dbt singular tests",
    "plans/serve.py:list_catalog": "S11 catalog introspection",
    "operators/multimodal.py:pack_assets": "S2 binaryFile ingest of media archives",
    # library surface named in its module's API docstring; each is a
    # candidate for the next deletion pass (ROADMAP direction 4)
    "checks.py:assert_checks": "raising form of run_checks",
    "functions/vector.py:cosine": "vector helper beside dot/norm",
    "operators/asof.py:asof_join_pandas": "applyInPandas as-of arm, parity-tested",
    "operators/cdc.py:cdc_merge": "incremental CDC fold, fold == replay property",
    "operators/scd.py:scd2_merge": "incremental SCD2 fold (dbt snapshot run)",
    "operators/dedup.py:embedding_neardup_pairs_gemm": "BLAS arm of embedding_neardup_pairs",
    "operators/layout.py:zorder_layout": "z-ordered write layout, pruning pinned by test_layout",
    "sources/catalog.py:write_training_shards": "training-shard writer sink",
    "streaming/incremental.py:incremental_append": "dbt incremental materialization",
    "streaming/incremental.py:stream_sec_quarter": "AvailableNow SEC landing ingest",
    "streaming/incremental.py:sessionized_stream": "session-window stream",
    "workload/registry.py:DRIVER_WINDOW": "driver window size the registry tests pin",
}


def _program_files() -> list[pathlib.Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


def _names(tree: ast.AST, skip: set[int]) -> set[str]:
    """Every name a tree refers to, outside the nodes in ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if id(node) in skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            if node.value.isidentifier():  # getattr / registry keys
                out.add(node.value)
        stack.extend(ast.iter_child_nodes(node))
    return out


def _top_level_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for target in targets:
                if isinstance(target, ast.Name) and not target.id.startswith("__"):
                    yield target.id, node


def _unreached() -> dict[str, int]:
    """Line of every top-level package def no program file reaches,
    keyed "<module>:<name>"."""
    trees = {p: ast.parse(p.read_text(), str(p)) for p in _program_files()}
    elsewhere = {p: _names(t, set()) for p, t in trees.items()}
    out: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = trees[path]
        for name, node in _top_level_defs(tree):
            if getattr(node, "decorator_list", None):
                continue
            own = {id(n) for n in ast.walk(node)}
            reached = name in _names(tree, own) or any(
                name in refs for p, refs in elsewhere.items() if p != path
            )
            if not reached:
                out[f"{path.relative_to(PKG).as_posix()}:{name}"] = node.lineno
    return out


def test_no_package_def_is_reached_from_tests_alone():
    unreached = _unreached()
    extra = sorted(k for k in unreached if k not in ALLOWED)
    assert not extra, (
        "package defs no query, CLI, bench or script reaches (delete them "
        "with their tests, or allowlist a reference stage with a reason): "
        + ", ".join(f"{k} (line {unreached[k]})" for k in extra)
    )


def test_allowlist_is_current():
    """An allowlisted def that is gone, or that program code now reaches,
    leaves the list."""
    stale = sorted(set(ALLOWED) - set(_unreached()))
    assert not stale, f"remove from ALLOWED: {stale}"
