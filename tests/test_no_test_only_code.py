"""Guard: no package code is reached from tests alone.

An AST and name-reference pass over the program: the package,
``bench.py``, ``__spark_entry__.py``, ``scripts/`` and ``perfbench/``.
Three checks share it:

- a top-level def (function, class or module-level name) counts as
  reached when one of those files names it outside its own body, or
  when it is decorated (the workload's ``@q(...)`` registers each query);
- a public method of a package class counts as reached the same way;
- an *option* — a defaulted parameter of a public package function with
  a literal default (a bool, a string or None) that picks a code path:
  the function branches on it, or passes it on to a parameter that does
  — has arms: its default, each literal some call passes, and any other
  value some call passes as an expression. Each arm counts as reached
  when a program call selects it: by passing that literal (or leaving
  the default), or by passing an expression, which may take any value
  (a call or an f-string: any value but None).

Anything else is test-only code and should be deleted with its tests,
unless an allowlist names it with the reason it stays.

A fourth check runs over the program *and* the tests: a defaulted
parameter of a public package function or method that no call at all
sets to another value is a constant spelled as a parameter, and should
be one in the body.

A fifth runs over the tests alone: a test that sets a package module's
UPPER_CASE constant (``monkeypatch.setattr``, ``under_thresholds`` or an
attribute assignment) reaches a path through that constant rather than
through an input. Only thresholds that the input's size decides may be
set so; any other constant's far side is a path no run takes.
"""

from __future__ import annotations

import ast
import functools
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
    "streaming/incremental.py:incremental_filter": "P11 incremental_filter.sql high-watermark macro",
    # references and contracts outside the program
    "operators/asof.py:asof_join_pandas": "merge_asof reference test_asof checks the Spark as-of arms against",
    "workload/registry.py:DRIVER_WINDOW": "size of the external driver's query window",
}

#: Test-only public methods that stay, keyed "<module>:<Class>.<method>".
ALLOWED_METHODS: dict[str, str] = {
    "plans/registry.py:Registry.emit_docs": (
        "the reference DAG's terminal `dbt docs generate` task "
        "(rdbms_transformation.py:202-211)"
    ),
}

#: Option arms no program call selects that stay, keyed
#: "<module>:<function>(<param>=<value>)" (``<expr>``: a value a call
#: passes as an expression rather than a literal).
ALLOWED_OPTIONS: dict[str, str] = {
    "sources/tsv.py:read_tsv(on_error_continue=False)": (
        "COPY audit mode: keeps rejected rows, which the load report's "
        "reject count needs (ROADMAP direction 3)"
    ),
    "sources/tsv.py:read_tsv(corrupt_record_col='_corrupt')": (
        "names the COPY audit mode's corrupt-record column"
    ),
    "operators/cdc.py:cdc_apply(validate_seq=True)": "input validation: rejects a null sequence",
    "streaming/incremental.py:stream_cdc_sink(expire_horizon=10)": "bounds tombstone state",
    "streaming/incremental.py:stream_cdc_sink(expire_horizon=<expr>)": "bounds tombstone state",
    "plans/serve.py:filtered_read(sort=<expr>)": "serve API: a caller-chosen page order",
}


#: Package constants tests may set, keyed "<module>:<NAME>": size
#: thresholds that a program run falls on either side of as its input
#: grows. (Not checked instead: that some program value falls on each
#: side of every threshold — once the value is a product such as
#: ``n_centroids * dim``, the AST cannot decide it.)
ALLOWED_PATCHED: dict[str, str] = {
    "operators/textops.py:MAX_DRIVER_WORDS": (
        "bpe_train: the corpus's distinct-word count picks the driver "
        "or the distributed trainer"
    ),
    "operators/asof.py:AUTO_RANGE_JOIN_MAX_BYTES": (
        "asof_join_auto: the inputs' size estimate picks the range join "
        "or the window arm"
    ),
    "operators/similarity.py:BROADCAST_QUERY_MAX_BYTES": (
        "brute_force_topk: the query side's size estimate picks the "
        "broadcast"
    ),
}

#: Defaulted parameters no call sets that stay, keyed
#: "<module>:<function or Class.method>(<param>)".
ALLOWED_DEFAULTS: dict[str, str] = {}


def _program_files() -> list[pathlib.Path]:
    files = sorted(PKG.rglob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    files += sorted((ROOT / "scripts").glob("*.py"))
    files += sorted((ROOT / "perfbench").glob("*.py"))
    return files


@functools.lru_cache(maxsize=None)
def _parse(path: pathlib.Path) -> ast.Module:
    return ast.parse(path.read_text(), str(path))


def _trees(paths) -> dict[pathlib.Path, ast.Module]:
    return {p: _parse(p) for p in paths}


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


def _public_methods(tree: ast.Module):
    for cls in tree.body:
        if isinstance(cls, ast.ClassDef) and not cls.name.startswith("_"):
            for node in cls.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    if not node.name.startswith("_") and not node.decorator_list:
                        yield f"{cls.name}.{node.name}", node


def _unreached(defs) -> dict[str, int]:
    """Line of every def that ``defs(tree)`` yields and no program file
    names outside the def's own body, keyed "<module>:<name>"."""
    trees = _trees(_program_files())
    elsewhere = {p: _names(t, set()) for p, t in trees.items()}
    out: dict[str, int] = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = trees[path]
        for qualname, node in defs(tree):
            if getattr(node, "decorator_list", None):
                continue
            name = qualname.rsplit(".", 1)[-1]
            own = {id(n) for n in ast.walk(node)}
            reached = name in _names(tree, own) or any(
                name in refs for p, refs in elsewhere.items() if p != path
            )
            if not reached:
                out[f"{path.relative_to(PKG).as_posix()}:{qualname}"] = node.lineno
    return out


def _params(fn: ast.FunctionDef) -> list[str]:
    args = fn.args
    return [a.arg for a in args.posonlyargs + args.args + args.kwonlyargs]


def _defaulted(fn: ast.FunctionDef) -> dict[str, tuple[int | None, ast.expr]]:
    """Defaulted parameters: name → (positional index or None, default)."""
    args = fn.args
    pos = args.posonlyargs + args.args
    out = {
        a.arg: (pos.index(a), d)
        for a, d in zip(pos[len(pos) - len(args.defaults):], args.defaults)
    }
    out.update(
        (a.arg, (None, d))
        for a, d in zip(args.kwonlyargs, args.kw_defaults)
        if d is not None
    )
    return out


def _branched_on(fn: ast.FunctionDef) -> set[str]:
    """Names that pick a path inside ``fn``: read by the test of an
    ``if``/``while``/conditional expression or a ``match`` subject, or
    an operand of ``x or y`` / ``x and y``. An ``if`` whose whole body
    raises is argument validation, not a second path."""
    out: set[str] = set()
    for node in ast.walk(fn):
        if isinstance(node, ast.If) and all(
            isinstance(stmt, ast.Raise) for stmt in node.body
        ) and not node.orelse:
            continue
        if isinstance(node, (ast.If, ast.IfExp, ast.While)):
            tests = [node.test]
        elif isinstance(node, ast.Match):
            tests = [node.subject]
        elif isinstance(node, ast.BoolOp):
            tests = node.values
        else:
            continue
        for test in tests:
            out |= {n.id for n in ast.walk(test) if isinstance(n, ast.Name)}
    return out


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def _passed(call: ast.Call, param: str, idx: int | None):
    """The expression ``call`` passes for ``param``; ``...`` when a
    ``*args``/``**kwargs`` spread may carry it; None when it is unset."""
    for kw in call.keywords:
        if kw.arg is None:
            return ...
        if kw.arg == param:
            return kw.value
    if idx is not None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                return ...
            if i == idx:
                return arg
    return None


def _selectors(fns: list[ast.FunctionDef]) -> set[tuple[str, str]]:
    """(function, parameter) pairs that pick a code path: the function
    branches on the parameter, or passes it on to a selector of another
    package function (to a fixed point)."""
    by_name: dict[str, list[ast.FunctionDef]] = {}
    for fn in fns:
        by_name.setdefault(fn.name, []).append(fn)
    sel = {(fn.name, p) for fn in fns for p in _branched_on(fn) & set(_params(fn))}
    # (caller, caller parameter, callee, callee parameter) for every
    # call that passes a caller parameter on by name
    passes = []
    for fn in fns:
        own = set(_params(fn))
        for call in (n for n in ast.walk(fn) if isinstance(n, ast.Call)):
            for callee in by_name.get(_callee(call), []):
                args = callee.args
                pos = [a.arg for a in args.posonlyargs + args.args]
                params = [(p, i) for i, p in enumerate(pos)]
                params += [(a.arg, None) for a in args.kwonlyargs]
                for param, i in params:
                    value = _passed(call, param, i)
                    if isinstance(value, ast.Name) and value.id in own:
                        passes.append((fn.name, value.id, callee.name, param))
    while True:
        grown = sel | {(f, p) for f, p, g, q in passes if (g, q) in sel}
        if grown == sel:
            return sel
        sel = grown


def _options() -> dict[str, tuple[str, str, int | None, ast.expr, int]]:
    """Every option of a public top-level package function, keyed
    "<module>:<function>(<param>)" → (function, param, positional index,
    default, line)."""
    trees = _trees(sorted(PKG.rglob("*.py")))
    fns = {
        fn: path
        for path, tree in trees.items()
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
    }
    selectors = _selectors(list(fns))
    out = {}
    for fn, path in fns.items():
        if fn.name.startswith("_"):
            continue
        for param, (idx, default) in _defaulted(fn).items():
            literal = isinstance(default, ast.Constant) and (
                default.value is None or isinstance(default.value, (bool, str))
            )
            if literal and (fn.name, param) in selectors:
                key = f"{path.relative_to(PKG).as_posix()}:{fn.name}({param})"
                out[key] = (fn.name, param, idx, default, fn.lineno)
    return out


def _calls(trees) -> dict[str, list[tuple[ast.Call, dict[str, str]]]]:
    """Every call, by called name: (call, scope), where the scope maps
    each defaulted parameter the call can see to the function that binds
    it (nested functions see their parents' unless they rebind the name)."""
    out: dict[str, list] = {}

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            name = getattr(node, "name", "<lambda>")
            scope = {p: f for p, f in scope.items() if p not in _params(node)}
            scope.update((p, name) for p in _defaulted(node))
        if isinstance(node, ast.Call) and _callee(node):
            out.setdefault(_callee(node), []).append((node, scope))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    for tree in trees.values():
        visit(tree, {})
    return out


#: Markers in a set of selected arms: the call passes an expression
#: that may take any value, or any value but None.
ANY, NOT_NONE = "<any>", "<not None>"


def _arm(expr: ast.expr):
    """The arm a literal selects: its type and value (``True`` is not
    ``1``); any other expression is keyed by its source."""
    if isinstance(expr, ast.Constant):
        return (type(expr.value).__name__, expr.value)
    return ("expr", ast.dump(expr))


def _selected(options, calls, forwarded) -> dict[str, set]:
    """The arms each option's calls in ``calls`` select: a literal (or
    the default's own expression) its arm; an omitted parameter the
    default; a parameter of an enclosing function passed on
    ``forwarded(function, param)``; a call or an f-string every arm but
    a None default; any other expression every arm."""
    out = {}
    for key, (fn, param, idx, default, _) in options.items():
        arms = out[key] = set()
        for call, scope in calls.get(fn, []):
            value = _passed(call, param, idx)
            if value is None:
                arms.add(_arm(default))
            elif value is ...:
                arms.add(ANY)
            elif isinstance(value, ast.Name) and value.id in scope:
                arms |= forwarded(scope[value.id], value.id)
            elif isinstance(value, ast.Constant) or _arm(value) == _arm(default):
                arms.add(_arm(value))
            elif isinstance(value, (ast.Call, ast.JoinedStr)) and _arm(default) == ("NoneType", None):
                arms.add(NOT_NONE)
            else:
                arms.add(ANY)
    return out


def _selected_closure(options, calls) -> dict[str, set]:
    """``_selected`` to a fixed point: a call that passes on an option
    of an enclosing function selects the arms the calls of that function
    select; passing on any other parameter (a required one, a method's,
    a private helper's) selects every arm."""
    owner = {(o[0], o[1]): k for k, o in options.items()}
    done: dict[str, set] = {k: set() for k in options}
    while True:
        grown = _selected(
            options, calls,
            lambda fn, p: done[owner[(fn, p)]] if (fn, p) in owner else {ANY},
        )
        if grown == done:
            return done
        done = grown


def _test_only_arms() -> dict[str, int]:
    """Line of every option arm that no program call selects, keyed
    "<module>:<function>(<param>=<value>)". The arms are the default,
    each literal some call passes, and ``<expr>`` — a value some call
    passes as another expression."""
    options = _options()
    prog = _calls(_trees(_program_files()))
    tests = _calls(_trees(sorted((ROOT / "tests").rglob("*.py"))))
    by_program = _selected_closure(options, prog)
    out = {}
    for key, (fn, param, idx, default, line) in options.items():
        arms = {_arm(default)}
        for call, _ in prog.get(fn, []) + tests.get(fn, []):
            value = _passed(call, param, idx)
            if isinstance(value, ast.Constant):
                arms.add(_arm(value))
            elif value not in (None, ...) and _arm(value) != _arm(default):
                arms.add(("<expr>", None))
        taken = by_program[key]
        if ANY in taken:
            continue
        for kind, value in arms - taken:
            if NOT_NONE in taken and kind != "NoneType":
                continue
            shown = kind if kind == "<expr>" else repr(value)
            out[f"{key[:-1]}={shown})"] = line
    return dict(sorted(out.items()))


def _public_defaults() -> dict[str, tuple[str, str, int | None, ast.expr, int]]:
    """Every defaulted parameter of a public package function or of a
    public method of a public class, keyed "<module>:<qualname>(<param>)"
    → (name, param, positional index at the call site, default, line)."""
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        fns = []
        for node in _parse(path).body:
            if isinstance(node, ast.FunctionDef):
                fns.append((node.name, node, 0))
            elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
                for m in node.body:
                    if isinstance(m, ast.FunctionDef):
                        static = any(
                            getattr(d, "id", None) == "staticmethod"
                            for d in m.decorator_list
                        )
                        fns.append((f"{node.name}.{m.name}", m, 0 if static else 1))
        for qualname, fn, shift in fns:
            if fn.name.startswith("_"):
                continue
            for param, (idx, default) in _defaulted(fn).items():
                key = f"{path.relative_to(PKG).as_posix()}:{qualname}({param})"
                pos = None if idx is None else idx - shift
                out[key] = (fn.name, param, pos, default, fn.lineno)
    return out


def _unset_defaults() -> dict[str, int]:
    """Line of every public default that no program or test call sets to
    another value. Passing on a parameter of an enclosing function passes
    on the values its own calls set (to a fixed point); passing on a
    required or a private parameter sets any value."""
    params = _public_defaults()
    calls = _calls(_trees(_program_files() + sorted((ROOT / "tests").rglob("*.py"))))
    arms = _selected_closure(params, calls)
    return {
        k: params[k][4]
        for k in sorted(params)
        if not arms[k] - {_arm(params[k][3])}
    }


def _patched_constants() -> dict[str, str]:
    """Every package constant some test sets, keyed "<module>:<NAME>" →
    where the first set is: an attribute stored under the constant's
    name, or a ``setattr``/``under_thresholds`` call naming it in a
    string (``"NAME"`` or a dotted ``"pkg.module.NAME"``)."""
    consts: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for name, _ in _top_level_defs(_parse(path)):
            if name.isupper():
                consts.setdefault(name, []).append(
                    f"{path.relative_to(PKG).as_posix()}:{name}"
                )
    out: dict[str, str] = {}
    for path in sorted((ROOT / "tests").rglob("*.py")):
        for node in ast.walk(_parse(path)):
            if isinstance(node, ast.Attribute) and isinstance(node.ctx, ast.Store):
                names = [node.attr]
            elif isinstance(node, ast.Call) and _callee(node) in (
                "setattr", "under_thresholds"
            ):
                names = [
                    arg.value.rsplit(".", 1)[-1]
                    for arg in node.args[:2]
                    if isinstance(arg, ast.Constant) and isinstance(arg.value, str)
                ]
            else:
                continue
            for name in names:
                for key in consts.get(name, []):
                    out.setdefault(key, f"{path.name}:{node.lineno}")
    return dict(sorted(out.items()))


def test_no_package_def_is_reached_from_tests_alone():
    unreached = _unreached(_top_level_defs)
    extra = sorted(k for k in unreached if k not in ALLOWED)
    assert not extra, (
        "package defs no query, CLI, bench or script reaches (delete them "
        "with their tests, or allowlist a reference stage with a reason): "
        + ", ".join(f"{k} (line {unreached[k]})" for k in extra)
    )


def test_no_package_method_is_reached_from_tests_alone():
    unreached = _unreached(_public_methods)
    extra = sorted(k for k in unreached if k not in ALLOWED_METHODS)
    assert not extra, (
        "public methods no program file calls (delete them with their "
        "tests, or allowlist one with a reason): "
        + ", ".join(f"{k} (line {unreached[k]})" for k in extra)
    )


def test_no_option_is_set_from_tests_alone():
    """An option arm no program call selects is a code path no run
    takes: delete it (a parameter every call sets to one value becomes
    that value in the body), and let tests reach a dispatched arm
    through its input or its threshold constant."""
    test_only = _test_only_arms()
    extra = sorted(k for k in test_only if k not in ALLOWED_OPTIONS)
    assert not extra, (
        "option arms no program call selects: "
        + ", ".join(f"{k} (line {test_only[k]})" for k in extra)
    )


def test_no_default_is_left_at_its_default():
    """A default no call changes is not an option: write the value into
    the body (a shared column name as a module constant)."""
    unset = _unset_defaults()
    extra = sorted(k for k in unset if k not in ALLOWED_DEFAULTS)
    assert not extra, (
        "defaulted parameters no program or test call sets to another "
        "value: " + ", ".join(f"{k} (line {unset[k]})" for k in extra)
    )


def test_no_threshold_is_patched_from_tests_alone():
    """A constant no program input moves past is one arm: delete its
    far side, and test the arm that stays."""
    patched = _patched_constants()
    extra = [k for k in patched if k not in ALLOWED_PATCHED]
    assert not extra, (
        "package constants set only by tests: "
        + ", ".join(f"{k} ({patched[k]})" for k in extra)
    )


def test_allowlist_is_current():
    """An allowlisted def, method, option, default or patched constant
    that is gone, or that code now reaches or sets (or tests no longer
    set), leaves its list."""
    stale = sorted(set(ALLOWED) - set(_unreached(_top_level_defs)))
    stale += sorted(set(ALLOWED_METHODS) - set(_unreached(_public_methods)))
    stale += sorted(set(ALLOWED_OPTIONS) - set(_test_only_arms()))
    stale += sorted(set(ALLOWED_DEFAULTS) - set(_unset_defaults()))
    stale += sorted(set(ALLOWED_PATCHED) - set(_patched_constants()))
    assert not stale, f"remove from the allowlist: {stale}"
