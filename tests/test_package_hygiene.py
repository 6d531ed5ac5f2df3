"""Import hygiene, checked by an AST scan (no Spark): every package name
has exactly one import path, the module that defines it, so re-export
blocks cannot grow back.

- No non-``__init__`` package module imports an intra-package name it
  never uses.
- Every ``from tabular_cdc_bootstrapper_spark… import X`` in the package,
  ``tests/`` and ``scripts/`` names the module that defines ``X`` (or
  the subpackage whose submodule ``X`` is).

The one exception is ``streaming.pipeline.run_cdc_pipeline_available_now``:
the CLI resolves the runner through ``pipeline`` at call time.

The same scan pins the shared table surface: the snapshot, ref, property
and maintenance methods, row-level DML, ALTER, the GDPR purge protocol
and per-commit retention are defined once, in ``_protocol.py``, and in
neither table layout's module; and the CAS token of a based commit is
built there alone. It also pins how JSON metadata reaches disk: every
``json.dump`` in the package is either the body of ``_replace_json``
(temp file + atomic rename) or an exclusive create (mode ``"x"``).
It pins the commit retry rule to one place: ``_RETRY_BACKOFF`` is read
only by ``TableOps._publish_cas``, no layout module catches
``CommitConflict``, and only ``_protocol.py`` writes a record's
``"constraints"``. And it pins the size of every staged bucket write: each ``repartition``
in the mirror and purge modules takes its count from
``_sizing.write_tasks``, the one sizing rule; the bucket-count rule of a
sized mirror (``bucket_count``, ``split_count`` and their thresholds) is
likewise written once, in ``_sizing.py``. Two pins hold the query
harnesses to their shared helpers: every thread pool under ``queries/``
is the one in ``_registry._overlap``, and ``cdc_state.py`` folds no
probe through ``explode(array(...))``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "tabular_cdc_bootstrapper_spark"
REEXPORTS = {(f"{PKG}.streaming.pipeline", "run_cdc_pipeline_available_now")}


def _module_file(module: str) -> Path | None:
    p = REPO.joinpath(*module.split("."))
    if (p / "__init__.py").is_file():
        return p / "__init__.py"
    if p.with_suffix(".py").is_file():
        return p.with_suffix(".py")
    return None


def _bound_names(body: list[ast.stmt]) -> set[str]:
    """Names a module body binds by definition (not by import)."""
    out: set[str] = set()
    for node in body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.add(node.name)
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                out |= {n.id for n in ast.walk(t) if isinstance(n, ast.Name)}
        elif isinstance(node, (ast.If, ast.Try)):
            for block in (node.body, node.orelse, getattr(node, "finalbody", [])):
                out |= _bound_names(block)
            for h in getattr(node, "handlers", []):
                out |= _bound_names(h.body)
    return out


def _used_names(tree: ast.AST) -> set[str]:
    """Every name a module reads, including quoted annotations."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        ann = getattr(node, "annotation", None) or getattr(node, "returns", None)
        if isinstance(ann, ast.Constant) and isinstance(ann.value, str):
            used |= {
                n.id
                for n in ast.walk(ast.parse(ann.value, mode="eval"))
                if isinstance(n, ast.Name)
            }
    return used


def _package_imports(path: Path):
    """(module, alias) for each absolute intra-package ``from`` import."""
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(PKG):
            for alias in node.names:
                yield node.module, alias


def _py_files(*dirs: str) -> list[Path]:
    return sorted(p for d in dirs for p in (REPO / d).rglob("*.py"))


def test_package_modules_import_only_what_they_use():
    unused = []
    for path in _py_files(PKG):
        if path.name == "__init__.py":
            continue
        module = ".".join(path.relative_to(REPO).with_suffix("").parts)
        tree = ast.parse(path.read_text())
        used = _used_names(tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (
                node.level or (node.module or "").startswith(PKG)
            ):
                for alias in node.names:
                    name = alias.asname or alias.name
                    if name not in used and (module, name) not in REEXPORTS:
                        unused.append(f"{path.relative_to(REPO)}:{node.lineno} {name}")
    assert unused == []


def test_package_names_are_imported_from_their_defining_module():
    defined: dict[str, set[str]] = {}
    wrong = []
    for path in _py_files(PKG, "tests", "scripts"):
        for module, alias in _package_imports(path):
            if (module, alias.name) in REEXPORTS:
                continue
            if _module_file(f"{module}.{alias.name}") is not None:
                continue  # a submodule
            if module not in defined:
                src = _module_file(module)
                assert src is not None, f"{path}: no module {module}"
                defined[module] = _bound_names(ast.parse(src.read_text()).body)
            if alias.name not in defined[module]:
                wrong.append(f"{path.relative_to(REPO)}: {module} {alias.name}")
    assert wrong == []


def test_the_one_reexport_resolves_to_the_runner():
    runner = _module_file(f"{PKG}.streaming.runner")
    assert "run_cdc_pipeline_available_now" in _bound_names(
        ast.parse(runner.read_text()).body
    )


#: the surface both table layouts share through ``_protocol.TableOps``
TABLE_OPS_METHODS = {
    "current", "exists", "history", "_owns", "_entry_readable", "_resolve",
    "read_version", "read_as_of",
    "tag", "tags", "read_tag", "delete_tag", "_tagset", "_tagged_versions",
    "constraints", "add_constraint", "drop_constraint", "_publish_properties",
    "rollback", "expire_snapshots", "clone_to", "write_audit_publish",
    "_purge_keys_locked", "_expire",
    "delete_where", "update_where", "insert_rows", "alter_schema",
}


def _method_defs(path: Path, cls: str | None = None) -> list[str]:
    """Names of the methods defined by the classes of one module (only
    by class ``cls`` when given)."""
    return [
        f.name
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.ClassDef) and cls in (None, node.name)
        for f in node.body
        if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def test_table_surface_is_defined_once_in_protocol():
    streaming = REPO / PKG / "streaming"
    for layout in ("state_table.py", "bucket_mirror.py", "bucket_ops.py"):
        again = TABLE_OPS_METHODS & set(_method_defs(streaming / layout))
        assert again == set(), f"{layout} redefines {sorted(again)}"
    defs = _method_defs(streaming / "_protocol.py", "TableOps")
    counts = {name: defs.count(name) for name in TABLE_OPS_METHODS}
    assert counts == {name: 1 for name in TABLE_OPS_METHODS}


def test_cas_tokens_are_built_only_in_protocol():
    """A based commit's CAS token ``(version, purged_ts)`` comes from
    ``_protocol._token`` alone: a hand-built token that drops the
    ``purged_ts`` half lets a commit publish over a purge of its basis.
    So no package module but ``streaming/_protocol.py`` reads
    ``purged_ts`` off a record."""
    protocol = REPO / PKG / "streaming" / "_protocol.py"
    reads = []
    for path in _py_files(PKG):
        if path == protocol:
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            key = None
            if (
                isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) == "get"
                and node.args
            ):
                key = node.args[0]
            elif isinstance(node, ast.Subscript) and isinstance(
                node.ctx, ast.Load
            ):
                key = node.slice
            if isinstance(key, ast.Constant) and key.value == "purged_ts":
                reads.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert reads == []


def _opens_exclusive(item: ast.withitem, fh: ast.expr | None) -> bool:
    """True iff ``item`` is ``open(<path>, "x") as <fh>``."""
    call = item.context_expr
    mode = None
    if isinstance(call, ast.Call) and getattr(call.func, "id", None) == "open":
        if len(call.args) > 1:
            mode = call.args[1]
        mode = next((k.value for k in call.keywords if k.arg == "mode"), mode)
    return (
        isinstance(mode, ast.Constant)
        and mode.value == "x"
        and isinstance(item.optional_vars, ast.Name)
        and isinstance(fh, ast.Name)
        and item.optional_vars.id == fh.id
    )


def test_json_writes_are_atomic_or_exclusive():
    """A crash must never leave a torn JSON pointer, log entry, tag,
    branch, checkpoint or manifest: each write either replaces the file
    atomically through ``_replace_json`` or creates it exclusively (the
    log-entry, branch-staging and purge-lock creates)."""
    torn = []
    for path in _py_files(PKG):
        tree = ast.parse(path.read_text())
        parent = {
            child: node
            for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)
        }
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "dump"
                and getattr(node.func.value, "id", None) == "json"
            ):
                continue
            fh = node.args[1] if len(node.args) > 1 else None
            up = node
            while up in parent:
                up = parent[up]
                if getattr(up, "name", None) == "_replace_json":
                    break
                if isinstance(up, ast.With) and any(
                    _opens_exclusive(item, fh) for item in up.items
                ):
                    break
            else:
                torn.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert torn == []


def test_staged_writes_are_sized_by_the_one_rule():
    """Every ``repartition`` of the mirror and purge modules passes
    ``write_tasks(...)`` as its count: a bare ``repartition(col)`` lets
    AQE coalesce a staged write into one task, and a count sized to the
    dir count queues one task per dir behind the slots."""
    streaming = REPO / PKG / "streaming"
    calls, unsized = 0, []
    for name in ("bucket_mirror.py", "bucket_ops.py", "_purge.py"):
        for node in ast.walk(ast.parse((streaming / name).read_text())):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "repartition"
            ):
                continue
            calls += 1
            count = node.args[0] if node.args else None
            if not (
                isinstance(count, ast.Call)
                and getattr(count.func, "id", None) == "write_tasks"
            ):
                unsized.append(f"{name}:{node.lineno}")
    assert calls >= 4 and unsized == []


def test_bucket_count_rule_is_written_once():
    """The bucket-count rule lives in ``streaming/_sizing.py`` beside
    ``write_tasks``: no other package module defines a count rule or
    reads its thresholds, and the mirror takes every sized count from
    ``load_bucket_count`` (initial load), ``bucket_count`` (a handle
    before it reads a manifest) or ``split_count`` (after a merge)."""
    rule = {
        "bucket_count", "load_bucket_count", "split_count",
        "BUCKET_BYTES", "MAX_BUCKETS",
    }
    sizing = REPO / PKG / "streaming" / "_sizing.py"
    tree = ast.parse(sizing.read_text())
    assert rule | {"write_tasks", "input_bytes"} <= _bound_names(tree.body)
    strays, calls = [], set()
    for path in _py_files(PKG):
        if path == sizing:
            continue
        tree = ast.parse(path.read_text())
        rel = str(path.relative_to(REPO))
        strays += [f"{rel}:{n}" for n in sorted(_bound_names(tree.body) & rule)]
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in rule - {
                "bucket_count", "load_bucket_count", "split_count"
            }:
                strays.append(f"{rel}:{node.lineno}")
            if isinstance(node, ast.Call) and _call_name(node) in rule:
                calls.add((path.name, _call_name(node)))
            if (
                isinstance(node, ast.Attribute)
                and node.attr in ("BUCKET_BYTES", "MAX_BUCKETS")
            ):
                strays.append(f"{rel}:{node.lineno}")
    assert strays == []
    assert calls == {
        ("bucket_mirror.py", "bucket_count"),
        ("bucket_mirror.py", "load_bucket_count"),
        ("bucket_ops.py", "split_count"),
    }


def _call_name(node: ast.Call) -> str | None:
    f = node.func
    return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)


def test_harness_pools_are_built_only_by_overlap():
    """Every ``ThreadPoolExecutor`` under ``queries/`` is built inside
    ``_registry._overlap``, which submits through
    ``inheritable_thread_target``: a bare pool runs its Spark jobs
    without the caller's job group and description."""
    pools, overlap = [], None
    for path in _py_files(f"{PKG}/queries"):
        tree = ast.parse(path.read_text())
        inside: set[int] = set()
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef) and fn.name == "_overlap":
                if path.name == "_registry.py":
                    overlap = fn
                    inside |= {id(n) for n in ast.walk(fn)}
        pools += [
            f"{path.relative_to(REPO)}:{n.lineno}"
            for n in ast.walk(tree)
            if isinstance(n, ast.Call)
            and _call_name(n) == "ThreadPoolExecutor"
            and id(n) not in inside
        ]
    assert pools == []
    assert overlap is not None
    assert "inheritable_thread_target" in {
        n.id for n in ast.walk(overlap) if isinstance(n, ast.Name)
    }


def test_cdc_probes_are_not_folded_by_explode():
    """``queries/cdc_state.py`` builds no ``explode(array(...))`` item
    fold: its probes go through ``_items`` (one aggregate and
    ``unpivot``)."""
    tree = ast.parse((REPO / PKG / "queries" / "cdc_state.py").read_text())
    folds = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Call)
        and _call_name(n) == "explode"
        and n.args
        and isinstance(n.args[0], ast.Call)
        and _call_name(n.args[0]) == "array"
    ]
    assert folds == []


def _enclosing_functions(tree: ast.AST) -> dict[int, str]:
    """``id(node)`` → ``Class.method`` (or ``function``) of the
    outermost function defining it, for every node under a function."""
    out: dict[int, str] = {}

    def visit(node: ast.AST, cls: str | None) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = f"{cls}.{child.name}" if cls else child.name
                out.update((id(n), name) for n in ast.walk(child))
            else:
                visit(child, cls)

    visit(tree, None)
    return out


def test_commit_retries_and_property_carry_live_in_the_publish_loop():
    """Every commit retry goes through ``TableOps._publish_cas``, the one
    optimistic publish loop, which also carries the table properties:
    ``_RETRY_BACKOFF`` is read in that function alone, no layout module
    catches ``CommitConflict`` (a layout supplies a rebase rule, not a
    loop), and no module but ``streaming/_protocol.py`` assigns a
    record's ``"constraints"`` key — a commit that builds its own
    carry can drop the constraints or skip their check."""
    streaming = REPO / PKG / "streaming"
    layouts = {
        streaming / n
        for n in ("state_table.py", "bucket_mirror.py", "bucket_ops.py")
    }
    readers, catches, stores = set(), [], []
    for path in _py_files(PKG):
        tree = ast.parse(path.read_text())
        where = _enclosing_functions(tree)
        rel = str(path.relative_to(REPO))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Name)
                and node.id == "_RETRY_BACKOFF"
                and isinstance(node.ctx, ast.Load)
            ):
                readers.add(f"{rel}:{where.get(id(node))}")
            if (
                isinstance(node, ast.Subscript)
                and isinstance(node.ctx, ast.Store)
                and isinstance(node.slice, ast.Constant)
                and node.slice.value == "constraints"
                and path != streaming / "_protocol.py"
            ):
                stores.append(f"{rel}:{node.lineno}")
            if (
                isinstance(node, ast.ExceptHandler)
                and path in layouts
                and node.type is not None
                and "CommitConflict"
                in {n.id for n in ast.walk(node.type) if isinstance(n, ast.Name)}
            ):
                catches.append(f"{rel}:{node.lineno}")
    assert readers == {
        f"{PKG}/streaming/_protocol.py:TableOps._publish_cas"
    }
    assert catches == []
    assert stores == []
