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
and maintenance methods, the GDPR purge protocol and per-commit
retention are defined once, in ``_protocol.py``, and in neither table
layout's module. It also pins how JSON metadata reaches disk: every
``json.dump`` in the package is either the body of ``_replace_json``
(temp file + atomic rename) or an exclusive create (mode ``"x"``).
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
