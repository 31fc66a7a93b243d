"""Three-sf oracle sweep: the evidence gate for every oracle entry.

Scale-dependent divergence is invisible to any single-sf gate (the q123
lesson: a ROUND(double, 4) formulation matched DuckDB at sf0.01 and
diverged at sf0.1 only), so every ``oracle_sql()`` entry must hold a
THREE-SF pass record, refreshed whenever the entry's code changes.

This tool runs entries through the full driver-style compare (Spark vs
DuckDB, tools/check_oracle.py's normalize+hash) at sf0.001, sf0.01 and
sf0.1, and writes ``SWEEP.json``:

    {key: {"fingerprint": <sha256 of the entry's closure ASTs + oracle
           SQL>, "sfs": {"sf0.001": true, ...}}}

``tests/test_sweep_record.py`` (no Spark — record check only) fails if
any entry lacks a record, has a failing sf, or has a fingerprint that no
longer matches the worktree (the code changed after the sweep).

The fingerprint covers the entry's transitive in-package closure: its
query callable, every package-internal function/class/constant it
reaches, and the names its ORACLE value expression references.  It
hashes ``ast.dump`` (no positions), so comment/whitespace-only edits do
not change it; docstring edits do.  Names that cannot be statically
resolved (builtins, third-party modules, dynamic access) are skipped.

Usage:  python tools/sweep_oracle.py            # sweep every entry
        python tools/sweep_oracle.py q123_quality_classifier  # subset
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [REPO, os.path.dirname(os.path.abspath(__file__))]

PKG = "live_market_data_orderflow_analysis_big_data_project__spark"
RECORD = os.path.join(REPO, "SWEEP.json")
SFS = ("sf0.001", "sf0.01", "sf0.1")
TESTDATA = "/root/testdata"


# --------------------------------------------------------------------------
# static closure: (module_relpath, top_level_name) reachable from a function
# --------------------------------------------------------------------------

class _ModuleIndex:
    """Top-level defs + import aliases of one parsed module; ``exists``
    resolves sibling modules against the walker's source supplier."""

    def __init__(self, relpath: str, tree: ast.Module, exists):
        self._exists = exists
        self.relpath = relpath
        self.defs: dict[str, ast.stmt] = {}
        # local name -> {(module_relpath, original_name | None)}: a SET
        # because entries import operators call-time inside each
        # function, so one local alias may bind to different modules in
        # different functions — the closure visits every binding
        # (over-approximating is the safe direction).
        self.imports: dict[str, set[tuple[str, str | None]]] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.defs[tgt.id] = node
            elif isinstance(node, ast.AnnAssign):
                if isinstance(node.target, ast.Name):
                    self.defs[node.target.id] = node
        # imports are indexed over the WHOLE tree, not just tree.body:
        # function-local ``from ..operators.x import y`` is how nearly
        # every entry reaches its operator module.
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom):
                mod = self._resolve_from(node)
                if mod is None:
                    continue
                for alias in node.names:
                    local = alias.asname or alias.name
                    self.imports.setdefault(local, set()).add(
                        (mod, alias.name)
                    )
            elif isinstance(node, ast.Import):
                for alias in node.names:
                    if alias.name.startswith(PKG):
                        local = alias.asname or alias.name.split(".")[0]
                        rel = alias.name.replace(".", "/") + ".py"
                        self.imports.setdefault(local, set()).add(
                            (rel, None)
                        )

    def _resolve_from(self, node: ast.ImportFrom) -> str | None:
        """Resolve a ``from X import y`` to a package-internal relpath."""
        if node.level == 0:
            if not (node.module or "").startswith(PKG):
                return None
            base = node.module.split(".")
        else:
            pkg_parts = os.path.dirname(self.relpath).split("/")
            if node.level > 1:
                pkg_parts = pkg_parts[: len(pkg_parts) - (node.level - 1)]
            base = pkg_parts + (node.module.split(".") if node.module else [])
        for cand in ("/".join(base) + ".py", "/".join(base) + "/__init__.py"):
            if self._exists(cand):
                return cand
        return None


_WORKTREE_CACHE: dict[str, str | None] = {}


def _read_worktree(relpath: str) -> str | None:
    if relpath not in _WORKTREE_CACHE:
        try:
            with open(os.path.join(REPO, relpath)) as f:
                _WORKTREE_CACHE[relpath] = f.read()
        except FileNotFoundError:
            _WORKTREE_CACHE[relpath] = None
    return _WORKTREE_CACHE[relpath]


def _names_in(node: ast.AST) -> set[str]:
    # the root of an attribute chain (``llmops`` in
    # ``llmops.jaccard_pairs``) is itself a Name
    return {sub.id for sub in ast.walk(node) if isinstance(sub, ast.Name)}


class _ClosureWalker:
    def __init__(self, source_of=_read_worktree):
        """``source_of(relpath) -> str | None`` supplies module sources."""
        self._source_of = source_of
        self._idx: dict[str, _ModuleIndex | None] = {}
        self._dumps: dict[tuple[str, str], str | None] = {}

    def index(self, relpath: str) -> _ModuleIndex | None:
        if relpath not in self._idx:
            src = self._source_of(relpath)
            try:
                self._idx[relpath] = None if src is None else _ModuleIndex(
                    relpath,
                    ast.parse(src),
                    exists=lambda rel: self._source_of(rel) is not None,
                )
            except SyntaxError:
                self._idx[relpath] = None
        return self._idx[relpath]

    def closure(self, relpath: str, name: str) -> set[tuple[str, str]]:
        seen: set[tuple[str, str]] = set()
        self._visit(relpath, name, seen)
        return seen

    def _visit(self, relpath: str, name: str,
               seen: set[tuple[str, str]]) -> None:
        if (relpath, name) in seen:
            return
        idx = self.index(relpath)
        if idx is None:
            return
        if name in idx.defs:
            seen.add((relpath, name))
            refs = sorted(_names_in(idx.defs[name]) - {name})
        elif name in idx.imports:
            refs = [name]
        else:
            return
        for ref in refs:
            if ref in idx.defs:
                self._visit(relpath, ref, seen)
            for mod, orig in sorted(idx.imports.get(ref, ())):
                if orig is None or orig == "*":
                    # whole-module reference: too coarse to chase
                    # attribute-by-attribute, so the module file itself
                    # is a member and ANY change there counts
                    seen.add((mod, "<module>"))
                else:
                    self._visit(mod, orig, seen)

    def node_dump(self, relpath: str, name: str) -> str | None:
        key = (relpath, name)
        if key not in self._dumps:
            self._dumps[key] = self._dump(relpath, name)
        return self._dumps[key]

    def _dump(self, relpath: str, name: str) -> str | None:
        if name == "<module>":
            src = self._source_of(relpath)
            try:
                return None if src is None else ast.dump(ast.parse(src))
            except SyntaxError:
                return None
        idx = self.index(relpath)
        if idx is None or name not in idx.defs:
            return None
        return ast.dump(idx.defs[name])


# --------------------------------------------------------------------------
# entry points and fingerprints
# --------------------------------------------------------------------------

def _oracle_value_names(idx: _ModuleIndex, key: str) -> set[str]:
    """Names referenced by ORACLE[key]'s value expression (e.g. Q99B_SQL,
    or the helper call building it)."""
    node = idx.defs.get("ORACLE")
    if not isinstance(node, ast.Assign) or not isinstance(
        node.value, ast.Dict
    ):
        return set()
    for k, v in zip(node.value.keys, node.value.values):
        if isinstance(k, ast.Constant) and k.value == key:
            return _names_in(v)
    return set()


def entry_points(
    walker: _ClosureWalker | None = None,
) -> dict[str, tuple[str, str, set[str]]]:
    """key -> (module_relpath, func_name, extra oracle-expression names)."""
    from live_market_data_orderflow_analysis_big_data_project__spark import (  # noqa: E501
        queries as q,
    )

    walker = walker or _ClosureWalker()
    out = {}
    for key, fn in q._ALL_Q.items():
        mod = fn.__module__.replace(".", "/") + ".py"
        idx = walker.index(mod)
        extra = _oracle_value_names(idx, key) if idx else set()
        out[key] = (mod, fn.__name__, extra)
    return out


def fingerprints(
    keys=None, source_of=_read_worktree
) -> dict[str, str]:
    """key -> sha256 over the entry's closure ASTs + its oracle SQL, for
    ``keys`` (default: every oracle entry).  One walker serves every
    key, so shared operator modules are parsed and dumped once."""
    import __spark_entry__ as ent

    osql = ent.oracle_sql()
    walker = _ClosureWalker(source_of)
    points = entry_points(walker)
    out = {}
    for key in osql if keys is None else keys:
        mod, fn_name, extra = points[key]
        members = walker.closure(mod, fn_name)
        for name in sorted(extra):
            members |= walker.closure(mod, name)
        h = hashlib.sha256()
        for relpath, name in sorted(members):
            h.update(f"{relpath}::{name}\n".encode())
            h.update((walker.node_dump(relpath, name) or "").encode())
        h.update(osql[key].encode())
        out[key] = h.hexdigest()
    return out


# --------------------------------------------------------------------------
# the sweep
# --------------------------------------------------------------------------

def _write(record: dict) -> None:
    with open(RECORD, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)


def main(argv: list[str]) -> int:
    import __spark_entry__ as ent
    from check_oracle import cols_rows, compare, duck
    from live_market_data_orderflow_analysis_big_data_project__spark.session import (  # noqa: E501
        get_spark,
        query_scope,
    )

    qs, osql = ent.queries(), ent.oracle_sql()
    record: dict = {}
    if os.path.exists(RECORD):
        with open(RECORD) as f:
            record = json.load(f)
    # entries without an oracle any more carry no evidence
    record = {k: v for k, v in record.items() if k in osql}
    keys = argv or list(osql)
    unknown = [k for k in keys if k not in osql]
    if unknown:
        print(f"no oracle entry: {unknown}")
        return 2

    fps = fingerprints(keys)
    cons = {sf: duck(os.path.join(TESTDATA, sf)) for sf in SFS}
    spark = get_spark("oracle-sweep", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failed = []
    for i, key in enumerate(keys, 1):
        entry = {"fingerprint": fps[key], "sfs": {}}
        for sf in SFS:
            t0 = time.time()
            try:
                with query_scope(spark, key):
                    spdf = qs[key](spark, os.path.join(TESTDATA, sf)).toPandas()
                problems = compare(*cols_rows(spdf),
                                   *cols_rows(cons[sf].execute(osql[key]).df()))
            except Exception as e:  # noqa: BLE001 — record, don't abort sweep
                problems = [f"{type(e).__name__}: {e}"]
            ok = not problems
            entry["sfs"][sf] = ok
            print(f"[{i}/{len(keys)}] {'PASS' if ok else 'FAIL'} {key} @ {sf} "
                  f"({time.time() - t0:.1f}s)", flush=True)
            if not ok:
                print("    " + "\n    ".join(problems), flush=True)
                failed.append((key, sf))
        record[key] = entry
        _write(record)  # a cut-short sweep keeps what it proved
    spark.stop()
    for con in cons.values():
        con.close()
    _write(record)
    print(f"\nwrote {RECORD} ({len(record)} entries)")
    if failed:
        print("FAILURES:", failed)
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
