"""The evidence gate (tools/sweep_oracle.py; no Spark — record and
fingerprint checks only).

Every ``oracle_sql()`` entry must hold a three-sf pass record in
SWEEP.json whose closure fingerprint matches the worktree: editing an
entry's code without re-running ``tools/sweep_oracle.py`` on it fails
here.  The remaining tests pin the fingerprint itself — it must change
when an entry's code changes anywhere in its closure, and must not
change on comment-only edits.
"""

from __future__ import annotations

import ast
import json
import os

import pytest

from sweep_oracle import (
    RECORD,
    SFS,
    _ClosureWalker,
    _read_worktree,
    entry_points,
    fingerprints,
)

import __spark_entry__ as ent

KEY = "q90_exact_dedup"


def test_every_oracle_entry_has_fresh_three_sf_pass_record():
    assert os.path.exists(RECORD), (
        "SWEEP.json missing — run: python tools/sweep_oracle.py"
    )
    record = json.load(open(RECORD))
    fps = fingerprints()
    assert list(fps) == list(ent.oracle_sql())
    stale = [
        key
        for key, fp in fps.items()
        if record.get(key, {}).get("fingerprint") != fp
        or not all(record[key].get("sfs", {}).get(sf) for sf in SFS)
    ]
    assert not stale, (
        f"{len(stale)} entries lack a fresh three-sf pass record; re-run:"
        "\npython tools/sweep_oracle.py " + " ".join(stale)
    )


def test_closure_crosses_modules():
    """q90's closure must include the llmops helper it calls, not just
    the lblock wrapper."""
    walker = _ClosureWalker()
    mod, fn, _extra = entry_points(walker)[KEY]
    mods = {m for m, _ in walker.closure(mod, fn)}
    assert any(m.endswith("operators/llmops.py") for m in mods), mods


def _mutate_fn(src: str, name: str) -> str:
    """Rewrite top-level ``name`` to a semantically different body."""
    tree = ast.parse(src)
    for node in tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            node.body = [ast.Return(value=ast.Constant(value=None))]
            break
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == name for t in node.targets
        ):
            node.value = ast.Constant(value="__mutated__")
            break
    else:
        return src
    ast.fix_missing_locations(tree)
    return ast.unparse(tree)


@pytest.mark.parametrize(
    "kind", ["body_edit", "helper_edit", "missing", "comment_only"]
)
def test_fingerprint_tracks_closure_edits(kind):
    """A body edit, an edit to a cross-module helper, or a module losing
    its defs changes q90's fingerprint; a comment-only edit does not."""
    walker = _ClosureWalker()
    mod, fn, _extra = entry_points(walker)[KEY]
    helper = next(
        m for m in sorted(walker.closure(mod, fn))
        if m[0].endswith("operators/llmops.py")
    )

    def edited(relpath: str):
        src = _read_worktree(relpath)
        if src is None:
            return None
        if kind == "body_edit" and relpath == mod:
            return _mutate_fn(src, fn)
        if kind == "helper_edit" and relpath == helper[0]:
            return _mutate_fn(src, helper[1])
        if kind == "missing" and relpath == mod:
            return "# module with no defs\n"
        if kind == "comment_only" and relpath == mod:
            return "# a comment that was not there before\n" + src
        return src

    before = fingerprints([KEY])[KEY]
    after = fingerprints([KEY], source_of=edited)[KEY]
    assert (before == after) == (kind == "comment_only"), kind


def test_closure_includes_function_local_imports():
    """Nearly every entry imports its operator call-time inside the
    query function, so the closure must index nested ImportFrom nodes —
    pinned with a synthetic module and with the real q168 closure."""
    sources = {
        "pkg/qmod.py": (
            "def entry():\n"
            "    from .opmod import helper\n"
            "    return helper()\n"
        ),
        "pkg/opmod.py": "def helper():\n    return 42\n",
    }
    walker = _ClosureWalker(sources.get)
    assert ("pkg/opmod.py", "helper") in walker.closure("pkg/qmod.py", "entry")

    real = _ClosureWalker()
    mod, fn, _extra = entry_points(real)["q168_rolling_active"]
    mods = {m for m, _ in real.closure(mod, fn)}
    assert any(m.endswith("operators/rolling.py") for m in mods), mods


def test_closure_alias_collisions_visit_every_binding():
    """Two functions importing DIFFERENT helpers under the SAME local
    alias: the module-wide alias map visits both bindings (sets, not
    last-wins) — under-approximating would drop an operator."""
    sources = {
        "pkg/qmod.py": (
            "def entry_a():\n"
            "    from .op_a import helper\n"
            "    return helper()\n"
            "\n"
            "def entry_b():\n"
            "    from .op_b import helper\n"
            "    return helper()\n"
        ),
        "pkg/op_a.py": "def helper():\n    return 1\n",
        "pkg/op_b.py": "def helper():\n    return 2\n",
    }
    members = _ClosureWalker(sources.get).closure("pkg/qmod.py", "entry_a")
    assert ("pkg/op_a.py", "helper") in members, members
    assert ("pkg/op_b.py", "helper") in members, members

