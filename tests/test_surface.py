"""The library's public surface carries no dead weight.

Two static (AST) checks over the repository's Python sources:

- every public top-level ``def`` in ``lakeforge/`` (registry ``q_*``
  queries aside) is referenced by the library or its tools — ``lakeforge/``,
  ``perfbench/``, ``tools/`` or ``bench.py`` — not by tests alone;
- every optional parameter of those defs is set by at least one call
  somewhere, tests included; an option no caller sets is a constant.

References and calls are matched by name (``f(...)``, ``mod.f(...)``,
``from m import f``), so a same-named function elsewhere can satisfy a
check; neither check can flag live code as dead.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Public functions that only tests reach, kept on purpose.  The last six
# await a decision each (ROADMAP item 6).
KEEP = {
    "observe_metrics": "row counts ride a write; the observability step",
    "ordered_sample": "the reference's silver check A5",
    "compact_partitions": "layout operator, ROADMAP follow-up",
    "update_stats_manifest": "layout operator, ROADMAP follow-up",
    "zorder_write": "layout operator, ROADMAP follow-up",
    "merge_upsert": "copy-on-write merge, ROADMAP follow-up",
    "stream_merge_to_silver": "streaming merge, ROADMAP follow-up",
    "resize_images": "media operator, ROADMAP follow-up",
}


def _sources(*parts: str) -> list[Path]:
    out: list[Path] = []
    for part in parts:
        p = REPO / part
        out += [p] if p.suffix == ".py" else sorted(p.rglob("*.py"))
    return out


def _trees(paths: list[Path]) -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), str(p)) for p in paths}


LIBRARY = _trees(_sources("lakeforge"))
USERS = {**LIBRARY, **_trees(_sources("perfbench", "tools", "bench.py"))}
EVERYTHING = {**USERS, **_trees(_sources("tests"))}


def _public_defs() -> list[tuple[Path, ast.FunctionDef]]:
    return [
        (path, node)
        for path, tree in LIBRARY.items()
        for node in tree.body
        if isinstance(node, ast.FunctionDef)
        and not node.name.startswith(("_", "q_"))
    ]


def _referenced_names(trees) -> set[str]:
    names: set[str] = set()
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def _calls_by_name(trees) -> dict[str, list[ast.Call]]:
    calls: dict[str, list[ast.Call]] = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def test_every_public_function_has_a_non_test_caller():
    used = _referenced_names(USERS)
    unused = sorted(
        f"{path.relative_to(REPO)}::{node.name}"
        for path, node in _public_defs()
        if node.name not in used and node.name not in KEEP
    )
    assert unused == [], (
        "public functions only tests reach — delete them, or add them to "
        f"KEEP with a reason: {unused}"
    )
    stale = sorted(set(KEEP) - {node.name for _, node in _public_defs()})
    assert stale == [], f"KEEP names functions that no longer exist: {stale}"


def test_every_optional_parameter_is_set_by_some_call():
    calls = _calls_by_name(EVERYTHING)
    unset = []
    for path, node in _public_defs():
        sites = calls.get(node.name, [])
        if any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in sites
        ):
            continue  # forwarded through *args/**kwargs: can't tell
        a = node.args
        positional = a.posonlyargs + a.args
        first_opt = len(positional) - len(a.defaults)
        optional = [(i, p.arg) for i, p in enumerate(positional) if i >= first_opt]
        optional += [
            (None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        for i, name in optional:
            if not any(
                any(k.arg == name for k in c.keywords)
                or (i is not None and len(c.args) > i)
                for c in sites
            ):
                unset.append(f"{path.relative_to(REPO)}::{node.name}({name})")
    assert unset == [], f"options no call sets — make them constants: {unset}"
