"""The library's public surface carries no dead weight.

Two static (AST) checks over the repository's Python sources:

- every public top-level ``def`` in ``lakeforge/`` (registry ``q_*``
  queries aside) is referenced by the library or its tools — ``lakeforge/``,
  ``perfbench/``, ``tools/`` or ``bench.py`` — not by tests alone;
- every optional parameter of those defs is set by at least one call from
  that same code; an option that only tests set is a constant.

Each check has one exception list, ``KEEP`` and ``KEEP_OPTIONS``, and each
entry names its reason.

References and calls are matched by name (``f(...)``, ``mod.f(...)``,
``from m import f``), so a same-named function elsewhere can satisfy a
check; neither check can flag live code as dead.  A package
``__init__.py``'s re-export is not a reference: it only makes the name
importable, and counting it would hide a function that only tests call.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]

# Public functions that only tests reach, kept on purpose.
KEEP = {
    "observe_metrics": "row counts ride a write; the observability step",
    "ordered_sample": "the reference's silver check A5",
    "export_csv": "reference S6 gold CSV export (README.md:190-191)",
}

# Options that only tests set, kept on purpose: deployment settings, and
# test seams that reach a behaviour real callers hit.
KEEP_OPTIONS = {
    "lakeforge/session.py::get_spark(master)": "deployment address",
    "lakeforge/io/sinks.py::write_jdbc(driver)": "deployment JDBC driver",
    "lakeforge/cache.py::release_all(blocking)":
        "synchronous release, so the leak probes see freed blocks at once",
    "lakeforge/streaming/events.py::read_events_stream(max_files_per_trigger)":
        "splits the input into several micro-batches",
    "lakeforge/llm/clustering.py::kmeans_fit(id_col)":
        "the per-group reference kmeans_fit_grouped is compared against",
    "lakeforge/llm/clustering.py::kmeans_fit(vec_col)":
        "the per-group reference kmeans_fit_grouped is compared against",
    "lakeforge/llm/clustering.py::kmeans_fit(pre_quantized)":
        "the per-group reference kmeans_fit_grouped is compared against",
    "lakeforge/ops/joins.py::bloom_prefiltered_semi_join(n_bits)":
        "a tiny filter forces false positives through the exact semi join",
    "lakeforge/llm/similarity.py::cosine_topk(max_queries)":
        "trips the driver-side query-count guard",
    "lakeforge/llm/dedup.py::simhash_neardup_pairs(bits)":
        "the 60-bit width of simhash_hamming_histogram, whose banding "
        "recall is checked against this operator",
    "lakeforge/llm/dedup.py::passage_dedup(passage_words)":
        "a short window cuts small generated docs into several passages",
    "lakeforge/llm/multimodal.py::encode_wav(n_channels)":
        "stereo payloads for the WAV decoders, which read any channel count",
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
    for path, tree in trees.items():
        reexports = path.name == "__init__.py"
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias) and not reexports:
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


def _options() -> list[tuple[str, str, int | None, str]]:
    """``(key, func, index, param)`` for every optional parameter of every
    public def outside ``KEEP``: ``key`` is ``path::func(param)`` and
    ``index`` the positional slot (None for keyword-only)."""
    out = []
    for path, node in _public_defs():
        if node.name in KEEP:
            continue
        a = node.args
        positional = a.posonlyargs + a.args
        first_opt = len(positional) - len(a.defaults)
        opts = [(i, p.arg) for i, p in enumerate(positional) if i >= first_opt]
        opts += [
            (None, p.arg)
            for p, d in zip(a.kwonlyargs, a.kw_defaults)
            if d is not None
        ]
        rel = path.relative_to(REPO)
        out += [(f"{rel}::{node.name}({n})", node.name, i, n) for i, n in opts]
    return out


def test_every_optional_parameter_is_set_by_some_call():
    """Only calls from non-test code count."""
    calls = _calls_by_name(USERS)
    options = _options()
    unset = []
    for key, func, i, name in options:
        sites = calls.get(func, [])
        if any(
            any(isinstance(a, ast.Starred) for a in c.args)
            or any(k.arg is None for k in c.keywords)
            for c in sites
        ):
            continue  # forwarded through *args/**kwargs: can't tell
        if not any(
            any(k.arg == name for k in c.keywords)
            or (i is not None and len(c.args) > i)
            for c in sites
        ):
            unset.append(key)
    unset = sorted(set(unset) - set(KEEP_OPTIONS))
    assert unset == [], (
        "options that only tests set — make them constants, or add them to "
        f"KEEP_OPTIONS with a reason: {unset}"
    )
    stale = sorted(set(KEEP_OPTIONS) - {key for key, *_ in options})
    assert stale == [], f"KEEP_OPTIONS names options that no longer exist: {stale}"
