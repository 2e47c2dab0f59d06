"""Every top-level library def is reached by a consumer.

A def in ``gus_spark/`` belongs in the library only if something other
than the tests uses it. This walks the ASTs (no imports, no Spark) and
computes the defs reachable from the library's consumers:

- every ``@register`` query and the names inside its ``oracle=``
  argument (the catalog and its DuckDB twins);
- ``bench.py``, ``__spark_entry__.py``, ``tools/*.py`` and
  ``perfbench/*.py``;
- the console scripts of ``pyproject.toml`` (``gus_spark.cli:main``);
- module-level code of library modules (what runs at import);
- the identifiers ``README.md`` puts in backticks;
- ``ALLOWLIST``: public entries README describes only in prose.

Reach is transitive through the bodies of reached library defs and
matches plain names and attribute names, so ``ps._scan`` after
``import gus_spark.storage.parquet_store as ps`` reaches ``_scan``.
References from ``tests/`` do not count, and neither do docstrings:
a module docstring that names a def documents it, it does not use
it. A def nothing reaches is either a test helper (move it to
``tests/``) or dead (delete it).
"""

from __future__ import annotations

import ast
import pathlib
import re
import tomllib

ROOT = pathlib.Path(__file__).resolve().parents[1]

#: name -> why it stays public although no consumer above reaches it.
#: At most ten entries; each is a feature README describes in prose.
ALLOWLIST: dict[str, str] = {
    "simhash_neardup_pairs": "README operators row lists SimHash; "
    "the signatures alone yield no near-dup pairs",
    "semantic_dedup_clusters": "README describes SemDeDup (k-means "
    "cells + greedy leader pass); this is its cluster output",
    "bucketed_join": "README lists bucketed joins; the read side of "
    "write_bucketed",
    "salted_sum": "README lists salted aggregation",
    "write_zordered": "README lists z-order clustered writes",
    "check_references": "README storage row lists FK integrity sweeps "
    "(references)",
    "sequences_containing": "README: retroactive compliance deletes; "
    "maps documents to the packed sequences TrainingShardSet.delete "
    "removes",
    "mask_weights": "README: zero masked_spans token ranges from the "
    "loss; this pins the 1-based span arithmetic",
}

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _names(nodes) -> set[str]:
    """Plain names and attribute names referenced anywhere in ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name):
                out.add(sub.id)
            elif isinstance(sub, ast.Attribute):
                out.add(sub.attr)
            elif isinstance(sub, ast.ImportFrom):
                out.update(a.name for a in sub.names)
    return out


def _is_register(dec: ast.expr) -> bool:
    call = dec if isinstance(dec, ast.Call) else None
    func = call.func if call else dec
    return (isinstance(func, ast.Name) and func.id == "register") or (
        isinstance(func, ast.Attribute) and func.attr == "register"
    )


def _readme_names(root: pathlib.Path) -> set[str]:
    text = (root / "README.md").read_text(encoding="utf-8")
    spans = re.findall(r"```.*?```|`[^`\n]+`", text, flags=re.S)
    return {tok for span in spans for tok in _IDENT.findall(span)}


def library_defs(root: pathlib.Path):
    """{(relpath, name): (lineno, node)} for every top-level def/class,
    and the module-level statements that run at import."""
    defs: dict[tuple[str, str], tuple[int, ast.AST]] = {}
    module_code: list[ast.AST] = []
    for path in sorted((root / "gus_spark").rglob("*.py")):
        rel = path.relative_to(root).as_posix()
        tree = ast.parse(path.read_text(encoding="utf-8"))
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs[(rel, node.name)] = (node.lineno, node)
                # decorators, defaults and bases run at import
                module_code.extend(node.decorator_list)
                if isinstance(node, ast.ClassDef):
                    module_code.extend(node.bases)
                else:
                    module_code.extend(node.args.defaults)
                    module_code.extend(
                        d for d in node.args.kw_defaults if d is not None
                    )
            else:
                module_code.append(node)
    return defs, module_code


def unreached(root: pathlib.Path = ROOT, allow=None) -> list[str]:
    """``file:line name`` for each top-level library def no root reaches."""
    allow = ALLOWLIST if allow is None else allow
    defs, module_code = library_defs(root)
    by_name: dict[str, list[tuple[str, str]]] = {}
    for key in defs:
        by_name.setdefault(key[1], []).append(key)

    seen = set(allow) | _readme_names(root) | _names(module_code)
    scripts = tomllib.loads((root / "pyproject.toml").read_text())
    seen.update(
        entry.split(":")[1] for entry in scripts["project"]["scripts"].values()
    )
    for key, (_, node) in defs.items():
        if any(_is_register(d) for d in getattr(node, "decorator_list", ())):
            seen.add(key[1])
    consumers = [root / "bench.py", root / "__spark_entry__.py"]
    consumers += sorted((root / "tools").glob("*.py"))
    consumers += sorted((root / "perfbench").glob("*.py"))
    for path in consumers:
        seen |= _names([ast.parse(path.read_text(encoding="utf-8"))])

    reached: set[tuple[str, str]] = set()
    frontier = [k for n in seen for k in by_name.get(n, ())]
    while frontier:
        key = frontier.pop()
        if key in reached:
            continue
        reached.add(key)
        for name in _names([defs[key][1]]) - seen:
            seen.add(name)
            frontier.extend(by_name.get(name, ()))
    return sorted(
        f"{rel}:{defs[(rel, name)][0]} {name}"
        for rel, name in defs
        if (rel, name) not in reached
    )


def test_allowlist_is_short_and_explained():
    assert len(ALLOWLIST) <= 10
    assert all(reason.strip() for reason in ALLOWLIST.values())
    defs, _ = library_defs(ROOT)
    names = {name for _, name in defs}
    assert set(ALLOWLIST) <= names, set(ALLOWLIST) - names


def test_every_library_def_is_reached():
    missing = unreached()
    assert not missing, (
        f"{len(missing)} library defs are reached by no query, pipeline, "
        "bench, tool or documented entry (move them to tests/ or delete "
        "them):\n" + "\n".join(missing)
    )


def test_module_docstring_is_not_a_root(tmp_path):
    """A def that only its module's docstring names is unreached; the
    same name in README backticks reaches its twin."""
    (tmp_path / "gus_spark").mkdir()
    (tmp_path / "gus_spark" / "mod.py").write_text(
        '"""Entries: `only_in_docstring` and `in_readme`."""\n\n\n'
        "def only_in_docstring():\n    return 1\n\n\n"
        "def in_readme():\n    return 2\n"
    )
    (tmp_path / "README.md").write_text("Call `in_readme`.\n")
    (tmp_path / "pyproject.toml").write_text(
        '[project.scripts]\ngus = "gus_spark.cli:main"\n'
    )
    (tmp_path / "tools").mkdir()
    (tmp_path / "perfbench").mkdir()
    (tmp_path / "bench.py").write_text("")
    (tmp_path / "__spark_entry__.py").write_text("")
    assert unreached(tmp_path, allow={}) == [
        "gus_spark/mod.py:4 only_in_docstring"
    ]
