"""Machine-check COVERAGE.md's anchors (judge r12 task 7): the
generated query index must match a fresh regeneration (file:line
anchors cannot drift from the source), every ``oracle:NAME`` token
must name a registered query, every backticked ``module.py::symbol``
anchor must resolve to a real definition, and every ``test:FILE``
anchor must name an existing test module (and, with ``::name``, an
existing test in it)."""

from __future__ import annotations

import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
COVERAGE = os.path.join(REPO, "COVERAGE.md")


def _coverage_text() -> str:
    return open(COVERAGE).read()


def test_generated_query_index_is_fresh():
    import sys

    sys.path.insert(0, os.path.join(REPO, "scripts"))
    from gen_coverage_index import BEGIN, END, build_index

    src = _coverage_text()
    assert BEGIN in src and END in src, (
        "COVERAGE.md is missing the generated query index — run "
        "python scripts/gen_coverage_index.py"
    )
    current = src.split(BEGIN, 1)[1].split(END, 1)[0]
    fresh = build_index().split(BEGIN, 1)[1].split(END, 1)[0]
    assert current == fresh, (
        "COVERAGE.md's generated query index is stale — regenerate via "
        "python scripts/gen_coverage_index.py"
    )


def test_oracle_anchors_name_registered_queries():
    from curw_wrf_data_pusher_spark.queries import QUERIES

    names = set(re.findall(r"oracle:([A-Za-z0-9_]+)", _coverage_text()))
    names -= {"NAME"}  # the legend's placeholder in the preamble
    unknown = sorted(n for n in names if n not in QUERIES)
    assert unknown == [], f"oracle: anchors naming unregistered queries: {unknown}"


def _find_file(path: str) -> str | None:
    """Resolve an anchor path: package-relative, repo-relative, or a
    bare basename searched across the package tree (unique match)."""
    pkg = os.path.join(REPO, "curw_wrf_data_pusher_spark")
    for base in (pkg, REPO):
        fp = os.path.join(base, path)
        if os.path.exists(fp):
            return fp
    if "/" not in path:
        hits = []
        for root, _dirs, files in os.walk(pkg):
            if path in files:
                hits.append(os.path.join(root, path))
        if len(hits) == 1:
            return hits[0]
    return None


def test_symbol_anchors_resolve():
    """Every `dir/file.py::symbol` anchor: the file exists (package-
    or repo-relative, or a unique basename) and defines the symbol.
    Slash-separated lists (`countmin_build/lookup/merge`) follow the
    COVERAGE.md shorthand: later segments are suffixes of prefixed
    definitions, so a segment resolves if any def/class NAME ends
    with it."""
    text = _coverage_text()
    bad = []
    for path, syms in re.findall(r"`([\w/]+\.py)::([\w/.]+)`", text):
        fp = _find_file(path)
        if fp is None:
            bad.append(f"{path} (missing file)")
            continue
        body = open(fp).read()
        for sym in re.split(r"[/.]", syms):
            if not sym:
                continue
            if not re.search(
                rf"^\s*(def|class)\s+\w*{re.escape(sym)}\b"
                rf"|^{re.escape(sym)}\s*[:=]",
                body,
                re.M,
            ):
                bad.append(f"{path}::{sym}")
    assert bad == [], f"unresolvable symbol anchors: {bad}"


def test_test_anchors_name_existing_modules():
    """Every ``test:FILE.py`` anchor names an existing test module; a
    ``test:FILE.py::name`` anchor must also name a ``def name`` in
    that module, and a trailing ``*`` (``test_e3_*``) is a prefix at
    least one def must match."""
    text = _coverage_text()
    bad = []
    for mod, name in set(re.findall(r"test:(\w+\.py)(?:::(\w+\*?))?", text)):
        fp = os.path.join(REPO, "tests", mod)
        if not os.path.exists(fp):
            bad.append(mod)
            continue
        if not name:
            continue
        stem = re.escape(name.rstrip("*"))
        tail = r"\w*" if name.endswith("*") else ""
        if not re.search(rf"^\s*def {stem}{tail}\s*\(", open(fp).read(), re.M):
            bad.append(f"{mod}::{name}")
    assert sorted(bad) == [], f"test: anchors naming missing tests: {bad}"
