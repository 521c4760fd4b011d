"""Every top-level ``webx`` definition is reached from code that runs.

The roots are ``jobs/``, ``scripts/``, ``perfbench/``, ``bench.py``,
the driver queries in ``__spark_entry__.py`` and each ``webx`` module's
top-level code (imports, constants, decorators, default values; not the
bodies of its functions and classes). The scan follows names to a fixed
point: a definition is reached when a root or a reached body names it as
a variable, an attribute, an import or inside a string constant (the
benchmark patches functions by their dotted names). Docstrings do not
count. Names are not resolved to modules, so a name shared by two
definitions reaches both: the scan can miss dead code but never calls
live code dead.

A definition that no root reaches fails the test, whether tests use it
or nothing does, unless ``ALLOWLIST`` keeps it with a reason. A kept
definition's body counts as reached.
"""

from __future__ import annotations

import ast
import os
import re

from tests.conftest import REPO

ALLOWLIST = {
    # References and instruments: tests check live code against them.
    "layout.hilbert_ref": "plain-Python Hilbert index; the bijectivity "
    "and adjacency tests pin the Spark key expression to it",
    "layout.pruning_report": "reads parquet footer stats to measure how "
    "many files a range predicate skips; the layout tests' instrument",
    "xxh64.hash_int": "plain-Python Spark hashInt; the oracle, sampling, "
    "bloom and rendezvous tests recompute Spark's xxhash64 with it",
    "xxh64.to_signed": "maps the plain-Python XXH64 to the signed long "
    "F.xxhash64 returns, for the same comparisons",
    "xxh64.to_unsigned": "the inverse of to_signed",
    "sketch.hll_estimate": "the float estimate over hll_registers; the "
    "driver query stays integer-only and the tests check the estimate",
    "dedup.dropped_bucket_metrics": "reads the bucket-drop Observation "
    "that bucket_pairs records; the tests' window onto that counter",
    # Lanes that no job runs yet: each is to be wired into a job or
    # deleted with its tests in a later change.
    "iceberg.SnapshotTable": "snapshot-table lane, tested in test_iceberg",
    "layout.cluster_by_zorder": "z-order write layout, tested in test_layout",
    "similarity.ivf_topk": "k-means IVF top-k; q_ann_ivf runs the "
    "deterministic-anchor variant",
    "textstats.mojibake_repair": "cp1252 double-encoding repair, tested "
    "in test_mojibake",
}

ROOT_DIRS = ("jobs", "scripts", "perfbench")
ROOT_FILES = ("bench.py", "__spark_entry__.py")
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse(path):
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), path)


def _py_files(d):
    return sorted(
        os.path.join(d, f) for f in os.listdir(d) if f.endswith(".py")
    )


def _top_defs(body):
    """Module-level definitions, including those under a top-level
    ``if`` or ``try``."""
    for st in body:
        if isinstance(st, _DEFS):
            yield st
        elif isinstance(st, ast.If):
            yield from _top_defs(st.body)
            yield from _top_defs(st.orelse)
        elif isinstance(st, ast.Try):
            for part in (st.body, *(h.body for h in st.handlers), st.orelse, st.finalbody):
                yield from _top_defs(part)


def _names(node, skip=()):
    """Every name ``node`` mentions, not descending into ``skip``."""
    docs = {
        id(n.value)
        for n in ast.walk(node)
        if isinstance(n, ast.Expr) and isinstance(n.value, ast.Constant)
    }
    skip = {id(n) for n in skip}
    out, todo = set(), [node]
    while todo:
        n = todo.pop()
        if id(n) in docs:
            continue
        if id(n) in skip:
            # evaluated at import: decorators, bases, default values
            todo.extend(n.decorator_list)
            if isinstance(n, ast.ClassDef):
                todo.extend(n.bases + [k.value for k in n.keywords])
            else:
                todo.extend(n.args.defaults + [d for d in n.args.kw_defaults if d])
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.update(_IDENT.findall(n.value))
        todo.extend(ast.iter_child_nodes(n))
    return out


def _scan(keep):
    """→ (unreached webx definitions as 'module.name', names tests use,
    every definition). ``keep`` are definitions whose bodies count as
    reached."""
    defs = {}  # name -> [(key, node)]
    roots = set()
    for path in _py_files(os.path.join(REPO, "webx")):
        tree = _parse(path)
        mod = os.path.basename(path)[:-3]
        top = list(_top_defs(tree.body))
        for d in top:
            defs.setdefault(d.name, []).append((f"{mod}.{d.name}", d))
        roots |= _names(tree, skip=top)
    paths = [p for d in ROOT_DIRS for p in _py_files(os.path.join(REPO, d))]
    for path in paths + [os.path.join(REPO, f) for f in ROOT_FILES]:
        roots |= _names(_parse(path))
    for name, entries in defs.items():
        roots |= {name for key, _ in entries if key in keep}

    reached, seen, todo = set(), set(), list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for key, node in defs.get(name, ()):
            if key not in reached:
                reached.add(key)
                todo.extend(_names(node) - seen)
    unreached = sorted(
        key for entries in defs.values() for key, _ in entries if key not in reached
    )
    tested = set()
    for path in _py_files(os.path.join(REPO, "tests")):
        tested |= _names(_parse(path))
    return unreached, tested, {key for e in defs.values() for key, _ in e}


def test_every_webx_definition_is_reached_from_a_root():
    unreached, tested, _ = _scan(ALLOWLIST)
    bad = [
        f"{key} ({'tests only' if key.split('.')[1] in tested else 'unused'})"
        for key in unreached
        if key not in ALLOWLIST
    ]
    assert not bad, (
        "webx definitions that no job, script, benchmark or driver query "
        "reaches; delete them, or keep one in ALLOWLIST with its reason: "
        + ", ".join(bad)
    )


def test_allowlist_names_only_live_unrooted_definitions():
    """An entry whose definition is gone, or that a root now reaches on
    its own, is stale: drop it so the list stays the whole exception."""
    unreached, _, keys = _scan(())
    assert sorted(set(ALLOWLIST) - keys) == [], "allowlisted but not defined"
    assert sorted(set(ALLOWLIST) - set(unreached)) == [], "allowlisted but reached"
    assert all(reason.strip() for reason in ALLOWLIST.values())
