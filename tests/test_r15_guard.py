"""Guard: digest-group members run CONCURRENTLY in one shared
SparkSession (queries/op_digests._member_pool), so any member that sets
a session conf to a non-idempotent value or registers an unscoped temp
view would race its siblings silently (VERDICT r14 item 7). This test
pins the invariant cheaply: it walks every package module transitively
imported by queries.op_digests (the member universe) and asserts the
session-mutating call sites are EXACTLY the audited set below — all
idempotent constant sets, or helpers no member builder calls. Any new
site fails here until it is audited and added. A conf.set whose key is
not a string literal is recorded as an unaudited site of its own, since
no key can be audited for it by name."""

from __future__ import annotations

import ast
import os
import re

PKG_ROOT = os.path.join(
    os.path.dirname(__file__), "..", "dbt_jaffleshop_spark"
)
PKG = "dbt_jaffleshop_spark"

# The audited session-mutation sites reachable from digest members:
#  * registry/daily conf.set — idempotent constant sets (nanosAsLong =
#    "true", session timeZone = "UTC"), safe under any interleaving
#    (r14 audit, carried forward);
#  * registry.register_testdata's createOrReplaceTempView — a
#    SQL-surface helper no digest member builder calls (members build
#    DataFrames, never spark.sql over source views);
#  * plans/dag.py's temp views — run_pipeline/_run_model register each
#    materialized model; no digest member calls run_pipeline (the
#    incremental_orders_state member goes through
#    materialize_table_snapshot, which registers nothing).
AUDITED = {
    ("sources/registry.py", "conf.set", "spark.sql.session.timeZone"),
    ("sources/registry.py", "conf.set", "spark.sql.legacy.parquet.nanosAsLong"),
    ("streaming/daily.py", "conf.set", "spark.sql.legacy.parquet.nanosAsLong"),
    ("sources/registry.py", "temp_view", "register_testdata"),
    ("plans/dag.py", "temp_view", "run_pipeline"),
    ("plans/dag.py", "temp_view", "_run_model"),
}


def _module_file(mod: str) -> str | None:
    rel = mod.removeprefix(PKG + ".").replace(".", os.sep)
    for cand in (
        os.path.join(PKG_ROOT, rel + ".py"),
        os.path.join(PKG_ROOT, rel, "__init__.py"),
    ):
        if os.path.exists(cand):
            return cand
    return None


def _package_imports(path: str, mod: str) -> set[str]:
    """Package-internal modules imported by `path` (absolute names)."""
    tree = ast.parse(open(path).read())
    out: set[str] = set()
    pkg_parts = mod.split(".")
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith(PKG):
                    out.add(a.name)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = pkg_parts[: len(pkg_parts) - node.level]
                prefix = ".".join(base + ([node.module] if node.module else []))
            else:
                prefix = node.module or ""
            if not prefix.startswith(PKG):
                continue
            for a in node.names:
                out.add(f"{prefix}.{a.name}")
                out.add(prefix)
    return out


def _reachable_modules(start: str) -> dict[str, str]:
    """{module: file} transitively reachable from `start` inside the
    package (imports parsed statically, so lazy in-function imports are
    covered too)."""
    seen: dict[str, str] = {}
    stack = [start]
    while stack:
        mod = stack.pop()
        if mod in seen:
            continue
        path = _module_file(mod)
        if path is None:
            continue
        seen[mod] = path
        stack.extend(_package_imports(path, mod))
    return seen


_CONF_SET = re.compile(r"\.conf\.set\(\s*[\"']([^\"']+)[\"']")
# a variable key cannot be audited by name: the site itself is recorded
_CONF_SET_VAR = re.compile(r"\.conf\.set\(\s*([^\"'\s][^,)]*)")
_TEMP_VIEW = re.compile(r"create(?:OrReplace)?(?:Global)?TempView\(")


def test_digest_member_universe_has_no_unaudited_session_mutation():
    mods = _reachable_modules(f"{PKG}.queries.op_digests")
    assert len(mods) > 10, "import walk degenerated — fix the test"
    found: set[tuple[str, str, str]] = set()
    for mod, path in sorted(mods.items()):
        rel = os.path.relpath(path, PKG_ROOT).replace(os.sep, "/")
        src = open(path).read()
        for m in _CONF_SET.finditer(src):
            found.add((rel, "conf.set", m.group(1)))
        for m in _CONF_SET_VAR.finditer(src):
            found.add((rel, "conf.set", f"<non-literal key: {m.group(1).strip()}>"))
        if _TEMP_VIEW.search(src):
            # attribute to the enclosing function for the audit key
            tree = ast.parse(src)
            for node in ast.walk(tree):
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef)
                ) and _TEMP_VIEW.search(ast.get_source_segment(src, node) or ""):
                    found.add((rel, "temp_view", node.name))
    unaudited = found - AUDITED
    assert not unaudited, (
        "unaudited session-mutating call site(s) reachable from digest "
        f"members: {sorted(unaudited)} — audit for thread-safety under "
        "the member pool, then add to AUDITED with a justification"
    )
    stale = AUDITED - found
    assert not stale, f"AUDITED entries no longer present: {sorted(stale)}"
