"""Regrowth guards, Spark-free.

Every public top-level def in engine/ has a caller that is not a test —
another engine module, a job, a tool, the benchmark harness, the driver
contract (__spark_entry__.py) or bench.py. A def only tests call is a
second implementation nobody runs.

Only engine/lineage.py locates the lineage files, so every lineage lookup
is its one driver-side scan, never a second reader of the table."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# References the tests compare production code against; nothing in the
# product calls them by design. engine/oracle.py is exempt as a whole.
TEST_REFERENCES = {
    "reference_bocpd",
    "reference_dtw_l1",
    "dod_compress",
    "gorilla_compress",
    "token_eq_check",
    "start_rollup_stream",
}


def _caller_files() -> list[Path]:
    files = [ROOT / "__spark_entry__.py", ROOT / "bench.py"]
    for d in ("engine", "jobs", "tools", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return [f for f in files if f.is_file()]


def _references(tree: ast.Module) -> list[tuple[str, ast.AST | None]]:
    """(name, enclosing top-level def or None) for every name a module
    loads, reads as an attribute or imports."""
    out = []
    for top in tree.body:
        owner = top if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)) else None
        for n in ast.walk(top):
            if isinstance(n, ast.Name):
                out.append((n.id, owner))
            elif isinstance(n, ast.Attribute):
                out.append((n.attr, owner))
            elif isinstance(n, ast.ImportFrom):
                out.extend((a.name, owner) for a in n.names)
    return out


def test_every_public_engine_def_has_a_non_test_caller():
    defs = {}
    for f in sorted((ROOT / "engine").glob("*.py")):
        if f.name == "oracle.py":
            continue
        for n in ast.parse(f.read_text()).body:
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)) and not n.name.startswith("_"):
                defs[n.name] = (f, n)
    assert defs

    called = set()
    for f in _caller_files():
        for name, owner in _references(ast.parse(f.read_text())):
            # a def's references to itself (recursion) do not count
            if name in defs and owner is not defs[name][1]:
                called.add(name)

    orphans = sorted(
        f"{defs[n][0].relative_to(ROOT)}::{n}"
        for n in defs.keys() - called - TEST_REFERENCES
    )
    assert not orphans, f"engine defs no job, query or tool calls: {orphans}"


def _locates_lineage(text: str) -> bool:
    """A path literal naming the lineage dir, or the lineage file glob
    (prose, which has whitespace, is not a path)."""
    if re.search(r"\s", text):
        return False
    return "commit-*" in text or "lineage" in re.split(r"[/\\]", text)


def test_only_the_lineage_module_locates_lineage_files():
    """Under engine/, jobs/ and tools/, only engine/lineage.py names
    LINEAGE_DIR, a ``lineage`` path segment or the ``commit-*.parquet``
    glob: a second lineage reader (say, a Spark read of <wh>/lineage)
    fails here."""
    hits = []
    for d in ("engine", "jobs", "tools"):
        for f in sorted((ROOT / d).rglob("*.py")):
            if f == ROOT / "engine" / "lineage.py":
                continue
            for n in ast.walk(ast.parse(f.read_text())):
                named = (
                    (isinstance(n, ast.Name) and n.id == "LINEAGE_DIR")
                    or (isinstance(n, ast.Attribute) and n.attr == "LINEAGE_DIR")
                    or (isinstance(n, ast.alias) and n.name == "LINEAGE_DIR")
                    or (isinstance(n, ast.Constant) and isinstance(n.value, str)
                        and _locates_lineage(n.value))
                )
                if named:
                    hits.append(f"{f.relative_to(ROOT)}:{n.lineno}")
    assert not hits, f"lineage files located outside engine/lineage.py: {hits}"
