"""Regrowth guard: every public top-level def in engine/ has a caller that
is not a test — another engine module, a job, a tool, the benchmark
harness, the driver contract (__spark_entry__.py) or bench.py. A def only
tests call is a second implementation nobody runs. Spark-free."""

from __future__ import annotations

import ast
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
