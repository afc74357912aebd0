"""Regrowth guard: every top-level definition of the package must be
reached by something other than the tests.

A definition counts as reached when its name appears outside its own
body in the package, ``bench.py``, ``__spark_entry__.py``, ``tools/``
or ``perfbench/``. ``@query``-decorated specs count as registered.
Names are matched as whole words, so a mention in a comment or a
string counts too: the check is a heuristic that catches dead code,
not a proof of liveness. Pure ``ast`` and text, no Spark.
"""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "nbi_oedi_etl_v2_spark"

# reached only from tests, each kept on purpose
KEEP = {
    # SURVEY §2.1 S9: the query-result sink of the reference
    "sources.sinks.write_query_result",
    # the DuckDB oracle harness the tests drive every spec through
    "testing.check_query",
    "testing.duckdb_connection",
    # batch twins that the streaming / sketch tests compare against
    "streaming.cusum_batch",
    "operators.frequency.misra_gries",
    "operators.frequency.mg_counter_budget",
    # fixture source of the JPEG decode tests
    "operators.multimodal.synth_jpeg_payload",
}

_WORD = re.compile(r"\w+")


def _module(path: Path) -> str:
    parts = path.relative_to(PACKAGE).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


def _caller_files() -> list[Path]:
    files = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    for d in (PACKAGE, ROOT / "tools", ROOT / "perfbench"):
        files += sorted(d.rglob("*.py"))
    return files


def _is_query(node: ast.AST) -> bool:
    for d in getattr(node, "decorator_list", []):
        f = d.func if isinstance(d, ast.Call) else d
        if isinstance(f, ast.Name) and f.id == "query":
            return True
    return False


def _definitions(tree: ast.Module):
    """(name, first line, last line) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if _is_query(node):
                continue
            first = min([node.lineno] + [d.lineno for d in node.decorator_list])
            yield node.name, first, node.end_lineno
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, node.lineno, node.end_lineno


def _package_definitions():
    """(qualified name, name, first line, last line, module lines)."""
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        lines = text.splitlines()
        for name, first, last in _definitions(ast.parse(text)):
            if name.startswith("__") and name.endswith("__"):
                continue
            yield f"{_module(path)}.{name}", name, first, last, lines


def test_every_package_definition_has_a_non_test_caller():
    words = Counter()
    for path in _caller_files():
        words.update(_WORD.findall(path.read_text()))
    unreached = []
    for qual, name, first, last, lines in _package_definitions():
        if qual in KEEP:
            continue
        own = Counter(_WORD.findall("\n".join(lines[first - 1 : last])))
        if words[name] <= own[name]:
            unreached.append(qual)
    assert unreached == [], (
        "reached only from tests (delete them with their tests, or add "
        f"them to KEEP with the reason): {unreached}"
    )


def test_keep_list_names_existing_definitions():
    defined = {qual for qual, *_ in _package_definitions()}
    assert sorted(KEEP - defined) == []
