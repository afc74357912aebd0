"""Regrowth guards over the package's surface, checked against its
non-test callers: the package, ``bench.py``, ``__spark_entry__.py``,
``tools/`` and ``perfbench/``. Pure ``ast``, no Spark session.

Definitions: every top-level definition of the package must be
reached by something other than the tests. A definition counts as
reached when a caller file refers to its name in code outside its own
body: as a name, an attribute, an import, or the string literal of a
``getattr``/``hasattr``. Docstrings, comments and other strings do not
count. ``@query``-decorated specs count as registered. Names are
matched without their module, so two definitions of one name share
their references: the check catches dead code, it does not prove
liveness.

Parameters: every defaulted parameter of every package function must
be passed, by keyword or by position, by some call in a caller file,
or sit on ``KEEP_PARAMS`` with its reason. Calls are
matched to functions by name, so two functions of one name share
their callers. ``f(*args)`` passes every positional parameter,
``f(**helper(...))`` passes the keys of the dict literal that
``helper`` returns (any other ``**`` passes every keyword), and
``pool.submit(f, ...)`` counts as a call of ``f``.
"""

from __future__ import annotations

import ast
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
    # the report that keeps a lossy cap loud (ADVICE r6)
    "operators.basket.basket_truncation_accounting",
    "operators.dedup.hot_shingle_accounting",
    # the rotation's staleness bound, which test_workload_oracle enforces
    "rotation.STALENESS_BOUND_ROUNDS",
}

# defaulted parameters that no caller passes, each kept on purpose
KEEP_PARAMS = {
    # deployment settings
    "session.get_spark.master": "deployment: the cluster master URL",
    # public parity surface
    "sources.sinks.write_query_result.fmt": "parity: SURVEY S9 query-result format",
    "sources.sinks.write_query_result.single_file": "parity: SURVEY S9 one-file result",
    # test seams: force the other branch of an automatic path choice
    "operators.cluster.lloyd_kmeans.assign_strategy":
        "test seam: literal vs broadcast centroid assign",
    "operators.curation.connected_components.max_iterations":
        "test seam: the non-convergence error",
    "operators.dedup.minhash_lsh_pairs.hot_band_limit":
        "test seam: the hot-band star vs all-pairs",
    "operators.dedup.hot_shingle_accounting.hot_shingle_limit":
        "test seam: accounting for the hot-shingle star vs all-pairs",
    "operators.dedup.ngram_jaccard_pairs.hot_shingle_limit":
        "test seam: the hot-shingle star vs all-pairs",
    "operators.frequency.heavy_hitters.broadcast_limit":
        "test seam: broadcast vs shuffled candidate join",
    "operators.graph.weighted_sssp.early_exit":
        "test seam: the fixed-point early exit vs every round",
    "operators.multimodal.encode_jpeg_blocks.restart_interval":
        "test seam: the decoder's restart-marker branch",
    "sources.skipping.read_with_skipping.batch_files":
        "test seam: one read vs the batched union of reads",
    # reference paths that tests compare against
    "operators.bpe.learn_bpe.exact": "reference: exact vs fast batched merges",
    "operators.quality.table_profile.exact_ndv": "reference: exact vs sketched NDV",
    "streaming.cusum_batch.key_cols": "reference: composite-key twin of the closed form",
}


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
    """(name, node) of each top-level definition."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_query(node):
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    yield t.id, node


def _package_definitions():
    """(qualified name, name, node) of each top-level definition."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for name, node in _definitions(ast.parse(path.read_text())):
            if name.startswith("__") and name.endswith("__"):
                continue
            yield f"{_module(path)}.{name}", name, node


def _references(tree: ast.AST) -> Counter:
    """Names that ``tree``'s code refers to, once per reference."""
    refs = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            refs[node.id] += 1
        elif isinstance(node, ast.Attribute):
            refs[node.attr] += 1
        elif isinstance(node, ast.alias):
            refs[node.name.rpartition(".")[2]] += 1
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id in ("getattr", "hasattr") and len(node.args) > 1
              and isinstance(node.args[1], ast.Constant)
              and isinstance(node.args[1].value, str)):
            refs[node.args[1].value] += 1
    return refs


def test_every_package_definition_has_a_non_test_caller():
    refs = Counter()
    for path in _caller_files():
        refs.update(_references(ast.parse(path.read_text())))
    unreached = []
    for qual, name, node in _package_definitions():
        if qual in KEEP:
            continue
        if refs[name] <= _references(node)[name]:
            unreached.append(qual)
    assert unreached == [], (
        "reached only from tests (delete them with their tests, or add "
        f"them to KEEP with the reason): {unreached}"
    )


def test_keep_list_names_existing_definitions():
    defined = {qual for qual, *_ in _package_definitions()}
    assert sorted(KEEP - defined) == []


def _functions():
    """(qualified name, name, positional names, defaulted names) of
    every function of the package, methods without ``self``/``cls``."""
    def walk(node, prefix, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = child.args
                pos = [x.arg for x in a.posonlyargs + a.args]
                if in_class and pos[:1] in (["self"], ["cls"]):
                    pos = pos[1:]
                defaulted = pos[len(pos) - len(a.defaults):] if a.defaults else []
                defaulted += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults)
                              if d is not None]
                qual = f"{prefix}.{child.name}"
                yield qual, child.name, pos, defaulted
                yield from walk(child, qual, False)
            elif isinstance(child, ast.ClassDef):
                yield from walk(child, f"{prefix}.{child.name}", True)
            else:
                yield from walk(child, prefix, in_class)

    for path in sorted(PACKAGE.rglob("*.py")):
        yield from walk(ast.parse(path.read_text()), _module(path), False)


def _dict_keys(trees) -> dict[str, set[str]]:
    """Keys of the dict literal each function returns, by name."""
    keys: dict[str, set[str]] = {}
    for tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef):
                for r in ast.walk(node):
                    if isinstance(r, ast.Return) and isinstance(r.value, ast.Dict):
                        keys.setdefault(node.name, set()).update(
                            k.value for k in r.value.keys
                            if isinstance(k, ast.Constant))
    return keys


def _callee(call: ast.Call) -> tuple[str | None, list[ast.expr]]:
    """The name ``call`` calls, and the positionals it passes to it."""
    func, args = call.func, call.args
    if (isinstance(func, ast.Attribute) and func.attr == "submit"
            and args and isinstance(args[0], (ast.Name, ast.Attribute))):
        func, args = args[0], args[1:]
    return getattr(func, "id", None) or getattr(func, "attr", None), args


def _passed() -> dict[str, tuple[set[str], int]]:
    """Per called name: (keywords passed, most positionals passed)."""
    trees = [ast.parse(path.read_text()) for path in _caller_files()]
    returned = _dict_keys(trees)
    passed: dict[str, tuple[set[str], int]] = {}
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            name, args = _callee(call)
            if name is None:
                continue
            kws, npos = passed.get(name, (set(), 0))
            npos = max(npos, 10**6 if any(isinstance(a, ast.Starred) for a in args)
                       else len(args))
            for k in call.keywords:
                if k.arg is not None:
                    kws.add(k.arg)
                elif (isinstance(k.value, ast.Call) and isinstance(k.value.func, ast.Name)
                      and k.value.func.id in returned):
                    kws |= returned[k.value.func.id]
                else:
                    kws.add("**")
            passed[name] = (kws, npos)
    return passed


def _unpassed_params() -> list[str]:
    passed = _passed()
    out = []
    for qual, name, pos, defaulted in _functions():
        kws, npos = passed.get(name, (set(), 0))
        for p in defaulted:
            if not (p in kws or "**" in kws or (p in pos and pos.index(p) < npos)):
                out.append(f"{qual}.{p}")
    return out


def test_every_defaulted_parameter_is_passed_by_a_non_test_caller():
    unpassed = set(_unpassed_params())
    assert sorted(unpassed - set(KEEP_PARAMS)) == [], (
        "defaulted parameters no caller passes (delete each, inline its "
        "default and port its tests, or add it to KEEP_PARAMS with the reason)"
    )
    # the list only shrinks: an entry that is passed again, or gone, leaves
    assert sorted(set(KEEP_PARAMS) - unpassed) == []


def _query_calls():
    """(file, ``@query(...)`` call) of every registered spec."""
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            for d in getattr(node, "decorator_list", []):
                if (isinstance(d, ast.Call) and isinstance(d.func, ast.Name)
                        and d.func.id == "query"):
                    yield path.name, d


def test_every_spec_declares_its_oracle_and_nothing_else_sets_it():
    """A spec is declared once, by its ``@query``: the oracle is an
    argument there, not ``None`` patched later, and the driver export
    is computed by the rotation, not flagged per spec."""
    no_oracle, flagged = [], []
    for fname, call in _query_calls():
        spec = f"{fname}:{call.args[0].value}"
        kw = {k.arg: k.value for k in call.keywords}
        oracle = call.args[1] if len(call.args) > 1 else kw.get("oracle")
        if oracle is None or (isinstance(oracle, ast.Constant) and oracle.value is None):
            no_oracle.append(spec)
        if "driver" in kw:
            flagged.append(spec)
    assert no_oracle == [], f"specs without an oracle: {no_oracle}"
    assert flagged == [], f"specs passing driver=: {flagged}"


def test_no_statement_mutates_a_registered_spec():
    def registry_item(node: ast.AST) -> bool:
        """``REGISTRY[...].x`` or ``module.REGISTRY[...].x``."""
        if not (isinstance(node, ast.Attribute) and isinstance(node.value, ast.Subscript)):
            return False
        base = node.value.value
        return "REGISTRY" in (getattr(base, "id", None), getattr(base, "attr", None))

    mutated = []
    for path in _caller_files():
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, (ast.AugAssign, ast.AnnAssign)):
                targets = [node.target]
            else:
                continue
            for t in targets:
                for n in ast.walk(t):
                    if registry_item(n):
                        mutated.append(f"{path.relative_to(ROOT)}:{node.lineno}")
    assert mutated == [], f"assignments to REGISTRY[...] attributes: {mutated}"
