"""Regrowth guards over the package's surface, checked against its
non-test callers: the package, ``bench.py``, ``__spark_entry__.py``,
``tools/`` and ``perfbench/``. Pure ``ast`` and text, no Spark.

Definitions: every top-level definition of the package must be
reached by something other than the tests. A definition counts as
reached when its name appears outside its own body in a caller file.
``@query``-decorated specs count as registered. Names are matched as
whole words, so a mention in a comment or a string counts too: the
check is a heuristic that catches dead code, not a proof of liveness.

Parameters: every defaulted parameter of every package function must
be passed, by keyword or by position, by some call in a caller file,
or sit on ``KEEP_PARAMS`` (with its reason) or ``PENDING``. Calls are
matched to functions by name, so two functions of one name share
their callers. ``f(*args)`` passes every positional parameter,
``f(**helper(...))`` passes the keys of the dict literal that
``helper`` returns (any other ``**`` passes every keyword), and
``pool.submit(f, ...)`` counts as a call of ``f``.
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
    "operators.dedup.minhash_lsh_pairs.hot_band_limit":
        "test seam: the hot-band star vs all-pairs",
    "operators.dedup.hot_shingle_accounting.hot_shingle_limit":
        "test seam: accounting for the hot-shingle star vs all-pairs",
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

# defaulted parameters that no caller passes, in functions that a spec
# of the current driver export reaches: deleting them changes that
# spec's code, so they go in a round that gives the spec a TOUCH row
PENDING = {
    # orders_dp_noised_counts
    "operators.analytics.dp_noised_counts.salt",
    "operators.analytics.dp_noised_counts_oracle_sql.salt",
    # orders_psi_price_drift
    "operators.analytics.psi_drift.eps",
    # corpus_incremental_dedup, corpus_near_dedup, dedup_components
    "operators.curation.connected_components.max_iterations",
    # corpus_incremental_dedup
    "operators.curation.incremental_near_dedup.max_doc_freq",
    # corpus_incremental_dedup, corpus_near_dedup
    "operators.curation.resolve_near_duplicates.dst",
    "operators.curation.resolve_near_duplicates.src",
    # corpus_incremental_dedup, corpus_near_dedup, dedup_components, dedup_ngram_jaccard
    "operators.dedup.ngram_jaccard_pairs.hot_shingle_limit",
    # etl_write_pipeline
    "operators.downsample.downsample.decimal_places",
    "operators.downsample.downsample.granularity",
    # part_copurchase_kcore, part_copurchase_labelprop
    "operators.graph.copurchase_edges.item_col",
    "operators.graph.copurchase_edges.order_col",
    # part_copurchase_kcore
    "operators.graph.kcore.plan_probe",
    "operators.graph.kcore.round_counter",
    # part_copurchase_labelprop
    "operators.graph.label_propagation.early_exit",
    "operators.graph.label_propagation.round_counter",
    # text_hybrid_rrf_topk
    "operators.index.bm25_topk.b",
    "operators.index.bm25_topk.k1",
    # corpus_budget_select
    "operators.packing.budget_select.num_partitions",
    # corpus_pack_chunks
    "operators.packing.pack_chunks.bucket_key",
    "operators.packing.pack_chunks.num_partitions",
    "operators.packing.pack_chunks.order_cols",
    # corpus_pack_next_fit
    "operators.packing.pack_next_fit.bin_col",
    "operators.packing.pack_next_fit.order_cols",
    # similarity_topk_ivf
    "operators.similarity.ivf_assign.norm_alias",
    "operators.similarity.ivf_cosine_topk.iterations",
    "operators.similarity.ivf_cosine_topk.nlist",
    "operators.similarity.ivf_cosine_topk.nprobe",
    # orders_lineitem_join_size_agms
    "operators.stats.agms_join_size.sigmas",
    # streaming_attribution_join
    "streaming.attribution_join_stream.lookback",
    "streaming.attribution_join_stream.timestamp_col",
    "streaming.attribution_join_stream.user_col",
    "streaming.attribution_join_stream.watermark",
    # streaming_dedup_events
    "streaming.dedup_stream.timestamp_col",
    "streaming.dedup_stream.watermark",
    # streaming_ewma_alerts
    "streaming.ewma_stream.alpha",
    "streaming.ewma_stream.k",
    "streaming.ewma_stream.timestamp_col",
    "streaming.ewma_stream.watermark",
    # streaming_attribution_join, streaming_dedup_events, streaming_ewma_alerts, streaming_sessionize
    "streaming.run_to_memory.name",
    # streaming_sessionize
    "streaming.sessionize_stream.entity_col",
    "streaming.sessionize_stream.gap",
    "streaming.sessionize_stream.timestamp_col",
    "streaming.sessionize_stream.watermark",
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


def _passed() -> dict[str, tuple[set[str], int]]:
    """Per called name: (keywords passed, most positionals passed)."""
    trees = [ast.parse(path.read_text()) for path in _caller_files()]
    returned = _dict_keys(trees)
    passed: dict[str, tuple[set[str], int]] = {}
    for tree in trees:
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            func, args = call.func, call.args
            if (isinstance(func, ast.Attribute) and func.attr == "submit"
                    and args and isinstance(args[0], (ast.Name, ast.Attribute))):
                func, args = args[0], args[1:]
            name = getattr(func, "id", None) or getattr(func, "attr", None)
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
    assert sorted(unpassed - set(KEEP_PARAMS) - PENDING) == [], (
        "defaulted parameters no caller passes (delete each, inline its "
        "default and port its tests, or add it to KEEP_PARAMS with the reason)"
    )
    # the lists only shrink: an entry that is passed again, or gone, leaves
    assert sorted((set(KEEP_PARAMS) | PENDING) - unpassed) == []
    assert sorted(set(KEEP_PARAMS) & PENDING) == []
