"""Call shapes of the operators and layout writers in code the suite never
runs.

``bench.py``, ``scripts/*.py`` and ``nilmbench/*.py`` call the NILM core
(selectors, resample, aggregates), similarity, text/BM25, persisted-RAG
and canonical-store functions, but no test executes them: a keyword or
positional slot that a signature dropped (a stale ``id_col=``/
``centroid_method=``/``write_partitions=``/``n_lists=``/``materialize=``/
``ts=``) would surface only when someone runs the script or the benchmark.
This walks their ASTs and binds every such call's positional count and
keyword names against the live signature; options that follow a dropped
slot are keyword-only, so a stale positional call fails to bind instead
of landing in the wrong parameter.
"""

from __future__ import annotations

import ast
import inspect
from pathlib import Path

from nilm_data_framework_spark.operators import (
    aggregates,
    dedup,
    graph,
    index_maintenance,
    joins,
    lm,
    parallelism,
    resample,
    selectors,
    similarity,
    text,
    windows,
)
from nilm_data_framework_spark.queries import retrieval
from nilm_data_framework_spark.sources import canonical
from nilm_data_framework_spark.streaming import ingest, stateful

ROOT = Path(__file__).resolve().parent.parent
MODULES = {
    m.__name__: m
    for m in (
        similarity, text, dedup, lm, graph, stateful, retrieval, canonical,
        index_maintenance, selectors, resample, aggregates, joins, windows,
        parallelism, ingest,
    )
}
# modules no unexecuted file calls today; listed so that a future caller
# is bound too
NO_CALLER = {
    m.__name__
    for m in (
        stateful, joins, parallelism, ingest, dedup, graph, index_maintenance,
        lm, windows,
    )
}


def _public(mod) -> dict:
    return {
        n: f
        for n, f in vars(mod).items()
        if inspect.isfunction(f) and f.__module__ == mod.__name__ and not n.startswith("_")
    }


def _targets(tree: ast.AST) -> tuple[dict, dict]:
    """(module alias → module, bare name → function) from every import in
    the file, function-local ones included."""
    aliases, names = {}, {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name in MODULES and a.asname:
                    aliases[a.asname] = MODULES[a.name]
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                full = f"{node.module}.{a.name}"
                if full in MODULES:
                    aliases[a.asname or a.name] = MODULES[full]
                elif node.module in MODULES:
                    fn = _public(MODULES[node.module]).get(a.name)
                    if fn is not None:
                        names[a.asname or a.name] = fn
    return aliases, names


def _calls(path: Path):
    tree = ast.parse(path.read_text(), filename=str(path))
    aliases, names = _targets(tree)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        if isinstance(f, ast.Attribute) and isinstance(f.value, ast.Name):
            fn = _public(aliases[f.value.id]).get(f.attr) if f.value.id in aliases else None
        elif isinstance(f, ast.Name):
            fn = names.get(f.id)
        else:
            fn = None
        if fn is not None:
            yield node, fn


def test_unexecuted_callers_match_operator_signatures():
    files = [ROOT / "bench.py", *sorted(ROOT.glob("scripts/*.py")), *sorted(ROOT.glob("nilmbench/*.py"))]
    bad, seen = [], set()
    for path in files:
        for node, fn in _calls(path):
            seen.add(fn.__module__)
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            kwargs = {k.arg: None for k in node.keywords if k.arg is not None}
            splat = len(kwargs) < len(node.keywords)
            args = [None] * sum(not isinstance(a, ast.Starred) for a in node.args)
            bind = inspect.signature(fn).bind_partial if starred or splat else inspect.signature(fn).bind
            try:
                bind(*args, **kwargs)
            except TypeError as e:
                bad.append(f"{path.relative_to(ROOT)}:{node.lineno} {fn.__name__}: {e}")
    assert not bad, "\n".join(bad)
    # the walk must reach every module (it cannot pass by matching nothing)
    assert seen == set(MODULES) - NO_CALLER, sorted(seen)
