"""Package-level sanity: everything importable, __all__ resolvable."""


def test_operator_modules_import():
    import importlib

    mods = [
        "operators.suffstats", "operators.ttest", "operators.deltamethod",
        "operators.srm", "operators.xexpt", "operators.mann_whitney",
        "operators.kstest", "operators.ols", "operators.logistic",
        "operators.dml", "operators.matrix", "operators.resample",
        "operators.matching", "operators.groupset", "operators.estimators",
        "operators.survival", "operators.longterm", "operators.quantile_test",
        "uplift.metalearners", "uplift.evaluation", "uplift.causal_tree",
        "uplift.causal_forest", "datapipe.text", "datapipe.dedup",
        "datapipe.similarity", "datapipe.multimodal", "streaming.ops",
        "functions", "functions.features", "plans.sql_macros",
        "sources.tables", "formula", "stats_distributions", "result",
        "session", "serialization", "testing", "dataframe",
    ]
    for m in mods:
        importlib.import_module(f"fast_causal_inference_spark.{m}")


def test_all_exports_resolve():
    """Every name in __all__ exists, is not None and is callable/usable —
    guards the export wiring as the surface grows."""
    import fast_causal_inference_spark as f

    for name in f.__all__:
        obj = getattr(f, name, None)
        assert obj is not None, name
        assert callable(obj) or isinstance(obj, type), name


def test_no_test_module_redefines_a_top_level_name():
    """A second top-level def or class of the same name silently replaces
    the first, so pytest never collects the first test."""
    import ast
    import collections
    import pathlib

    dups = {}
    for path in sorted(pathlib.Path(__file__).parent.glob("*.py")):
        names = collections.Counter(
            node.name for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)))
        dups.update({f"{path.name}::{name}": k
                     for name, k in names.items() if k > 1})
    assert dups == {}


# Cache calls under operators/ and uplift/ that may bypass the scoped
# helper design.persist: (file, enclosing function, receiver, method).
_CACHE_CALL_ALLOWED = {
    # the helper itself: persists and registers the release on the scope
    ("operators/design.py", "persist", "df", "cache"),
    ("operators/design.py", "persist", "df", "persist"),
    # parent swap: the spread child is materialized, so the parent copy
    # is released early instead of living until the solver returns
    ("operators/design.py", "repartition_big_design", "df", "unpersist"),
    # the enriched forest cache holds every column the level jobs read,
    # so the base copy is released before the tree-growing loop
    ("uplift/causal_forest.py", "fit", "base", "unpersist"),
}


def _cache_calls(node, fn="<module>"):
    """Yield (enclosing function, receiver, method) for every
    ``.cache()`` / ``.persist(`` / ``.unpersist(`` call under ``node``."""
    import ast

    for child in ast.iter_child_nodes(node):
        if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from _cache_calls(child, child.name)
            continue
        if isinstance(child, ast.Call) \
                and isinstance(child.func, ast.Attribute) \
                and child.func.attr in ("cache", "persist", "unpersist"):
            yield fn, ast.unparse(child.func.value), child.func.attr
        yield from _cache_calls(child, fn)


def test_operator_caches_go_through_the_scope():
    """Every operator-internal persist goes through design.persist, so
    its release is registered on the caller's ExitStack scope; a bare
    .cache()/.persist()/.unpersist() would reintroduce a hand-managed
    lifetime that leaks on raising paths."""
    import ast
    import pathlib

    import fast_causal_inference_spark as fcis

    root = pathlib.Path(fcis.__file__).parent
    found = set()
    for sub in ("operators", "uplift"):
        for path in sorted((root / sub).glob("*.py")):
            rel = path.relative_to(root).as_posix()
            found |= {(rel, *call) for call in
                      _cache_calls(ast.parse(path.read_text()))}
    assert found - _CACHE_CALL_ALLOWED == set()
