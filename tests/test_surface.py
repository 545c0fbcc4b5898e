"""The package's public surface is what a query, request or benchmark
reaches. An AST walk (so a docstring mention is not a caller) checks:

- every public top-level function or class of the package is referenced
  by a non-test module: the package itself, ``tools/``, ``bench.py``,
  ``__spark_entry__.py`` or ``perfbench/``;
- every defaulted parameter of a public top-level function, or of a
  public method (``__init__`` included) of a public class, is passed, by
  keyword or by position, by some call in those modules or the tests. A
  class is called by its name, or as ``cls(...)`` in one of its
  classmethods;
- every parameter of those that defaults to ``None`` is left unset by
  some call in the non-test modules: a ``None`` default that selects a
  branch (build an index here, collect the query batch here) only tests
  reach is a second implementation, so the caller's value becomes
  required. A call that forwards ``*args`` or ``**kwargs`` counts as
  leaving it unset;
- every defaulted parameter of those takes at least two values in the
  non-test calls: an option the traffic sets to one value is a constant
  (a tuning value, threshold or fixed column name) or a required
  argument (a request input). A literal counts by its source text and a
  call that leaves the parameter unset as its default; a name, any other
  expression or a forwarded ``*args``/``**kwargs`` carries whatever its
  own caller passes, so it counts as a value of its own beside the rest.

No two public top-level definitions of the package share a name: the
checks above match a definition by its bare name, so a same-named twin
would hide one that only the tests call.

A table the driver builds enters Spark one way, ``lifetime.local_frame``:
``createDataFrame`` is called only there and in the sites
``CREATE_DATAFRAME`` names with their reasons, and ``api.py`` runs no
SQL text.

``KEPT`` names each exception and why it stays.
"""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "vector_database_product_recommendation_spark"

KEPT = {
    # functions no non-test module references
    "functions.embed.sentence_encoder": "the bridge to the paper's SBERT encoder; "
    "it needs sentence-transformers, which the engine does not ship",
    "sources.tables.write_bucketed": "the co-located fact-fact join layout that "
    "tests/test_plans.py pins; no registered query writes a table",
    "plans.audit": "the plan-lint helpers of tests/test_plan_lint.py and tests/test_plans.py",
    # defaulted parameters no call passes
    "functions.embed.sentence_encoder.model_name": "deployment setting: the SBERT checkpoint",
    "functions.embed.encode_documents.encoder": "deployment setting: sentence_encoder() plugs in here",
    "sources.tables.write_bucketed.mode": "deployment setting: the write mode",
    "operators.ivf.write_ivf_store.mode": "deployment setting: the write mode",
    # options the non-test calls leave at one value
    "api.ProductSearchEngine.__init__.encoder": "deployment setting: a driver-side "
    "str -> floats query encoder of the catalog's width (tests/test_engine.py "
    "plugs in a fake); sentence_encoder() is a Column function and plugs into "
    "encode_documents instead",
    # None defaults every non-test call overrides
    "api.ProductSearchEngine.from_reference_dir.embedding_dim": "perfbench/serve.py "
    "passes one; the default is the catalog's width",
    "api.ProductSearchEngine.__init__.embedding_dim": "from_reference_dir forwards its "
    "own value; the default is the catalog's width",
    "operators.pq.pq_knn.emb": "without it pq_knn is the ADC-only scan, the quantizer "
    "output that tests/test_pq.py's lossless audit measures",
    # request inputs no non-test call varies: the reference app's widgets
    "api.ProductSearchEngine.search_products.mode": "the search-mode widget (app.py:151)",
    "api.ProductSearchEngine.search_products.alpha": "the alpha slider (app.py:151)",
    "api.ProductSearchEngine.ann_review_search.k": "the k slider (app.py:131)",
    "api.ProductSearchEngine.ann_review_search.nprobe": "the nprobe slider (app.py:383-384)",
}

# the package definitions that call createDataFrame, each with its reason
CREATE_DATAFRAME = {
    "lifetime.local_frame": "the one way a driver-built table enters Spark",
    "sources.reference.load_embeddings_npy": "bulk ingest of a matrix of any size, "
    "parallelized into right-sized partitions",
    "operators.ivf._centroid_table": "every reader collects the centroids back "
    "through collect_centroids, which runs 1 job over an RDD-backed table and 3 "
    "over a LocalRelation",
}


def _files(*patterns: str) -> list[str]:
    found = {p for pat in patterns for p in glob.glob(os.path.join(REPO, pat), recursive=True)}
    return sorted(found)


def _parse(paths: list[str]) -> dict[str, ast.Module]:
    out = {}
    for p in paths:
        with open(p) as fh:
            out[p] = ast.parse(fh.read(), p)
    return out


PACKAGE = _files(f"{PKG}/**/*.py")
NON_TEST = PACKAGE + [
    p
    for p in _files("tools/*.py", "bench.py", "__spark_entry__.py", "perfbench/*.py")
    if not os.path.basename(p).startswith("test_")
]
CALLERS = NON_TEST + _files("tests/*.py", "perfbench/test_*.py")
TREES = _parse(sorted(set(CALLERS)))


def _module(path: str) -> str:
    rel = os.path.relpath(path, os.path.join(REPO, PKG))
    return rel[: -len(".py")].replace(os.sep, ".")


def _public_defs() -> list[tuple[str, ast.FunctionDef | ast.ClassDef]]:
    """(module, node) for every public top-level def and class."""
    return [
        (_module(p), node)
        for p in PACKAGE
        for node in TREES[p].body
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)) and not node.name.startswith("_")
    ]


def _names(node: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every name ``node`` reads: bare names, attributes and renamed imports."""
    out: set[str] = set()
    stack = [node]
    while stack:
        n = stack.pop()
        if n is skip:
            continue
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias) and n.asname:
            out.add(n.name)
        stack.extend(ast.iter_child_nodes(n))
    return out


def _callee(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _calls(paths: list[str]) -> dict[str, list[ast.Call]]:
    """Every call in ``paths``, by callee name."""
    out: dict[str, list[ast.Call]] = {}
    for p in paths:
        for n in ast.walk(TREES[p]):
            if isinstance(n, ast.Call) and _callee(n):
                out.setdefault(_callee(n), []).append(n)
    return out


def _passed(call: ast.Call, param: str, index: int | None) -> bool:
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True  # *args may carry anything
    if any(k.arg is None for k in call.keywords):
        return True  # so may **kwargs
    if any(k.arg == param for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, positional index or None, default) of every parameter with a
    default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, first + i, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _methods() -> list[tuple[str, ast.ClassDef, ast.FunctionDef]]:
    """(module, class, method) for every public method, ``__init__``
    included, of every public class."""
    return [
        (module, cls, fn)
        for module, cls in _public_defs()
        if isinstance(cls, ast.ClassDef)
        for fn in cls.body
        if isinstance(fn, ast.FunctionDef)
        and (fn.name == "__init__" or not fn.name.startswith("_"))
    ]


def _decorated(fn: ast.FunctionDef, name: str) -> bool:
    return any(isinstance(d, ast.Name) and d.id == name for d in fn.decorator_list)


def _class_calls(cls: ast.ClassDef, calls: dict[str, list[ast.Call]]) -> list[ast.Call]:
    """Calls of ``cls``: by its name, or as ``cls(...)`` in a classmethod."""
    own = []
    for fn in cls.body:
        if isinstance(fn, ast.FunctionDef) and _decorated(fn, "classmethod"):
            first = fn.args.args[0].arg
            own += [
                n
                for n in ast.walk(fn)
                if isinstance(n, ast.Call) and isinstance(n.func, ast.Name) and n.func.id == first
            ]
    return calls.get(cls.name, []) + own


def unreferenced() -> set[str]:
    """Public package functions and classes no non-test module names."""
    module_names = {p: _names(TREES[p]) for p in NON_TEST}
    out = set()
    for module, node in _public_defs():
        own = os.path.join(REPO, PKG, *module.split(".")) + ".py"
        hit = any(
            node.name in (_names(TREES[p], skip=node) if p == own else names)
            for p, names in module_names.items()
        )
        if not hit:
            out.add(f"{module}.{node.name}")
    return out


def _function_targets(calls: dict[str, list[ast.Call]]) -> list[tuple]:
    """(name, def, its calls, 0) of every public package function."""
    return [
        (f"{module}.{node.name}", node, calls.get(node.name, []), 0)
        for module, node in _public_defs()
        if isinstance(node, ast.FunctionDef)
    ]


def _method_targets(calls: dict[str, list[ast.Call]]) -> list[tuple]:
    """(name, def, its calls, positions a bound call skips) of every public
    method of a public class. A method call is matched by the method's
    name alone; a bound call does not pass ``self`` or ``cls``."""
    return [
        (
            f"{module}.{cls.name}.{fn.name}",
            fn,
            _class_calls(cls, calls) if fn.name == "__init__" else calls.get(fn.name, []),
            0 if _decorated(fn, "staticmethod") else 1,
        )
        for module, cls, fn in _methods()
    ]


def _unset(targets: list[tuple]) -> set[str]:
    """Defaulted parameters of ``targets`` that none of their calls passes."""
    out = set()
    for name, fn, callers, shift in targets:
        for param, index, _ in _defaulted(fn):
            pos = None if index is None else index - shift
            if not any(_passed(c, param, pos) for c in callers):
                out.add(f"{name}.{param}")
    return out


def unset_parameters() -> set[str]:
    """Defaulted parameters of public package functions that no call passes."""
    return _unset(_function_targets(_calls(CALLERS)))


def unset_method_parameters() -> set[str]:
    """Defaulted parameters of public methods of public classes that no
    call passes."""
    return _unset(_method_targets(_calls(CALLERS)))


def _is_none(node: ast.expr) -> bool:
    return isinstance(node, ast.Constant) and node.value is None


def _leaves_unset(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether ``call`` may take ``param``'s default: it forwards ``*args``
    or ``**kwargs``, passes a literal ``None``, or does not pass it."""
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    if any(k.arg is None for k in call.keywords):
        return True
    value = next((k.value for k in call.keywords if k.arg == param), None)
    if value is None and index is not None and len(call.args) > index:
        value = call.args[index]
    return value is None or _is_none(value)


def none_defaults_only_tests_take() -> set[str]:
    """Parameters defaulting to None, of public package functions and of
    public methods of public classes, that no call outside the tests
    leaves unset."""
    calls = _calls(NON_TEST)
    out = set()
    for name, fn, callers, shift in _function_targets(calls) + _method_targets(calls):
        for param, index, default in _defaulted(fn):
            pos = None if index is None else index - shift
            if _is_none(default) and not any(_leaves_unset(c, param, pos) for c in callers):
                out.add(f"{name}.{param}")
    return out


def _value(call: ast.Call, param: str, index: int | None, default: ast.expr) -> object:
    """The value ``call`` gives ``param``: the source text of a literal or
    of the default it leaves in place, else the node itself, which equals
    no other value."""
    if any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    ):
        return call
    value = next((k.value for k in call.keywords if k.arg == param), None)
    if value is None and index is not None and len(call.args) > index:
        value = call.args[index]
    if value is None:
        value = default
    return ast.unparse(value) if isinstance(value, ast.Constant) else value


def single_valued_options() -> set[str]:
    """Defaulted parameters, of public package functions and of public
    methods of public classes, that the non-test calls give fewer than two
    values. A name or expression stands for every value its caller may
    pass, so a parameter that takes one never counts as single-valued."""
    calls = _calls(NON_TEST)
    out = set()
    for name, fn, callers, shift in _function_targets(calls) + _method_targets(calls):
        for param, index, default in _defaulted(fn):
            pos = None if index is None else index - shift
            values = [_value(c, param, pos, default) for c in callers]
            if all(isinstance(v, str) for v in values) and len(set(values)) < 2:
                out.add(f"{name}.{param}")
    return out


def _kept(name: str) -> bool:
    return any(name == k or name.startswith(k + ".") for k in KEPT)


def test_no_two_public_definitions_share_a_name():
    names = Counter(node.name for _, node in _public_defs())
    assert sorted(n for n, c in names.items() if c > 1) == []


def test_every_public_function_has_a_non_test_caller():
    assert sorted(n for n in unreferenced() if not _kept(n)) == []


def test_every_defaulted_parameter_is_set_by_some_caller():
    assert sorted(n for n in unset_parameters() if not _kept(n)) == []


def test_every_defaulted_method_parameter_is_set_by_some_caller():
    assert sorted(n for n in unset_method_parameters() if not _kept(n)) == []


def test_every_none_default_is_taken_outside_the_tests():
    assert sorted(n for n in none_defaults_only_tests_take() if not _kept(n)) == []


def test_every_option_takes_two_values_outside_the_tests():
    assert sorted(n for n in single_valued_options() if not _kept(n)) == []


def test_kept_entries_are_still_exceptions():
    """A KEPT entry whose function gained a caller, or whose parameter
    gained a passing call, or whose None default gained a non-test call
    that takes it, or whose option gained a second value, is stale; at most 4 function parameters and 1 method
    parameter stay unset."""
    unset, unset_methods = unset_parameters(), unset_method_parameters()
    found = (
        unreferenced()
        | unset
        | unset_methods
        | none_defaults_only_tests_take()
        | single_valued_options()
    )
    stale = [k for k in KEPT if not any(n == k or n.startswith(k + ".") for n in found)]
    assert stale == []
    assert len(unset) <= 4, sorted(unset)
    assert len(unset_methods) <= 1, sorted(unset_methods)


def _definitions_calling(callee: str, paths: list[str]) -> set[str]:
    """``module.name`` of every top-level definition of ``paths`` (a
    class's methods count as the class) with a call of ``callee``; a
    call outside any definition counts as the module."""
    out = set()
    for p in paths:
        for node in TREES[p].body:
            name = getattr(node, "name", None)
            if any(isinstance(n, ast.Call) and _callee(n) == callee for n in ast.walk(node)):
                out.add(f"{_module(p)}.{name}" if name else _module(p))
    return out


def test_driver_built_tables_enter_spark_through_local_frame():
    assert _definitions_calling("createDataFrame", PACKAGE) == set(CREATE_DATAFRAME)
    api = os.path.join(REPO, PKG, "api.py")
    assert _definitions_calling("sql", [api]) == set()
