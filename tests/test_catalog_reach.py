"""Every engine module and function is reached by the query catalog.

The catalog is what the oracle gate checks: ``load_catalog()`` imports
the plan modules in ``PLAN_MODULES``, their ``@query`` functions are
hash-checked against DuckDB, and whatever those modules import is code
the checked queries can run. Code outside that closure is reached by
nothing but its own tests, so it must either become a leg of a
registered query or be deleted.

The graph is static: it parses every ``.py`` file under the package and
follows ``import`` / ``from ... import`` statements anywhere in the
file, including those inside function bodies, without importing
anything. Three levels are checked:

- module: every engine module is in the closure;
- function: every public top-level function or class of a closure
  module is imported by (module, name) from another closure module, or
  used in its own module, apart from the ``NOT_CATALOG_FUNCS`` the
  harness and the tests keep; package ``__init__`` re-exports do not
  count;
- parameter: each optional parameter of those functions is passed by
  some call in the closure, apart from the ``TEST_TIER_PARAMS`` the
  tests alone set.
"""

from __future__ import annotations

import ast
from pathlib import Path

from etfconstituentextractor_spark.plans.registry import PLAN_MODULES

PKG = "etfconstituentextractor_spark"
PKG_DIR = Path(__file__).resolve().parents[1] / PKG

def _module_files() -> dict[str, Path]:
    """Dotted module name -> source file, for every module in the package."""
    mods = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = path.relative_to(PKG_DIR.parent).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(path: Path) -> set[str]:
    """Every dotted name an import statement in ``path`` may load (the
    package uses absolute imports only)."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            # ``from pkg import sub`` loads the submodule ``pkg.sub``.
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    return names


def _reached(mods: dict[str, Path], roots: list[str]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        # Importing ``a.b.c`` runs ``a/__init__`` and ``a/b/__init__`` too.
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in mods and mod not in seen:
                seen.add(mod)
                todo.extend(_imported_names(mods[mod]))
    return seen


def _catalog_closure(mods: dict[str, Path]) -> set[str]:
    roots = [f"{PKG}.plans.registry"] + [f"{PKG}.plans.{m}" for m in PLAN_MODULES]
    assert all(r in mods for r in roots), roots
    return _reached(mods, roots)


def test_every_engine_module_is_reachable_from_the_catalog():
    mods = _module_files()
    orphans = sorted(set(mods) - _catalog_closure(mods))
    assert not orphans, (
        f"{len(orphans)} engine module(s) no registered query reaches: "
        f"{orphans}; wire each into a hash-checked query or delete it"
    )


#: public engine functions and classes the catalog does not reach but
#: the project keeps; shrink-only, like ``TEST_TIER_PARAMS`` — an entry
#: the catalog starts reaching, or that is deleted, must leave the dict
NOT_CATALOG_FUNCS = {
    f"{PKG}.session.get_session": (
        "harness entry point: tests, bench.py, perfbench and tools build their session"
    ),
    f"{PKG}.plans.registry.load_catalog": "harness entry point: imports the plan modules",
    f"{PKG}.operators.pq.py_pq_oracle": "reference the PQ tests compare the kept encoders against",
    f"{PKG}.operators.pq.pq_adc_topk": "reference for q70's pq_adc_join_topk",
    f"{PKG}.operators.zorder.py_z_value": "reference the z-order tests compare z_value against",
    f"{PKG}.operators.zorder.py_z_value_n": "reference the z-order tests compare z_value_n against",
    f"{PKG}.operators.quantize.dequantize": "bounds quantize_int8's round-trip error in its tests",
    f"{PKG}.streaming.dedup_index.read_bands": "reads the band state q62's handler writes, for its tests",
}


def _public_defs(tree: ast.Module) -> set[str]:
    """Public top-level functions and classes, apart from ``@query``
    ones, which the registry reaches."""

    def registered(n) -> bool:
        return any(
            isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
            for d in n.decorator_list
        )

    return {
        n.name
        for n in tree.body
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not n.name.startswith("_")
        and not registered(n)
    }


def _cross_module_reach(path: Path, mods: dict[str, Path]) -> set[tuple[str, str]]:
    """(module, name) for every engine name ``path`` uses from another
    module: ``from M import f``, or ``x.f`` with ``x`` bound to ``M`` by
    ``import M as x`` or ``from P import M``."""
    reach: set[tuple[str, str]] = set()
    bound: dict[str, str] = {}
    tree = ast.parse(path.read_text(), str(path))
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.asname and alias.name in mods:
                    bound[alias.asname] = alias.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for alias in node.names:
                sub = f"{node.module}.{alias.name}"
                if sub in mods:
                    bound[alias.asname or alias.name] = sub
                else:
                    reach.add((node.module, alias.name))
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            if node.value.id in bound:
                reach.add((bound[node.value.id], node.attr))
    return reach


def _names_outside_defs(tree: ast.Module, name: str) -> bool:
    """Whether ``tree`` names ``name`` anywhere but inside the top-level
    definition of ``name`` itself."""
    return any(
        isinstance(node, ast.Name) and node.id == name
        for top in tree.body
        if getattr(top, "name", None) != name
        for node in ast.walk(top)
    )


def test_every_engine_function_is_reached_by_the_catalog():
    """Function-level reach for every module the catalog imports: each
    public top-level function or class is imported by (module, name)
    from another module of the closure, or is used in its own module,
    or is named in ``NOT_CATALOG_FUNCS``. Package ``__init__``
    re-exports do not count. ``sources/snapshot_table.py``'s
    ``__all__`` also lists exactly its public functions and classes."""
    mods = _module_files()
    closure = sorted(
        m for m in _catalog_closure(mods) if mods[m].name != "__init__.py"
    )
    reach = set().union(*(_cross_module_reach(mods[m], mods) for m in closure))
    public = set()
    unreached = set()
    for m in closure:
        tree = ast.parse(mods[m].read_text(), str(mods[m]))
        for name in _public_defs(tree):
            public.add(f"{m}.{name}")
            if (m, name) not in reach and not _names_outside_defs(tree, name):
                unreached.add(f"{m}.{name}")
    flagged = sorted(unreached - set(NOT_CATALOG_FUNCS))
    assert not flagged, (
        f"no registered query reaches {len(flagged)} function(s): {flagged}; "
        "wire each into a hash-checked query or delete it"
    )
    stale = sorted(set(NOT_CATALOG_FUNCS) - unreached)
    assert not stale, f"drop these from NOT_CATALOG_FUNCS: {stale}"

    name = f"{PKG}.sources.snapshot_table"
    tree = ast.parse(mods[name].read_text())
    (exported,) = (
        ast.literal_eval(n.value)
        for n in tree.body
        if isinstance(n, ast.Assign) and [getattr(t, "id", None) for t in n.targets] == ["__all__"]
    )
    assert len(exported) == len(set(exported)), exported
    snapshot_public = {p.rsplit(".", 1)[1] for p in public if p.startswith(name + ".")}
    assert set(exported) == snapshot_public, sorted(set(exported) ^ snapshot_public)


#: optional engine parameters only tests set, each with the behaviour
#: its tests check at a non-default value; shrink-only, like
#: NOT_CATALOG_FUNCS — an entry the catalog starts passing, or that is
#: deleted, must leave the dict
TEST_TIER_PARAMS = {
    "snapshot_merge.stats_cols": "merge-then-prune tests; q86 never prunes a merged table",
    "snapshot_read.merge_schema": "footer-merged reads of untracked schemas; catalog tables record one",
    "snapshot_stream_ingest.stats_cols": "prune-after-ingest tests; q15 reads its ingest table whole",
    "cms_from_counts.d": "the CMS tests sweep (d, w): three-way agreement, d=0 rejected",
    "cms_from_counts.w": "forced collisions at w=16, exact estimates at w=2^20",
    "sql_cms_from_counts.d": "the DuckDB side of the (d, w) three-way agreement sweep",
    "sql_cms_from_counts.w": "the DuckDB side of the (d, w) three-way agreement sweep",
    "connected_components.max_iter": "max_iter=2 raises on a long chain instead of returning wrong labels",
    "curate.min_tokens": "the curate fuzz test's short random docs reach every later gate at 5",
    "embedding_cosine_pairs.cap": "the block cap trips on a 6-row label at cap=5",
    "kmv_distinct.k": "the KMV property test sweeps k=2..12 so small inputs reach the estimate",
    "ngram_jaccard_pairs.max_block": "the block cap trips on an 8-doc block at max_block=5",
    "psl_rules.path": "rule-cache eviction over distinct rule files; deployments load a fresher list",
    "write_zordered.block_size": "small row groups give a test-scale table stats to prune on",
}


def _optional_params(fn: ast.FunctionDef) -> tuple[list[str], set[str]]:
    """(positional parameter names in order, names with a default)."""
    pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
    optional = set(pos[len(pos) - len(fn.args.defaults) :])
    optional |= {
        a.arg for a, d in zip(fn.args.kwonlyargs, fn.args.kw_defaults) if d is not None
    }
    return pos, optional


def _passed_params(path: Path, funcs: dict[str, list[str]]) -> set[str]:
    """``func.param`` for every parameter a call in ``path`` gives to
    one of ``funcs`` ({name: positional parameter names}), by keyword
    or by position; calls are matched by bare name."""
    passed: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name not in funcs:
            continue
        for i, a in enumerate(node.args):
            if isinstance(a, ast.Starred):
                break
            if i < len(funcs[name]):
                passed.add(f"{name}.{funcs[name][i]}")
        passed.update(f"{name}.{kw.arg}" for kw in node.keywords if kw.arg)
    return passed


def test_every_engine_option_is_passed_by_the_catalog():
    """Parameter-level reach for every module the catalog imports: each
    optional parameter of a public top-level function (``@query`` ones
    and ``NOT_CATALOG_FUNCS`` apart) is passed, by keyword or by
    position, by a call in some closure module, its own included, or is
    named in ``TEST_TIER_PARAMS``. Calls match by bare name, so public
    function names must be unique across the closure."""
    mods = _module_files()
    closure = sorted(_catalog_closure(mods))
    funcs: dict[str, tuple[list[str], set[str]]] = {}
    owners: dict[str, list[str]] = {}
    for m in closure:
        if mods[m].name == "__init__.py":
            continue
        tree = ast.parse(mods[m].read_text(), str(mods[m]))
        public = _public_defs(tree)
        for n in tree.body:
            if (
                isinstance(n, ast.FunctionDef)
                and n.name in public
                and f"{m}.{n.name}" not in NOT_CATALOG_FUNCS
            ):
                owners.setdefault(n.name, []).append(m)
                funcs[n.name] = _optional_params(n)
    clashes = {name: ms for name, ms in owners.items() if len(ms) > 1}
    assert not clashes, f"public function names must be unique: {clashes}"
    optional = {f"{fn}.{p}" for fn, (_, opts) in funcs.items() for p in opts}
    positional = {fn: pos for fn, (pos, _) in funcs.items()}
    passed = set().union(*(_passed_params(mods[m], positional) for m in closure))
    unpassed = sorted(optional - passed - set(TEST_TIER_PARAMS))
    assert not unpassed, (
        f"no registered query passes {len(unpassed)} option(s): {unpassed}; "
        "delete each option or pass it from a hash-checked query"
    )
    stale = sorted(set(TEST_TIER_PARAMS) - (optional - passed))
    assert not stale, f"drop these from TEST_TIER_PARAMS: {stale}"


#: the modules that may resolve the process temp dir: the derived-state
#: primitive, per-process scratch (``sources.tables.scratch_dir``) and
#: the session's warehouse
TEMPDIR_USERS = frozenset(
    f"{PKG}.{m}" for m in ("sources.derived", "sources.tables", "session")
)


def _names_used(path: Path) -> set[str]:
    """Every identifier ``path`` names: variables, attributes and
    imported names."""
    names: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_cross_run_state_has_one_path():
    """Every cache that outlives a run goes through
    ``sources/derived.py``: no other module keys anything on a table
    fingerprint, and no other module picks its own spot in the temp
    dir, where a hand-rolled cache would live."""
    mods = _module_files()
    keyed = {m for m, p in mods.items() if "table_fingerprint" in _names_used(p)}
    assert keyed == {f"{PKG}.sources.derived"}
    tmp = {m for m, p in mods.items() if "gettempdir" in _names_used(p)}
    assert tmp <= TEMPDIR_USERS, sorted(tmp - TEMPDIR_USERS)
