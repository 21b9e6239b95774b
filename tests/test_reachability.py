"""Reachability guard: every package definition must be reached from a root.

A static AST scan, no Spark. The roots are what runs the engine outside the
test suite: the package's module-level code (which includes the catalog
queries its ``register``/``register_bench_only`` decorators record),
``__spark_entry__.py``, ``bench.py``, ``tools/`` and ``perfbench/``. From
them the scan follows name and ``module.attr`` references through imports
and re-exports to top-level definitions (functions, classes, module
constants) and on through their bodies. An import alone reaches a module's
import-time code, not the names it imports, so a re-export nobody calls does
not count as a use.

A definition no root reaches is either dead or reached only from ``tests/``;
either way it fails the test unless ``ALLOWED`` names it with a reason.
Resolution is by name, so a local variable that shadows a top-level name can
make a definition look reached (the scan errs towards passing), never the
reverse.

The same AST load also guards the operator OPTIONS: every defaulted
parameter of a top-level package function must see at least two distinct
values at the roots' call sites, unless ``OPTIONS_ALLOWED`` names it with a
reason. Calls match by function name; an omitted argument counts as the
default value, and a runtime expression, a forwarded variable or a
reference to the function that is not a call (a callback) counts as many
values. A parameter only one value reaches is configuration space no
workload runs: make it a constant.

Run as a script to print the unreached definitions with their line counts,
then the option report: ``python tests/test_reachability.py``.
"""

from __future__ import annotations

import ast
import functools
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = "tcga_query_project_spark"
ROOT_FILES = ("__spark_entry__.py", "bench.py", "tools/*.py", "perfbench/*.py")

#: Unreached definitions kept on purpose, ``module`` (the whole module) or
#: ``module:name``, each with the reason it stays.
ALLOWED: dict[str, str] = {
    # Test infrastructure.
    f"{PKG}.fixtures": "seeded golden fixtures the pipeline tests run on",
    f"{PKG}.schemas": "declared StructTypes the tests check the testdata against",
    f"{PKG}.plans.inspect": "plan assertions behind tests/test_plans.py",
    # Reference implementations the engine paths are compared against.
    f"{PKG}.operators.glm:_fit_core": "numpy IRLS reference for the SQL NB-GLM Wald fit",
    # Paper entry points that have no catalog query yet.
    f"{PKG}.sources.ingest": "GDC acquisition path (GDCquery/GDCdownload/GDCprepare)",
    f"{PKG}.sources.io:write_bucketed": "bucketed sink the GDC acquisition path writes through",
    f"{PKG}.sources.io:checkpoint": "the cache ladder for long pipelines",
    f"{PKG}.sources.io:read_tsv_config": "the reference scripts' TSV run configuration",
    f"{PKG}.pipelines.differential_expression:pairwise_de": "BRCA_path_stage all-pairs stage contrasts",
    f"{PKG}.pipelines.differential_expression:normalize_stage_labels": "BRCA_path_stage stage-label folding",
    f"{PKG}.operators.glm:nb_glm_wald_pairs": "the all-pairs NB-GLM Wald fit behind pairwise_de",
    # Sinks a benchmark plan names.
    f"{PKG}.sources.io:write_training_shards": "training-shard sink of the corpus pipeline",
}

#: Modules whose options the option guard does not scan: test
#: infrastructure and the GDC acquisition path. Their calls are not roots.
OPTION_EXEMPT_MODULES = (
    f"{PKG}.sources.ingest",
    f"{PKG}.fixtures",
    f"{PKG}.schemas",
    f"{PKG}.plans.inspect",
)

_PERFBENCH = "perfbench passes it (the benchmark's own setting)"
_TOY = "tests shrink it: a production-scale path at toy scale, or a fast test"
_SALT = "tests vary the salt to draw independent samples"

#: Defaulted parameters, ``module:function:param``, that fewer than two
#: distinct values reach from the roots, kept on purpose with the reason.
OPTIONS_ALLOWED: dict[str, str] = {
    f"{PKG}.operators.dedup:near_duplicates:k": _PERFBENCH,
    f"{PKG}.operators.dedup:near_duplicates:num_hashes": _PERFBENCH,
    f"{PKG}.operators.dedup:near_duplicates:band_size": _PERFBENCH,
    f"{PKG}.operators.dedup:embedding_near_dup_auto:n_tables": _PERFBENCH,
    f"{PKG}.operators.dedup:embedding_near_dup_auto:target_occupancy": _TOY,
    f"{PKG}.operators.dedup:embedding_near_dup_auto:max_bits": _TOY,
    f"{PKG}.operators.dedup:embedding_near_dup:n_blocks": _TOY,
    f"{PKG}.operators.bpe:bpe_encode:max_word_len": _TOY,
    f"{PKG}.operators.bpe:bpe_train:num_merges": _TOY,
    f"{PKG}.operators.bpe:bpe_train:max_words": _TOY,
    f"{PKG}.operators.unigram:unigram_train:vocab_size": _TOY,
    f"{PKG}.operators.unigram:unigram_train:seed_size": _TOY,
    f"{PKG}.operators.sketches:heavy_hitters:k": _TOY,
    f"{PKG}.operators.sketches:heavy_hitters:capacity": _TOY,
    f"{PKG}.operators.glm:fit_dispersion_trend:max_iter": "tests pin the single-pass trend (max_iter=1) against the refit",
    f"{PKG}.operators.graph:connected_components:max_iter": _TOY,
    f"{PKG}.operators.graph:connected_components:local_threshold": "tests force the distributed path (0) on toy graphs",
    f"{PKG}.operators.graph:pagerank:local_threshold": "tests force the distributed path (0) on toy graphs",
    f"{PKG}.operators.partitioning:stratified_cap_scaled:salt": _SALT,
    f"{PKG}.operators.partitioning:stratified_cap_scaled:slack": _TOY,
    f"{PKG}.operators.partitioning:stratified_cap_scaled:margin": _TOY,
    f"{PKG}.operators.sampling:dsir_select:n_buckets": _TOY,
    f"{PKG}.operators.sampling:pps_systematic_sample:salt": _SALT,
    f"{PKG}.operators.sampling:sample_mixture:salt": _SALT,
    f"{PKG}.operators.stats:bootstrap_ci:n_boot": _TOY,
    f"{PKG}.operators.stats:bootstrap_ci:salt": _SALT,
    f"{PKG}.operators.stats:independent_filter_padj:n_theta": _TOY,
    f"{PKG}.operators.stats:r_lowess:iters": "tests check the port of R's lowess against R's own values",
    f"{PKG}.operators.temporal:apply_cdc:tiebreak": "keeps window orders total (catalog determinism convention)",
    f"{PKG}.operators.temporal:range_join:bucket_width": _TOY,
    f"{PKG}.operators.text:remove_boilerplate_lines:min_docs": _TOY,
    f"{PKG}.pipelines.corpus_prep:prepare_training_corpus:max_tokens": _TOY,
    f"{PKG}.pipelines.corpus_prep:prepare_training_corpus:shard_budget": _TOY,
    f"{PKG}.pipelines.corpus_prep:prepare_training_corpus:block_size": _TOY,
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class _Module:
    def __init__(self, name: str, path: pathlib.Path, is_pkg: bool):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        self.package = name if is_pkg else name.rpartition(".")[0]
        #: alias -> ("mod", module) or ("name", module, attr), file-wide
        self.aliases: dict[str, tuple] = {}
        #: top-level name -> its defining statements, and their line count
        self.defs: dict[str, list[ast.AST]] = {}
        self.lines: dict[str, int] = {}
        self.top: list[ast.AST] = []  # import-time code outside definitions


def _absolute(mod: _Module, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.package.split(".")
    base = base[: len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


def _load(paths: list[pathlib.Path]) -> dict[str, _Module]:
    mods = {}
    for p in paths:
        m = _Module(_module_name(p), p, p.name == "__init__.py")
        mods[m.name] = m
    for m in mods.values():
        for node in ast.walk(m.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        m.aliases[a.asname] = ("mod", a.name)
                    else:
                        head = a.name.split(".")[0]
                        m.aliases[head] = ("mod", head)
            elif isinstance(node, ast.ImportFrom):
                src = _absolute(m, node)
                for a in node.names:
                    m.aliases[a.asname or a.name] = ("name", src, a.name)
        for node in m.tree.body:
            names = []
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                names = [t.id for t in targets if isinstance(t, ast.Name) and not t.id.startswith("__")]
            if names:
                for n in names:
                    m.defs.setdefault(n, []).append(node)
                    first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
                    m.lines[n] = m.lines.get(n, 0) + node.end_lineno - first + 1
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                m.top.append(node)
    return mods


class _Scan:
    def __init__(self, pkg: dict[str, _Module]):
        self.pkg = pkg
        self.reached: set[tuple[str, str]] = set()
        self.reached_mods: set[str] = set()
        self.todo: list[tuple[_Module, list[ast.AST]]] = []

    # -- resolution
    def _target(self, mod: str, name: str, seen=()) -> tuple | None:
        sub = f"{mod}.{name}"
        if sub in self.pkg:
            return ("mod", sub)
        m = self.pkg.get(mod)
        if m is None or (mod, name) in seen:
            return None
        if name in m.defs:
            return ("def", mod, name)
        if name in m.aliases:
            return self._alias(m.aliases[name], seen + ((mod, name),))
        return None

    def _alias(self, alias: tuple, seen=()) -> tuple | None:
        if alias[0] == "mod":
            return alias
        return self._target(alias[1], alias[2], seen)

    def _resolve(self, m: _Module, node: ast.AST) -> tuple | None:
        if isinstance(node, ast.Name):
            if node.id in m.aliases:
                return self._alias(m.aliases[node.id])
            if node.id in m.defs and m.name in self.pkg:
                return ("def", m.name, node.id)
            return None
        if isinstance(node, ast.Attribute):
            base = self._resolve(m, node.value)
            if base and base[0] == "mod":
                self._mark(("mod", base[1]))
                return self._target(base[1], node.attr) or ("mod", f"{base[1]}.{node.attr}")
        return None

    # -- traversal
    def _mark(self, target: tuple | None) -> None:
        if target is None:
            return
        if target[0] == "mod":
            mod = target[1]
            parts = mod.split(".")
            for i in range(1, len(parts) + 1):  # importing a.b.c runs a, a.b, a.b.c
                name = ".".join(parts[:i])
                if name in self.pkg and name not in self.reached_mods:
                    self.reached_mods.add(name)
                    m = self.pkg[name]
                    imports = [n for n in m.tree.body if isinstance(n, (ast.Import, ast.ImportFrom))]
                    self.todo.append((m, m.top + imports))
                    for d, nodes in m.defs.items():
                        if any(self._registers(m, n) for n in nodes):
                            self._mark(("def", name, d))
            return
        _, mod, name = target
        if (mod, name) in self.reached:
            return
        self.reached.add((mod, name))
        self._mark(("mod", mod))
        m = self.pkg[mod]
        self.todo.append((m, m.defs[name]))

    def _registers(self, m: _Module, node: ast.AST) -> bool:
        """A decorator call defined in the package (e.g. ``catalog.register``)
        records the function at import time: the definition is a root."""
        for dec in getattr(node, "decorator_list", []):
            fn = dec.func if isinstance(dec, ast.Call) else dec
            t = self._resolve(m, fn)
            if t and t[0] == "def":
                return True
        return False

    def _visit(self, m: _Module, nodes: list[ast.AST]) -> None:
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        self._mark(("mod", a.name))
                elif isinstance(node, ast.ImportFrom):
                    src = _absolute(m, node)
                    self._mark(("mod", src))
                    for a in node.names:
                        t = self._target(src, a.name)
                        if t and t[0] == "mod":
                            self._mark(t)
                elif isinstance(node, (ast.Name, ast.Attribute)):
                    self._mark(self._resolve(m, node))

    def run(self) -> None:
        while self.todo:
            self._visit(*self.todo.pop())


@functools.cache
def _parsed() -> tuple[dict[str, _Module], dict[str, _Module]]:
    return (
        _load(sorted((REPO / PKG).rglob("*.py"))),
        _load(sorted(p for pat in ROOT_FILES for p in REPO.glob(pat))),
    )


def unreached(allowed: bool = True) -> dict[str, int]:
    """``module:name`` -> line count of every package definition no root
    reaches. With ``allowed`` the ``ALLOWED`` entries are roots as well, so
    helpers that only a kept definition calls are not reported."""
    pkg, roots = _parsed()
    scan = _Scan(pkg)
    scan.todo = [(m, [m.tree]) for m in roots.values()]
    for key in ALLOWED if allowed else ():
        mod, _, name = key.partition(":")
        for d in [name] if name else pkg[mod].defs if mod in pkg else []:
            if mod in pkg and d in pkg[mod].defs:
                scan._mark(("def", mod, d))
    scan.run()
    return {
        f"{m.name}:{d}": m.lines[d]
        for m in pkg.values()
        for d in m.defs
        if (m.name, d) not in scan.reached
    }


def test_every_definition_is_reached_or_allowed():
    bad = sorted(unreached())
    assert not bad, (
        "package definitions reached by no catalog query, pipeline, tool or "
        "benchmark (delete them with their tests, wire them in, or add a "
        f"reasoned entry to ALLOWED): {bad}"
    )


def test_allowlist_has_no_stale_entries():
    found = unreached(allowed=False)
    stale = [k for k in ALLOWED if k not in found and not any(f.startswith(k + ":") for f in found)]
    assert not stale, f"ALLOWED entries that are now reached or gone: {stale}"


_MANY = "<runtime>"


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.AST]]:
    """(name, positional index or None, default) of each defaulted parameter."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out = [(p.arg, first + i, d) for i, (p, d) in enumerate(zip(pos[first:], a.defaults))]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _value(node: ast.AST) -> str:
    try:
        ast.literal_eval(node)
    except (ValueError, TypeError):
        return _MANY
    return ast.unparse(node)


def option_values() -> dict[str, set[str]]:
    """``module:function:param`` -> the distinct values the roots' call
    sites pass for every in-scope defaulted parameter."""
    pkg, roots = _parsed()
    by_name: dict[str, list[tuple[str, ast.FunctionDef]]] = {}
    for m in pkg.values():
        if m.name in OPTION_EXEMPT_MODULES:
            continue
        for node in m.tree.body:
            if isinstance(node, ast.FunctionDef) and f"{m.name}:{node.name}" not in ALLOWED:
                by_name.setdefault(node.name, []).append((m.name, node))
    values = {
        f"{mod}:{fn.name}:{p}": set()
        for fns in by_name.values()
        for mod, fn in fns
        for p, _, _ in _defaulted(fn)
    }
    callers = [m for m in pkg.values() if m.name not in OPTION_EXEMPT_MODULES]
    for m in callers + list(roots.values()):
        called = set()
        for node in ast.walk(m.tree):
            if not isinstance(node, ast.Call):
                continue
            called.add(id(node.func))
            name = getattr(node.func, "id", None) or getattr(node.func, "attr", None)
            starred = any(isinstance(a, ast.Starred) for a in node.args)
            kwargs = {k.arg: k.value for k in node.keywords}
            for mod, fn in by_name.get(name, []):
                for p, i, default in _defaulted(fn):
                    if p in kwargs:
                        v = _value(kwargs[p])
                    elif i is not None and i < len(node.args) and not starred:
                        v = _value(node.args[i])
                    elif starred or None in kwargs:
                        v = _MANY
                    else:
                        v = _value(default)
                    values[f"{mod}:{fn.name}:{p}"].add(v)
        for node in ast.walk(m.tree):  # callbacks: any value may reach them
            if isinstance(node, (ast.Name, ast.Attribute)) and id(node) not in called:
                name = getattr(node, "id", None) or getattr(node, "attr", None)
                for mod, fn in by_name.get(name, []):
                    for p, _, _ in _defaulted(fn):
                        values[f"{mod}:{fn.name}:{p}"].add(_MANY)
    return values


def single_valued_options() -> dict[str, set[str]]:
    return {k: v for k, v in option_values().items() if len(v) < 2 and _MANY not in v}


def test_every_option_has_two_values_in_use():
    bad = sorted(k for k in single_valued_options() if k not in OPTIONS_ALLOWED)
    assert not bad, (
        "defaulted parameters no root passes a second value (make them "
        f"constants, or add a reasoned entry to OPTIONS_ALLOWED): {bad}"
    )


def test_option_allowlist_has_no_stale_entries():
    found = single_valued_options()
    stale = [k for k in OPTIONS_ALLOWED if k not in found]
    assert not stale, f"OPTIONS_ALLOWED entries that now see two values or are gone: {stale}"


if __name__ == "__main__":
    bad = unreached()
    for key, n in sorted(unreached(allowed=False).items()):
        print(f"{n:5d}  {'UNREACHED' if key in bad else 'allowed  '}  {key}")
    print(f"{sum(bad.values())} unreached lines in {len(bad)} definitions", file=sys.stderr)
    opts = option_values()
    single = single_valued_options()
    for key, vals in sorted(opts.items()):
        tag = "" if key not in single else "allowed " if key in OPTIONS_ALLOWED else "SINGLE  "
        print(f"{tag:8s}  {key}  {sorted(vals)}")
    print(f"{len(opts)} defaulted parameters, {len(single)} with one value in use", file=sys.stderr)
