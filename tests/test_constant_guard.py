"""Guard against the late-binding constant clobber class of bug.

Round-6 regression (VERDICT r6 "What's wrong" #1): a second module-level
``_PERM_B = 200`` in queries/advanced.py silently rebound the ``_PERM_B = 64``
that an earlier query's *body* read at call time, while that query's DuckDB
oracle f-string had frozen 64 at import — Spark ran 200 permutation replicates
against an oracle expecting 64.

This test makes the bug class impossible to re-introduce: every module-level
UPPER_SNAKE constant in each ``form700_etl_spark/queries/*.py`` module must be
assigned exactly once at module scope.  (Function-local names and lowercase
module state are out of scope — only the SHOUTING constants that oracle
f-strings interpolate are guarded.)
"""

import ast
import pathlib
import re

import pytest

QUERIES_DIR = (
    pathlib.Path(__file__).resolve().parent.parent
    / "form700_etl_spark"
    / "queries"
)

_CONST_RE = re.compile(r"^_?[A-Z][A-Z0-9_]*$")


def _module_level_constant_assignments(tree):
    """Yield (name, lineno) for each top-level assignment to a CONSTANT name."""
    for node in tree.body:
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        for t in targets:
            for name_node in ast.walk(t):
                if isinstance(name_node, ast.Name) and _CONST_RE.match(
                    name_node.id
                ):
                    yield name_node.id, node.lineno


@pytest.mark.parametrize(
    "path",
    sorted(QUERIES_DIR.glob("*.py")),
    ids=lambda p: p.name,
)
def test_no_rebound_module_constants(path):
    tree = ast.parse(path.read_text(), filename=str(path))
    seen = {}
    dupes = []
    for name, lineno in _module_level_constant_assignments(tree):
        if name in seen:
            dupes.append(f"{name} at lines {seen[name]} and {lineno}")
        else:
            seen[name] = lineno
    assert not dupes, (
        f"{path.name}: module-level constant rebound — oracle f-strings freeze "
        f"these at import while query bodies read them late-bound, so a rebind "
        f"silently desynchronizes Spark from the oracle: {dupes}"
    )


@pytest.mark.parametrize(
    "path",
    sorted(QUERIES_DIR.glob("*.py")),
    ids=lambda p: p.name,
)
def test_constants_defined_above_their_registration_site(path):
    """Freeze-at-registration audit (VERDICT r7 task 7): every module-level
    CONSTANT a query function's body reads must be assigned ABOVE that
    function's registration site.  The oracle f-string freezes the
    constant's value when the ``@register`` decorator line executes at
    import; the body reads it late-bound at call time — a constant first
    assigned between the two (or after the function) gives the oracle and
    the Spark plan two different values with no error anywhere."""
    tree = ast.parse(path.read_text(), filename=str(path))
    assigned_at = dict(_module_level_constant_assignments(tree))
    violations = []
    for node in tree.body:
        if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        # registration executes at the decorator line (or the def line
        # for undecorated helpers) — the freeze point for its oracle
        freeze_line = min(
            [d.lineno for d in node.decorator_list] + [node.lineno]
        )
        for ref in ast.walk(node):
            if (
                isinstance(ref, ast.Name)
                and isinstance(ref.ctx, ast.Load)
                and ref.id in assigned_at
                and assigned_at[ref.id] > freeze_line
            ):
                violations.append(
                    f"{node.name} (registered line {freeze_line}) reads "
                    f"{ref.id} assigned later at line {assigned_at[ref.id]}"
                )
    assert not violations, f"{path.name}: {sorted(set(violations))}"


def _computed_oracle_sites(path):
    """(query name, code) of every ``register`` oracle in ``path`` that
    is not a plain string constant: a helper call, an f-string (with or
    without calls inside) or a ``+`` concatenation, any of which reads
    module state when the ``register`` line runs."""
    sites = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if not (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Name)
            and node.func.id == "register"
        ):
            continue
        qname = (
            node.args[0].value
            if node.args and isinstance(node.args[0], ast.Constant)
            else None
        )
        oracle_exprs = [
            kw.value for kw in node.keywords if kw.arg == "oracle"
        ] + node.args[1:2]
        for expr in oracle_exprs:
            if not isinstance(expr, ast.Constant):
                code = compile(ast.Expression(expr), str(path), "eval")
                sites.append((qname, code))
    return sites


_ORACLE_SITES = {
    path: sites
    for path in sorted(QUERIES_DIR.glob("*.py"))
    if (sites := _computed_oracle_sites(path))
}


@pytest.mark.parametrize("path", list(_ORACLE_SITES), ids=lambda p: p.name)
def test_helper_generated_oracles_stable_after_import(path):
    """Freeze-at-registration audit for COMPUTED oracles (VERDICT r10
    task 7): an oracle built by a module function (e.g.
    ``_modularity_oracle`` splicing ``_lpa_layers()``), an f-string that
    embeds a helper's output or a constant (``{_quality_sql()}``,
    ``{_H2}``) or a ``+`` concatenation depends on other module state.
    The registry froze its value at import; if later module state would
    make it read differently today, the engine (which reads that state
    late-bound) and the frozen oracle have silently diverged.  Re-run
    every such oracle expression in the module's CURRENT namespace and
    require byte-identical output to the registered string.  Only
    modules with at least one such oracle are collected."""
    import importlib

    from form700_etl_spark.registry import all_queries

    qs = all_queries()
    mod = importlib.import_module(f"form700_etl_spark.queries.{path.stem}")
    drifted = []
    for qname, code in _ORACLE_SITES[path]:
        assert qname in qs, f"{path.name}: unparsed register() name at {code}"
        live = eval(code, vars(mod))  # noqa: S307 — repo-controlled source
        if live != qs[qname].oracle:
            drifted.append(qname)
    assert not drifted, (
        f"{path.name}: {drifted} oracles read different SQL now than at "
        f"registration — module state they read was changed after the "
        f"@register line ran"
    )
