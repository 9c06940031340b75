"""The one key runner, ``bench.py::run_keys``: bench.py and every
per-key script run registered queries through it, and its probes and
answer path behave as its callers read them."""

from __future__ import annotations

import ast
import glob
import os
from contextlib import contextmanager

import bench
from tests.conftest import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TOOLS = [os.path.join(ROOT, "bench.py"), *sorted(glob.glob(os.path.join(ROOT, "scripts", "*.py")))]


def _runs_a_query(node: ast.AST) -> bool:
    """A ``QUERIES[key](...)``, entry ``queries()[key](...)`` or
    ``query_mismatch(...)`` call."""
    if not isinstance(node, ast.Call):
        return False
    held, name = node.func, "query_mismatch"
    if isinstance(held, ast.Subscript):
        held, name = held.value, "QUERIES"
        if isinstance(held, ast.Call):
            held, name = held.func, "queries"
    return getattr(held, "id", getattr(held, "attr", None)) == name


def _query_runs(tree: ast.AST, inside: tuple[str, ...] = ()):
    """(line, names of the enclosing functions) of every query run in
    ``tree``, including those in code held in a string constant (a
    child program), which are never inside the runner."""
    for node in ast.iter_child_nodes(tree):
        scope = inside
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = (*inside, node.name)
        if _runs_a_query(node):
            yield node.lineno, scope
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            try:
                held = ast.parse(node.value)
            except SyntaxError:
                continue
            yield from ((node.lineno, ("<string>",)) for _ in _query_runs(held))
        yield from _query_runs(node, scope)


def test_every_key_run_goes_through_the_runner():
    """bench.py and scripts/*.py run a registered query only inside
    ``bench.py::run_keys``, and one subprocess launcher is left among
    the scripts that run keys."""
    outside, inside, launches = [], 0, []
    for path in TOOLS:
        with open(path) as f:
            src = f.read()
        tree = ast.parse(src)
        for line, scope in _query_runs(tree):
            if path.endswith("bench.py") and scope[:1] == ("run_keys",):
                inside += 1
            else:
                outside.append(f"{os.path.relpath(path, ROOT)}:{line} in {scope}")
        if "run_keys" in src:
            launches += [
                f"{os.path.relpath(path, ROOT)}:{node.lineno}"
                for node in ast.walk(tree)
                if isinstance(node, ast.Call)
                and getattr(node.func, "attr", None) in ("run", "Popen", "call", "check_call", "check_output")
                and getattr(node.func.value, "id", None) == "subprocess"
            ]
    assert outside == [], outside
    assert inside >= 2, "run_keys runs no query: the check is looking at the wrong names"
    assert len(launches) == 1, launches


def test_runner_times_probes_and_answers(spark, ddb):
    """``run()`` runs the key once under its job group, with every probe
    held over each half, and returns (build_s, exec_s); ``runs`` decides
    how often. With an oracle connection ``run()`` returns the answer's
    diff, None for a match."""
    seen = []

    @contextmanager
    def probe(half):
        seen.append((half, spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
        yield

    def twice(run, group):
        return [run(), run(), group]

    out = bench.run_keys(spark, SF_DIR, ["agg_reduce_sum"], twice, [probe], group="t {key}")
    (first, second, group), = out.values()
    assert list(out) == ["agg_reduce_sum"] and group == "t agg_reduce_sum"
    for sample in (first, second):
        assert len(sample) == 2 and all(s > 0 for s in sample)
    assert seen == [("build", group), ("execute", group)] * 2

    assert bench.run_keys(spark, SF_DIR, ["agg_reduce_sum"], con=ddb) == {"agg_reduce_sum": None}
