"""Per-key fingerprints and the verified-fingerprint ledger.

The driver checks only the first ``SWEEP_CAP`` keys of
``__spark_entry__.queries()``. Like the reference validator, which
trusts only responses it re-verified against its own oracle
(neurons/validator.py:134-141), a key counts as verified only for the
program a green driver CORRECTNESS row checked.

A key's fingerprint is ``md5`` over:

* its registered ORACLE string (the EXPANDED text stored in
  ``ORACLES`` — so an ``sql_dsum``/``_sql_finite`` helper edit that
  changes the emitted SQL changes every consumer's fingerprint), and
* the SOURCE of its engine function plus the transitive closure of
  package-defined callables/classes it references — resolved both
  through module-level globals (``co_names`` of the function and its
  nested code objects) and through function-LOCAL
  ``from map_reduce_subnet_spark... import X`` statements (the
  repo's dominant import style inside query bodies). This is how a
  ``functions/stable.py::_finite`` or ``sources/versioned.py``
  rewrite fingers every downstream key.

The ledger, ``verified_fingerprints.json``, maps each key to
``{"fingerprint", "round"}``: its fingerprint and round as of its
newest driver CORRECTNESS row where ``rows_match``, ``schema_match``
and ``hash_match`` are all true. A key is *unverified* when it is
missing from the ledger or its live fingerprint differs from the
ledger's. ``__spark_entry__`` sorts the unverified keys first, then
the verified ones oldest round first.

Usage:

* ``python scripts/fingerprints.py`` only reads: it prints the
  unverified keys, their count and the free slots (``SWEEP_CAP``
  minus that count); tests/test_correctness.py fails below zero.
* ``python scripts/fingerprints.py --advance CORRECTNESS_rN.json REV``
  is the only way the ledger changes. Run it when a driver round
  lands, with REV the commit the driver ran. It fingerprints
  ``git archive REV`` in a subprocess with the current algorithm and
  sets ``(fingerprint, N)`` for each key with a green row; every
  other key keeps its entry, so it stays unverified.
"""

from __future__ import annotations

import argparse
import ast
import hashlib
import importlib
import importlib.util
import inspect
import json
import os
import re
import subprocess
import sys
import tempfile
import textwrap

_PKG = "map_reduce_subnet_spark"


def _normalize(src: str) -> str:
    """AST round-trip: drops comments and strips docstrings so a
    DOC-ONLY edit to a query function does not change its fingerprint
    (a docstring cannot change driver-visible behavior, so it must
    not consume a sweep slot). Oracle strings are hashed separately
    and verbatim — SQL text changes always finger their keys."""
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return src
    for node in ast.walk(tree):
        if isinstance(
            node,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        ):
            body = node.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                body[0] = ast.Expr(value=ast.Constant(value=""))
    return ast.unparse(tree)


def _package_obj_source(obj) -> str | None:
    """Normalized source for a function/class defined in the package."""
    mod = getattr(obj, "__module__", None) or ""
    if not (mod == _PKG or mod.startswith(_PKG + ".")):
        return None
    try:
        return _normalize(inspect.getsource(obj))
    except (OSError, TypeError):
        return None


def _local_package_imports(src: str):
    """Objects pulled in by function-local ``from <pkg>... import``.

    Query bodies import helpers locally (keeps module import cheap),
    which hides them from ``__globals__`` — parse the source instead.
    """
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom) or node.level:
            continue
        if not (node.module or "").startswith(_PKG):
            continue
        try:
            mod = importlib.import_module(node.module)
        except ImportError:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if obj is None:
                # `from pkg.sub import module as m`: the parent
                # package only carries the submodule ATTRIBUTE after
                # something imports it, so getattr alone makes the
                # fingerprint depend on import history (measured:
                # scan/sink_python_datasource changed fingerprints
                # after any suite ran their queries). Import the
                # submodule explicitly so resolution is
                # deterministic.
                try:
                    obj = importlib.import_module(
                        f"{node.module}.{alias.name}"
                    )
                except ImportError:
                    continue
            yield obj


def _code_names(fn) -> set[str]:
    """co_names of fn plus every nested code object (lambdas,
    closures) — covers both global references and ATTRIBUTE names."""
    code_objs = [fn.__code__]
    for code in code_objs:
        code_objs.extend(c for c in code.co_consts if inspect.iscode(c))
    return {name for code in code_objs for name in code.co_names}


def _referenced_globals(fn, names: set[str]) -> list:
    """The objects ``names`` resolve to in fn's module globals."""
    g = getattr(fn, "__globals__", {})
    return [g[name] for name in names if name in g]


def _closure_sources(fn, seen: set[int], out: list[str]) -> None:
    src = _package_obj_source(fn)
    if src is None or id(fn) in seen:
        return
    seen.add(id(fn))
    out.append(src)
    names = _code_names(fn)
    referenced = _referenced_globals(fn, names)
    referenced.extend(_local_package_imports(src))
    # classes: recurse into their methods' references too
    for obj in referenced:
        if inspect.ismodule(obj):
            # a module attribute (`tx.shingles(...)`) sits in
            # co_names next to the module's name: resolve each co_name
            # against the module, so an edit fingers only the keys
            # that reach the edited helper. A name shared by chance
            # only adds sources; functions and classes both resolve.
            mname = getattr(obj, "__name__", "")
            if not (mname == _PKG or mname.startswith(_PKG + ".")):
                continue
            for name in sorted(names):
                attr = getattr(obj, name, None)
                if inspect.isfunction(attr):
                    _closure_sources(attr, seen, out)
                elif inspect.isclass(attr):
                    csrc = _package_obj_source(attr)
                    if csrc is not None and id(attr) not in seen:
                        seen.add(id(attr))
                        out.append(csrc)
        elif inspect.isclass(obj):
            csrc = _package_obj_source(obj)
            if csrc is not None and id(obj) not in seen:
                seen.add(id(obj))
                out.append(csrc)
                for _, meth in inspect.getmembers(obj, inspect.isfunction):
                    for sub in _referenced_globals(
                        meth, _code_names(meth)
                    ) + list(
                        _local_package_imports(
                            _package_obj_source(meth) or ""
                        )
                    ):
                        if inspect.isfunction(sub):
                            _closure_sources(sub, seen, out)
        elif inspect.isfunction(obj):
            _closure_sources(obj, seen, out)


def compute_fingerprints() -> dict[str, str]:
    from map_reduce_subnet_spark.operators import ORACLES, QUERIES

    fps: dict[str, str] = {}
    for key in sorted(QUERIES):
        srcs: list[str] = []
        _closure_sources(QUERIES[key], set(), srcs)
        # the closure's DISCOVERY order depends on set iteration
        # (per-process hash randomization) — canonicalize to a sorted
        # de-duplicated bag so the digest is content-only
        parts = [ORACLES.get(key, "")] + sorted(set(srcs))
        blob = "\0".join(parts).encode()
        fps[key] = hashlib.md5(blob).hexdigest()
    return fps


_HERE = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_HERE)
LEDGER_FILE = os.path.join(_HERE, "verified_fingerprints.json")
_GREEN = ("rows_match", "schema_match", "hash_match")


def load_ledger(path: str = LEDGER_FILE) -> dict[str, dict]:
    with open(path) as f:
        return json.load(f)


def unverified(live: dict[str, str], ledger: dict[str, dict]) -> list[str]:
    """Keys whose live fingerprint is not the one the ledger verified."""
    return sorted(
        k for k, fp in live.items() if ledger.get(k, {}).get("fingerprint") != fp
    )


def fingerprints_at(rev: str) -> dict[str, str]:
    """Fingerprints of the package as committed at ``rev``, computed in
    a fresh interpreter so that it imports the archived tree."""
    archive = subprocess.run(
        ["git", "-C", _REPO, "archive", rev, _PKG],
        check=True,
        capture_output=True,
    ).stdout
    with tempfile.TemporaryDirectory() as tree:
        subprocess.run(["tar", "-x", "-C", tree], input=archive, check=True)
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--compute", tree],
            check=True,
            capture_output=True,
            text=True,
            cwd=tree,
        ).stdout
    return json.loads(out.splitlines()[-1])


def advance(
    correctness_file: str, rev: str, ledger_file: str = LEDGER_FILE
) -> list[str]:
    """Record the keys a driver round verified; returns them."""
    match = re.search(r"CORRECTNESS_r(\d+)\.json$", correctness_file)
    if match is None:
        raise ValueError(f"not a CORRECTNESS_rN.json: {correctness_file}")
    rnd = int(match.group(1))
    with open(correctness_file) as f:
        rows = json.load(f)
    fps = fingerprints_at(rev)
    ledger = load_ledger(ledger_file)
    green = sorted(
        k
        for k, row in rows.items()
        if all(row.get(c) is True for c in _GREEN)
        and ledger.get(k, {}).get("round", 0) <= rnd
    )
    for k in green:
        ledger[k] = {"fingerprint": fps[k], "round": rnd}
    lines = [
        f"{json.dumps(k)}: {json.dumps(ledger[k], sort_keys=True)}"
        for k in sorted(ledger)
    ]
    with open(ledger_file, "w") as f:
        f.write("{\n" + ",\n".join(lines) + "\n}\n")
    return green


def _sweep_cap() -> int:
    spec = importlib.util.spec_from_file_location(
        "_sweep_entry", os.path.join(_REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    return entry.SWEEP_CAP


def main() -> None:
    ap = argparse.ArgumentParser(
        description="Print the unverified keys, or advance the ledger."
    )
    ap.add_argument(
        "--advance",
        nargs=2,
        metavar=("CORRECTNESS_rN.json", "REV"),
        help="record the green rows of a driver round run at REV",
    )
    ap.add_argument("--compute", metavar="TREE", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.compute:
        sys.path.insert(0, args.compute)
        print(json.dumps(compute_fingerprints(), sort_keys=True))
        return
    if args.advance:
        green = advance(*args.advance)
        print(f"advanced {len(green)} keys in {LEDGER_FILE}")
        return
    sys.path.insert(0, _REPO)
    stale = unverified(compute_fingerprints(), load_ledger())
    cap = _sweep_cap()
    for k in stale:
        print(k)
    print(f"{len(stale)} unverified keys, SWEEP_CAP {cap}, "
          f"free slots: {cap - len(stale)}")


if __name__ == "__main__":
    main()
