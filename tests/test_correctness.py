"""Differential oracle tests — every SQL-oracled query, Spark vs DuckDB.

This mirrors the driver's t2 gate (and the reference's validator-vs-miner
exact-match oracle, reference neurons/validator.py:138-141): the same
parquet is read by both engines and results must match exactly after
order-insensitive canonicalization.
"""

from __future__ import annotations

import pytest

from map_reduce_subnet_spark.operators import ORACLES, QUERIES
from tests.conftest import SF_DIR, assert_frames_match

SQL_ORACLED = sorted(ORACLES)
ROWS_ONLY = sorted(set(QUERIES) - set(ORACLES))


@pytest.mark.parametrize("name", SQL_ORACLED)
def test_query_matches_oracle(spark, ddb, name):
    sdf = QUERIES[name](spark, SF_DIR).toPandas()
    odf = ddb.sql(ORACLES[name]).df()
    assert_frames_match(sdf, odf, name)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    df = QUERIES[name](spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


def test_registry_consistency():
    unknown = set(ORACLES) - set(QUERIES)
    assert not unknown, f"oracles without queries: {unknown}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0


def test_changed_keys_are_in_sweep_priority():
    """Every key whose live fingerprint is not the one a green driver
    CORRECTNESS row verified (scripts/verified_fingerprints.json) must
    fit inside the SWEEP_CAP prefix of queries(), or the driver would
    never check its current program. An oracle or engine edit that
    fingers more keys than there are free slots fails here."""
    import __spark_entry__ as e
    from scripts.fingerprints import (
        compute_fingerprints,
        load_ledger,
        unverified,
    )

    stale = unverified(compute_fingerprints(), load_ledger())
    free = e.SWEEP_CAP - len(stale)
    assert free >= 0, (
        f"{len(stale)} unverified keys, SWEEP_CAP {e.SWEEP_CAP}, "
        f"free slots: {free}; the driver would never check {-free} of "
        f"them: {stale}"
    )


@pytest.mark.parametrize(
    "key, codec",
    [
        ("multimodal_decode_jpeg", "_parse_jpeg"),
        ("multimodal_decode_mjpeg", "_parse_jpeg"),
        ("multimodal_decode_png", "decode_png"),
        ("multimodal_image_resize", "decode_png"),
        ("multimodal_image_ahash", "decode_png"),
        ("multimodal_decode_gif", "decode_gif"),
        ("scan_binaryfile_media", "decode_gif"),
        ("multimodal_probe_mp4", "probe_mp4"),
        ("multimodal_decode_wav", "decode_wav_pcm"),
        ("multimodal_audio_stats", "decode_wav_pcm"),
    ],
)
def test_media_key_fingerprint_covers_codec(key, codec):
    """A media key's fingerprint closure must contain the source of
    the codec its workers run, so a codec edit in
    functions/multimodal.py fingers the key and forces a sweep slot.
    Reaching the codecs through an opaque module handle hides them
    from scripts/fingerprints.py."""
    from map_reduce_subnet_spark.functions import multimodal
    from scripts.fingerprints import _closure_sources, _package_obj_source

    srcs: list[str] = []
    _closure_sources(QUERIES[key], set(), srcs)
    assert _package_obj_source(getattr(multimodal, codec)) in srcs


def test_entry_sweep_order():
    """queries() orders the whole registry: the unverified keys first,
    then the verified ones by (ledger round, key), so the driver's
    SWEEP_CAP prefix checks changed programs before it refreshes the
    oldest rows. oracle_sql() follows the same order."""
    import __spark_entry__ as e
    from scripts.fingerprints import (
        compute_fingerprints,
        load_ledger,
        unverified,
    )

    qs, osql = list(e.queries()), list(e.oracle_sql())
    assert sorted(qs) == sorted(QUERIES)
    assert osql == [k for k in qs if k in ORACLES]
    ledger = load_ledger()
    stale = unverified(compute_fingerprints(), ledger)
    assert sorted(qs[: len(stale)]) == stale
    rest = qs[len(stale) :]
    assert rest == sorted(rest, key=lambda k: (ledger[k]["round"], k))


def test_advance_records_only_green_rows(tmp_path, monkeypatch):
    """--advance sets (fingerprint at REV, round N) for each key whose
    row matched on rows, schema and hash; every other key keeps its
    entry, so it stays unverified. REV is a commit of the live package
    in a throwaway repository, so the test needs no git checkout and
    sees uncommitted edits."""
    import json
    import os
    import shutil
    import subprocess

    import scripts.fingerprints as fingerprints
    from scripts.fingerprints import (
        advance,
        compute_fingerprints,
        load_ledger,
    )

    repo = tmp_path / "repo"
    shutil.copytree(
        os.path.join(fingerprints._REPO, fingerprints._PKG),
        repo / fingerprints._PKG,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    git = ["git", "-C", str(repo), "-c", "user.name=t", "-c", "user.email=t"]
    for args in ("init -q", "add -A", "commit -q -m live"):
        subprocess.run([*git, *args.split()], check=True, capture_output=True)
    monkeypatch.setattr(fingerprints, "_REPO", str(repo))

    green, red = sorted(QUERIES)[:2]
    ledger = load_ledger()
    ledger[green] = {"fingerprint": "stale", "round": 1}
    ledger_file = tmp_path / "verified_fingerprints.json"
    ledger_file.write_text(json.dumps(ledger))
    row = {"rows_match": True, "schema_match": True, "hash_match": True}
    rows = tmp_path / "CORRECTNESS_r99.json"
    rows.write_text(
        json.dumps({green: row, red: {**row, "hash_match": False}})
    )

    assert advance(str(rows), "HEAD", str(ledger_file)) == [green]
    after = load_ledger(str(ledger_file))
    assert after[green] == {
        "fingerprint": compute_fingerprints()[green],
        "round": 99,
    }
    del after[green], ledger[green]
    assert after == ledger


def test_entry_sweep_order_ignores_foreign_scripts_package(tmp_path):
    """The driver loads __spark_entry__.py by path from its own cwd, in
    a process that may already hold a `scripts` module of its own: the
    order must still come from the scripts/fingerprints.py beside the
    entry file, so it must not be imported as `scripts.fingerprints`."""
    import json
    import os
    import subprocess
    import sys

    import __spark_entry__ as e

    decoy = tmp_path / "decoy" / "scripts"
    decoy.mkdir(parents=True)
    (decoy / "__init__.py").write_text("")
    (decoy / "fingerprints.py").write_text(
        "def compute_fingerprints():\n"
        "    raise RuntimeError('decoy scripts package imported')\n"
    )
    code = (
        "import importlib.util, json, scripts.fingerprints\n"
        f"spec = importlib.util.spec_from_file_location('e', {e.__file__!r})\n"
        "m = importlib.util.module_from_spec(spec)\n"
        "spec.loader.exec_module(m)\n"
        "print(json.dumps(list(m.queries())))\n"
    )
    path = [str(tmp_path / "decoy"), os.environ.get("PYTHONPATH", "")]
    proc = subprocess.run(
        [sys.executable, "-c", code],
        cwd=tmp_path,
        env={**os.environ, "PYTHONPATH": os.pathsep.join(path)},
        capture_output=True,
        text=True,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert json.loads(proc.stdout.splitlines()[-1]) == list(e.queries())
