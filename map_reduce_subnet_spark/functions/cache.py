"""Fixture artifacts: build once, serve from storage.

Several operators own a derived INDEX INPUT that a real deployment
builds once and then serves from storage: MinHash signature and pair
tables, the dedup kill-list, trained centroids, PQ codes, IVF
inverted lists, synthetic media tables, the month-partitioned and
bucketed fact layouts. Re-deriving them per invocation would time the
build, not the query. An artifact is always an index input, never a
query answer: caching a query's result keyed on fixture data would
time nothing.

Key = fixture + code. ``fixture_key`` hashes the absolute ``sf_dir``,
the size and mtime of every ``*.parquet`` in it, and one digest of the
package's ``.py`` sources (``code_digest``, computed once per
process). A regenerated fixture or ANY package code change misses
once and rebuilds, so an artifact built by old code is never served.
Name parts that carry builder parameters (``kmeans{k}x{iters}``) stay
in the name. Stale directories of old fixtures or old code are left
in the temp dir; nothing deletes them, since a concurrent process
running other code may still be reading them.

Publish is atomic. ``artifact`` writes to a sibling staging directory
and renames it into place. A directory under the final name is
therefore always complete, and a staging directory is never read. A
writer that loses a concurrent race deletes its staging directory and
reads the winner's artifact, which is identical: every builder is
deterministic given its fixture (seeded hashes, decimal-exact
arithmetic).
"""

from __future__ import annotations

import functools
import glob
import hashlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_PACKAGE_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@functools.cache
def code_digest() -> str:
    """md5 over the package's ``.py`` sources (relative path + bytes)."""
    h = hashlib.md5()
    for root, dirs, files in os.walk(_PACKAGE_DIR):
        dirs.sort()
        for name in sorted(f for f in files if f.endswith(".py")):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, _PACKAGE_DIR).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def fixture_key(sf_dir: str) -> str:
    """Short hex key of (fixture identity, package code)."""
    stamps = []
    for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
        st = os.stat(path)
        stamps.append(f"{os.path.basename(path)}:{st.st_size}:{st.st_mtime_ns}")
    blob = "|".join([os.path.abspath(sf_dir), *stamps, code_digest()])
    return hashlib.md5(blob.encode()).hexdigest()[:12]


def artifact_path(sf_dir: str, name: str) -> str:
    """Where artifact ``name`` of fixture ``sf_dir`` lives."""
    return os.path.join(tempfile.gettempdir(), f"mrs_{name}_{fixture_key(sf_dir)}")


def _complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def artifact(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    build: Callable[[], DataFrame],
    schema: str | None = None,
    partition_by: str | None = None,
) -> DataFrame:
    """Read artifact ``name`` of ``sf_dir``, building and publishing
    ``build()`` as parquet first if it is missing. ``schema`` is the
    read schema; ``partition_by`` writes one directory per value."""
    path = artifact_path(sf_dir, name)
    if not _complete(path):
        stage = f"{path}.staging-{uuid.uuid4().hex[:8]}"
        writer = build().write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(stage)
        try:
            os.rename(stage, path)
        except OSError:
            # lost the race: the winner published the identical artifact
            shutil.rmtree(stage, ignore_errors=True)
            if not _complete(path):
                raise
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(path)
