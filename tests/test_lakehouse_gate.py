"""Lakehouse semantics of `sources/versioned.py`.

`VersionedTable` mirrors the Delta commit/snapshot/CDC/vacuum contract
in plain parquet plus a commit log. One rehearsal pins the two
properties a table format must give: a pinned-version read that stays
the same after later commits, and the per-key change feed between two
snapshots.
"""

from __future__ import annotations

import pandas as pd

from map_reduce_subnet_spark.sources.versioned import VersionedTable


def _snap(rows):
    return pd.DataFrame(rows, columns=["user_id", "state"])


V0_ROWS = [(1, "a"), (2, "a"), (3, "a"), (4, "a")]
# v1: update user 2, delete user 4, insert user 5
V1_ROWS = [(1, "a"), (2, "b"), (3, "a"), (5, "a")]


def _rehearse_time_travel(read_version, v_first, v_second):
    """Snapshot-isolation assertions: ``read_version`` maps a version
    id to a sorted list of (user_id, state)."""
    first = read_version(v_first)
    second = read_version(v_second)
    assert first == sorted(V0_ROWS), first
    assert second == sorted(V1_ROWS), second
    # the pinned-version read is immutable AFTER later commits — the
    # whole point of time travel; re-read v_first last to prove it
    assert read_version(v_first) == sorted(V0_ROWS)


def _rehearse_change_shape(changes):
    """``changes``: list of (user_id, change_type) between the two
    snapshots — the CDC contract."""
    assert sorted(changes) == [
        (2, "update"),
        (4, "delete"),
        (5, "insert"),
    ], changes


def test_lakehouse_semantics_on_versioned_table(spark, tmp_path):
    vt = VersionedTable(str(tmp_path / "tbl"))
    v1 = vt.commit(spark.createDataFrame(_snap(V0_ROWS)))
    v2 = vt.commit(spark.createDataFrame(_snap(V1_ROWS)))

    def read_version(v):
        return sorted(
            tuple(r) for r in vt.read(spark, v).collect()
        )

    _rehearse_time_travel(read_version, v1, v2)
    ch = vt.changes(spark, ["user_id"], v1, v2).collect()
    _rehearse_change_shape(
        [(r["user_id"], r["_change_type"]) for r in ch]
    )
