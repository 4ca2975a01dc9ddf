"""Crash-recovery contract of the sink protocols (operators.sinks):
a crash at ANY point between the staging write and the final cleanup
must leave a state from which recover_sink restores a complete sink —
previously merged rows are never lost. The replace protocol
(stage→rename-aside→promote) restores the old or the new sink whole;
the append protocol keeps every old row plus whole moved part files.
"""

from __future__ import annotations

import os

import pytest

from sports_stats_data_pipeline_spark.operators.sinks import (
    append_staging,
    promote_staging,
    recover_sink,
)


def _write(spark, path: str, ids: list[int], parts: int = 1) -> None:
    spark.createDataFrame([(i,) for i in ids], "event_id long").repartition(
        parts
    ).write.mode("overwrite").parquet(path)


def _parts(path: str) -> list[str]:
    return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))


def _ids(spark, path: str) -> set[int]:
    return {r["event_id"] for r in spark.read.parquet(path).collect()}


def test_promote_happy_path(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2])
    _write(spark, sink + ".staging", [1, 2, 3])
    promote_staging(sink)
    assert _ids(spark, sink) == {1, 2, 3}
    assert not os.path.exists(sink + ".old")
    assert not os.path.exists(sink + ".staging")


def test_recover_from_crash_between_renames(spark, tmp_path):
    # live was renamed aside, staging (complete) not yet promoted.
    sink = str(tmp_path / "sink")
    _write(spark, sink + ".old", [1, 2])
    _write(spark, sink + ".staging", [1, 2, 3])
    recover_sink(sink)
    assert _ids(spark, sink) == {1, 2, 3}
    assert not os.path.exists(sink + ".old")
    assert not os.path.exists(sink + ".staging")


def test_recover_from_crash_before_promote_cleanup(spark, tmp_path):
    # staging promoted, .old not yet removed: live is the newer state.
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2, 3])
    _write(spark, sink + ".old", [1, 2])
    recover_sink(sink)
    assert _ids(spark, sink) == {1, 2, 3}
    assert not os.path.exists(sink + ".old")


def test_recover_from_incomplete_staging_write(spark, tmp_path):
    # crash mid-staging-write (live untouched): staging is garbage.
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2])
    os.makedirs(sink + ".staging")
    with open(sink + ".staging/part-partial", "w") as f:
        f.write("truncated")
    recover_sink(sink)
    assert _ids(spark, sink) == {1, 2}
    assert not os.path.exists(sink + ".staging")


def test_recover_from_crash_mid_rename_aside(spark, tmp_path):
    # only .old exists (staging promoted then crashed? impossible —
    # protocol promotes before cleanup; this models a crash where the
    # staging dir was already consumed): .old must be restored.
    sink = str(tmp_path / "sink")
    _write(spark, sink + ".old", [1, 2])
    recover_sink(sink)
    assert _ids(spark, sink) == {1, 2}
    assert not os.path.exists(sink + ".old")


def test_append_moves_parts_under_prefix(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2])
    before = _parts(sink)
    _write(spark, sink + ".staging", [3, 4, 5, 6], parts=2)
    append_staging(sink, "r1_")
    assert _ids(spark, sink) == {1, 2, 3, 4, 5, 6}
    added = sorted(set(_parts(sink)) - set(before))
    assert len(added) == 2 and all(f.startswith("r1_") for f in added)
    assert not os.path.exists(sink + ".staging")


def test_append_of_zero_rows_leaves_file_list_unchanged(spark, tmp_path):
    # an empty write still leaves one schema-only part file; moving it
    # would grow the sink by one file per no-op run.
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2])
    before = _parts(sink)
    _write(spark, sink + ".staging", [])
    assert _parts(sink + ".staging")
    append_staging(sink, "r1_")
    assert _parts(sink) == before
    assert _ids(spark, sink) == {1, 2}
    assert not os.path.exists(sink + ".staging")


def test_recover_from_crash_mid_append(spark, tmp_path, monkeypatch):
    # the rename fails after 1 of 3 part files has moved: the live sink
    # keeps every old row plus the whole moved file, and recovery drops
    # the leftover staging dir.
    sink = str(tmp_path / "sink")
    _write(spark, sink, [1, 2])
    _write(spark, sink + ".staging", list(range(10, 40)), parts=3)
    assert len(_parts(sink + ".staging")) == 3
    real_rename, moved = os.rename, []

    def crash_after_one(src, dst):
        if moved:
            raise OSError("injected crash")
        real_rename(src, dst)
        moved.append(dst)

    monkeypatch.setattr(os, "rename", crash_after_one)
    with pytest.raises(OSError, match="injected crash"):
        append_staging(sink, "r1_")
    monkeypatch.undo()
    recover_sink(sink)
    assert not os.path.exists(sink + ".staging")
    got = _ids(spark, sink)
    assert {1, 2} < got < {1, 2} | set(range(10, 40))
    assert len(got) == 2 + spark.read.parquet(moved[0]).count()
