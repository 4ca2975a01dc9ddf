"""operators.multisnapshot — one atomic commit across N tables:
cross-table consistency, incremental append with carry-forward,
crash-invisibility."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from sports_stats_data_pipeline_spark.operators.multisnapshot import (
    list_group_snapshots,
    read_group_table,
    write_group_snapshot,
)


def _docs(spark, n, tag):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(tag).alias("body")
    )


def _embs(spark, n, scale):
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id") * scale, F.lit(scale)).alias("vec"),
    )


def test_cross_table_consistency_and_time_travel(spark, tmp_path):
    root = str(tmp_path / "grp")
    v1 = write_group_snapshot(
        {"docs": _docs(spark, 10, "a"), "embs": _embs(spark, 10, 1)}, root
    )
    v2 = write_group_snapshot(
        {"docs": _docs(spark, 20, "b"), "embs": _embs(spark, 20, 2)}, root
    )
    assert (v1, v2) == (1, 2)
    # a version is ONE consistent cut across tables
    assert read_group_table(spark, root, "docs", 1).count() == 10
    assert read_group_table(spark, root, "embs", 1).count() == 10
    assert read_group_table(spark, root, "docs").count() == 20  # latest
    rows = read_group_table(spark, root, "docs", 1).collect()
    assert all(r["body"] == "a" for r in rows)


def test_append_carries_untouched_tables_forward(spark, tmp_path):
    root = str(tmp_path / "grp")
    write_group_snapshot(
        {"docs": _docs(spark, 10, "a"), "embs": _embs(spark, 10, 1)}, root
    )
    # incremental publish touches ONLY docs; embs must carry forward
    v2 = write_group_snapshot(
        {"docs": _docs(spark, 5, "delta")}, root, mode="append"
    )
    assert read_group_table(spark, root, "docs", v2).count() == 15
    assert read_group_table(spark, root, "embs", v2).count() == 10
    meta = list_group_snapshots(root)
    assert meta[-1]["tables"]["docs"]["count"] == 15
    assert meta[-1]["tables"]["embs"]["count"] == 10


def test_append_schema_mismatch_refused(spark, tmp_path):
    root = str(tmp_path / "grp")
    write_group_snapshot({"docs": _docs(spark, 4, "a")}, root)
    bad = spark.range(2).select(F.col("id").alias("other"))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_group_snapshot({"docs": bad}, root, mode="append")
    # the refused batch left no new committed version
    assert [m["version"] for m in list_group_snapshots(root)] == [1]


def test_uncommitted_data_invisible(spark, tmp_path):
    root = str(tmp_path / "grp")
    write_group_snapshot(
        {"docs": _docs(spark, 6, "a"), "embs": _embs(spark, 6, 1)}, root
    )
    # simulate a crash AFTER data write, BEFORE manifest publish
    orphan = os.path.join(root, "docs", "data", "v9")
    _docs(spark, 3, "crash").write.parquet(orphan)
    assert read_group_table(spark, root, "docs").count() == 6  # invisible


def test_mid_commit_failure_cleans_all_written_dirs(spark, tmp_path):
    """ADVICE r6: a failure on the SECOND table of a commit must remove
    the FIRST table's just-written v<k> dir too — no orphans left
    behind."""
    root = str(tmp_path / "grp")
    write_group_snapshot(
        {"docs": _docs(spark, 4, "a"), "embs": _embs(spark, 4, 1)}, root
    )
    # dict order is insertion order: docs writes fine, embs mismatches
    bad_embs = spark.range(2).select(F.col("id").alias("other"))
    with pytest.raises(ValueError, match="schema mismatch"):
        write_group_snapshot(
            {"docs": _docs(spark, 3, "b"), "embs": bad_embs},
            root,
            mode="append",
        )
    # NO v2 data dir survives for either table
    assert not os.path.exists(os.path.join(root, "docs", "data", "v2"))
    assert not os.path.exists(os.path.join(root, "embs", "data", "v2"))
    assert [m["version"] for m in list_group_snapshots(root)] == [1]
    assert read_group_table(spark, root, "docs").count() == 4


def test_concurrent_commit_loser_raises_atomically(spark, tmp_path):
    """The manifest commit is one os.link — a second committer of the
    same version raises FileExistsError and its data dirs are cleaned,
    while the winner's committed data is untouched."""
    root = str(tmp_path / "grp")
    write_group_snapshot({"docs": _docs(spark, 5, "winner")}, root)
    # simulate the race: the loser computed its version from a STALE
    # listing taken before the winner's v2 manifest landed
    import json

    from sports_stats_data_pipeline_spark.operators import multisnapshot

    m2 = os.path.join(root, "_snapshots", "v2.json")
    with open(m2, "w") as fh:
        json.dump({"version": 2, "mode": "overwrite", "tables": {}}, fh)
    real_versions = multisnapshot._versions
    multisnapshot._versions = lambda r: [1]  # stale pre-race view
    try:
        with pytest.raises(FileExistsError, match="concurrent"):
            write_group_snapshot({"docs": _docs(spark, 3, "loser")}, root)
    finally:
        multisnapshot._versions = real_versions
    # loser's data dir cleaned; winner's v1 data intact
    assert not os.path.exists(os.path.join(root, "docs", "data", "v2"))
    assert read_group_table(spark, root, "docs", 1).count() == 5


def test_commit_falls_back_to_rename_without_hardlinks(
    spark, tmp_path, monkeypatch
):
    """Round-8 advice fix: filesystems without hard links (some FUSE /
    object-store mounts) refuse os.link with EPERM/ENOTSUP — the commit
    must fall back to exists-check + rename (weaker same-version race
    guarantee, documented) instead of failing every snapshot; a
    committed same-version manifest still loses loudly, and a real
    unrelated OSError still propagates (without leaking the tmp
    manifest)."""
    import errno

    from sports_stats_data_pipeline_spark.operators import multisnapshot

    def no_link(src, dst, **kw):
        raise OSError(errno.ENOTSUP, "hard links not supported", src)

    monkeypatch.setattr(multisnapshot.os, "link", no_link)
    root = str(tmp_path / "grp")
    v1 = write_group_snapshot({"docs": _docs(spark, 4, "a")}, root)
    assert v1 == 1
    assert read_group_table(spark, root, "docs", 1).count() == 4
    # the fallback's exists-check still rejects a committed version:
    # same race shape as the hard-link test — the loser's version
    # comes from a stale listing, the v2 MANIFEST already exists
    import json

    m2 = os.path.join(root, "_snapshots", "v2.json")
    with open(m2, "w") as fh:
        json.dump({"version": 2, "mode": "overwrite", "tables": {}}, fh)
    with pytest.MonkeyPatch.context() as stale:
        stale.setattr(multisnapshot, "_versions", lambda r: [1])
        with pytest.raises(FileExistsError, match="concurrent"):
            write_group_snapshot({"docs": _docs(spark, 2, "b")}, root)
    os.remove(m2)

    # an OSError outside the no-hardlink set must propagate, and the
    # tmp manifest must not be left behind in _snapshots/
    def eio_link(src, dst, **kw):
        raise OSError(errno.EIO, "io error", src)

    monkeypatch.setattr(multisnapshot.os, "link", eio_link)
    with pytest.raises(OSError, match="io error"):
        write_group_snapshot({"docs": _docs(spark, 2, "c")}, root)
    leftovers = [
        f
        for f in os.listdir(os.path.join(root, "_snapshots"))
        if ".tmp." in f
    ]
    assert leftovers == [], leftovers


def test_random_op_sequences_match_dict_model(spark, tmp_path):
    """Model-based check (round 7): random overwrite/append sequences
    against a plain-dict model of "what each version contains". After
    EVERY op, every version of every table must read back exactly the
    model's rows — which pins carried-forward file lists and version
    visibility matching the manifest set exactly."""
    import random

    for seed in (0, 1, 2):
        rng = random.Random(seed)
        root = str(tmp_path / f"grp{seed}")
        model: dict[int, dict[str, list]] = {}
        versions: list[int] = []
        counter = 0
        for step in range(8):
            op = (
                rng.choice(["overwrite", "append", "append"])
                if versions
                else "overwrite"
            )
            tabs = rng.sample(["a", "b", "c"], rng.randint(1, 3))
            new_rows = {}
            dfs = {}
            for t in tabs:
                rows = [
                    (counter + i, f"{t}{step}")
                    for i in range(rng.randint(1, 4))
                ]
                counter += 100
                new_rows[t] = rows
                dfs[t] = spark.createDataFrame(rows, "id long, val string")
            v = write_group_snapshot(dfs, root, mode=op)
            if op == "overwrite":
                model[v] = {t: sorted(new_rows[t]) for t in tabs}
            else:
                prev = model[versions[-1]]
                cur = {t: list(r) for t, r in prev.items()}
                for t in tabs:
                    cur[t] = sorted(cur.get(t, []) + new_rows[t])
                model[v] = cur
            versions.append(v)
            for v in versions:
                for t, rows in model[v].items():
                    got = sorted(
                        (r["id"], r["val"])
                        for r in read_group_table(
                            spark, root, t, version=v
                        ).collect()
                    )
                    assert got == rows, (seed, step, v, t)


def test_adopt_path_commits_by_reference(spark, tmp_path):
    """A path-valued table is ADOPTED: data files hard-link into the
    versioned layout (same inode — no rewrite), the manifest count
    comes from parquet footers, reads and time travel behave exactly
    as a DataFrame-committed table, and append/overwrite semantics
    compose. A later rewrite of the SOURCE dir must not affect the
    committed version (link, not reference-in-place)."""
    root = str(tmp_path / "grp")
    src = str(tmp_path / "zmart")
    _docs(spark, 7, "z").write.parquet(src)

    v1 = write_group_snapshot(
        {"mart": src, "dim": _docs(spark, 3, "d")}, root
    )
    m = read_group_table(spark, root, "mart", version=v1)
    assert m.count() == 7
    assert {r["body"] for r in m.collect()} == {"z"}
    # manifest count taken from footers, not a Spark job
    assert list_group_snapshots(root)[0]["tables"]["mart"]["count"] == 7
    # hard link: same inode as the source file (copy fallback aside)
    src_files = sorted(
        f for f in os.listdir(src) if f.endswith(".parquet")
    )
    data_dir = os.path.join(root, "mart", "data", "v1")
    linked = sorted(
        f for f in os.listdir(data_dir) if f.endswith(".parquet")
    )
    assert linked == src_files
    assert os.stat(os.path.join(src, src_files[0])).st_ino == os.stat(
        os.path.join(data_dir, linked[0])
    ).st_ino

    # overwriting the source later must not disturb the committed v1
    import shutil

    shutil.rmtree(src)
    _docs(spark, 2, "other").write.parquet(src)
    assert read_group_table(spark, root, "mart", version=v1).count() == 7

    # append mode: adopted files extend the previous list
    v2 = write_group_snapshot({"mart": src}, root, mode="append",
                              spark=spark)
    assert read_group_table(spark, root, "mart", version=v2).count() == 9

    # all-path commit without spark= is refused with a clear error
    with pytest.raises(ValueError, match="pass spark="):
        write_group_snapshot({"mart": src}, str(tmp_path / "g2"))

    # empty adopt dir is refused — and the refusal leaves NO orphan
    # v-dir behind (source validated before the version dir exists), so
    # a corrected retry of the same version succeeds instead of dying
    # on FileExistsError
    empty = str(tmp_path / "empty")
    os.makedirs(empty)
    g3 = str(tmp_path / "g3")
    with pytest.raises(ValueError, match="no parquet data files"):
        write_group_snapshot(
            {"dim": _docs(spark, 1, "d"), "mart": empty}, g3
        )
    assert not os.path.exists(os.path.join(g3, "mart", "data", "v1"))
    assert not os.path.exists(os.path.join(g3, "dim", "data", "v1"))
    assert write_group_snapshot(
        {"dim": _docs(spark, 1, "d"), "mart": src}, g3
    ) == 1
