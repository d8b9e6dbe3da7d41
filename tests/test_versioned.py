"""Snapshot-versioned tables: time travel, append/overwrite lineage,
atomic-commit invariants."""

from __future__ import annotations

import os

import pytest

from fhir_etl_spark.sinks.versioned import (
    read_snapshot,
    snapshot_history,
    write_snapshot,
)


def _df(spark, ids):
    return spark.createDataFrame([(i, f"row{i}") for i in ids], "id long, s string")


def test_time_travel(spark, tmp_path):
    t = str(tmp_path / "tbl")
    assert write_snapshot(_df(spark, [1, 2]), t, mode="overwrite") == 0
    assert write_snapshot(_df(spark, [3]), t, mode="append") == 1
    assert write_snapshot(_df(spark, [9]), t, mode="overwrite") == 2

    def ids(version=None):
        return {r["id"] for r in read_snapshot(spark, t, version).collect()}

    assert ids(0) == {1, 2}
    assert ids(1) == {1, 2, 3}
    assert ids(2) == {9}
    assert ids() == {9}  # latest

    hist = snapshot_history(t)
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert [h["mode"] for h in hist] == ["overwrite", "append", "overwrite"]
    assert hist[1]["parent"] == 0 and hist[1]["n_data_dirs"] == 2


def test_old_files_never_rewritten(spark, tmp_path):
    """Append commits add directories; existing data files are immutable
    (mtime-stable), so pinned readers stay consistent."""
    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [1]), t)
    data_root = os.path.join(t, "data")
    before = {
        os.path.join(d, f): os.path.getmtime(os.path.join(data_root, d, f))
        for d in os.listdir(data_root)
        for f in os.listdir(os.path.join(data_root, d))
    }
    write_snapshot(_df(spark, [2]), t, mode="append")
    for rel, mtime in before.items():
        assert os.path.getmtime(os.path.join(data_root, rel)) == mtime


def test_concurrent_writer_conflict_is_loud(spark, tmp_path, monkeypatch):
    """Two writers racing to the same version: the exclusive hard-link
    publish makes the loser raise ConcurrentWriteError — never a silent
    clobber of the winner's manifest (VERDICT r04 #6). Provoked
    deterministically by feeding the second writer a stale head listing."""
    import fhir_etl_spark.sinks.versioned as V

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [1]), t)  # v0 (the winner)
    real_versions = V._versions
    monkeypatch.setattr(V, "_versions", lambda p: [])  # stale: table looks empty
    with pytest.raises(V.ConcurrentWriteError):
        write_snapshot(_df(spark, [2]), t)  # races for v0 → EEXIST → loud
    monkeypatch.setattr(V, "_versions", real_versions)
    # the winner's commit is untouched; the loser left only an orphan data dir
    assert {r["id"] for r in read_snapshot(spark, t).collect()} == {1}
    assert [h["version"] for h in snapshot_history(t)] == [0]
    data_dirs = {os.path.join("data", d) for d in os.listdir(os.path.join(t, "data"))}
    assert len(data_dirs - set(V._load_manifest(t, 0)["data_dirs"])) == 1


def test_concurrent_writer_retry_republishes_without_rerunning_job(
    spark, tmp_path, monkeypatch
):
    """max_retries > 0: the losing writer re-reads the head and re-publishes
    the SAME data directory at the next version — optimistic concurrency at
    manifest level only."""
    import fhir_etl_spark.sinks.versioned as V

    t = str(tmp_path / "tbl")
    write_snapshot(_df(spark, [1]), t)  # v0
    real_versions = V._versions
    calls = {"n": 0}

    def stale_once(p):
        calls["n"] += 1
        return [] if calls["n"] == 1 else real_versions(p)

    monkeypatch.setattr(V, "_versions", stale_once)
    v = write_snapshot(_df(spark, [2]), t, mode="append", max_retries=1)
    assert v == 1
    assert {r["id"] for r in read_snapshot(spark, t).collect()} == {1, 2}
    assert snapshot_history(t)[-1]["parent"] == 0


def test_two_threads_racing_appends_both_land(spark, tmp_path):
    """A REAL threaded race: two writers commit concurrently with retries
    enabled. Both must land at distinct versions (order unspecified), the
    history must be linear, and the final table must contain both rows —
    whichever interleaving the scheduler produced."""
    import threading

    from fhir_etl_spark.sinks.versioned import ConcurrentWriteError

    t = str(tmp_path / "tbl")
    barrier = threading.Barrier(2)
    results: dict[int, tuple] = {}

    def writer(tag):
        df = _df(spark, [tag])
        barrier.wait()
        try:
            results[tag] = ("ok", write_snapshot(df, t, mode="append", max_retries=8))
        except ConcurrentWriteError as exc:  # pragma: no cover - 8 retries suffice
            results[tag] = ("conflict", str(exc))

    threads = [threading.Thread(target=writer, args=(tag,)) for tag in (1, 2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    assert all(r[0] == "ok" for r in results.values()), results
    assert {r[1] for r in results.values()} == {0, 1}
    assert {r["id"] for r in read_snapshot(spark, t).collect()} == {1, 2}
    assert [h["version"] for h in snapshot_history(t)] == [0, 1]


def test_errors(spark, tmp_path):
    with pytest.raises(FileNotFoundError):
        read_snapshot(spark, str(tmp_path / "nope"))
    with pytest.raises(ValueError):
        write_snapshot(_df(spark, [1]), str(tmp_path / "t"), mode="merge")


def test_schema_evolution_additive(spark, tmp_path):
    """Append with a NEW nullable column: old files surface it as NULL
    under the evolved manifest schema; time travel to the pre-evolution
    version still shows the old schema; drops/retypes rejected."""
    import pytest
    from pyspark.sql import functions as F

    from fhir_etl_spark.sinks.versioned import read_snapshot, write_snapshot

    table = str(tmp_path / "tbl")
    v0 = write_snapshot(
        spark.createDataFrame([(1, "a")], "id long, s string"), table
    )
    v1 = write_snapshot(
        spark.createDataFrame([(2, "b", 9.5)], "id long, s string, score double"),
        table,
        mode="append",
    )
    evolved = read_snapshot(spark, table, version=v1)
    assert evolved.columns == ["id", "s", "score"]
    got = {r["id"]: r["score"] for r in evolved.collect()}
    assert got == {1: None, 2: 9.5}  # pre-evolution rows NULL-filled
    assert read_snapshot(spark, table, version=v0).columns == ["id", "s"]

    with pytest.raises(ValueError, match="drops column"):
        write_snapshot(
            spark.createDataFrame([(3,)], "id long"), table, mode="append"
        )
    with pytest.raises(ValueError, match="retypes column"):
        write_snapshot(
            spark.createDataFrame(
                [(3, "c", "oops")], "id long, s string, score string"
            ),
            table,
            mode="append",
        )
    # overwrite may change schema freely (a fresh file set)
    v3 = write_snapshot(
        spark.createDataFrame([(9,)], "other long"), table, mode="overwrite"
    )
    assert read_snapshot(spark, table, version=v3).columns == ["other"]


def test_compact_snapshot_reduces_files_and_preserves_content(spark, tmp_path):
    from fhir_etl_spark.sinks.versioned import (
        compact_snapshot,
        read_snapshot,
        snapshot_history,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    for i in range(5):
        write_snapshot(
            spark.range(i * 100, (i + 1) * 100).repartition(4),
            table,
            mode="append" if i else "overwrite",
        )
    before = {r["id"] for r in read_snapshot(spark, table).collect()}
    stats = compact_snapshot(spark, table, target_file_bytes=64 * 1024 * 1024)
    assert stats["compacted"] is True
    assert stats["files_after"] < stats["files_before"] == 20
    after = {r["id"] for r in read_snapshot(spark, table, stats["version"]).collect()}
    assert after == before == set(range(500))
    # the compaction is a normal commit: history grew by one overwrite
    hist = snapshot_history(table)
    assert hist[-1]["mode"] == "overwrite" and hist[-1]["version"] == stats["version"]
    # old snapshots still readable (time travel unbroken)
    assert read_snapshot(spark, table, 0).count() == 100

    # second pass is a no-op: already at/below target file count
    again = compact_snapshot(spark, table, target_file_bytes=64 * 1024 * 1024)
    assert again["compacted"] is False
    assert again["version"] == stats["version"]

    with pytest.raises(ValueError, match="target_file_bytes"):
        compact_snapshot(spark, table, target_file_bytes=0)


def test_compact_snapshot_empty_table_raises(spark, tmp_path):
    from fhir_etl_spark.sinks.versioned import compact_snapshot

    with pytest.raises(FileNotFoundError):
        compact_snapshot(spark, str(tmp_path / "missing"))


def test_compact_snapshot_aborts_on_interleaved_commit(spark, tmp_path):
    """Lost-update guard: an append landing between compaction's read and
    its commit must abort the compaction loudly — publishing would
    silently discard the appended rows (the head-version race alone
    cannot catch this; the late committer just lands at head+1)."""
    from fhir_etl_spark.sinks import versioned as V

    table = str(tmp_path / "t")
    for i in range(4):
        V.write_snapshot(
            spark.range(i * 10, (i + 1) * 10).repartition(3),
            table,
            mode="append" if i else "overwrite",
        )

    real_read = V.read_snapshot

    def read_then_interleave(spark_, path, version=None):
        df = real_read(spark_, path, version)
        # simulate a concurrent appender committing AFTER the read
        V.write_snapshot(spark_.range(1000, 1010), path, mode="append")
        return df

    orig = V.read_snapshot
    V.read_snapshot = read_then_interleave
    try:
        with pytest.raises(V.ConcurrentWriteError, match="derived from snapshot"):
            V.compact_snapshot(spark, table, target_file_bytes=64 * 1024 * 1024)
    finally:
        V.read_snapshot = orig
    # nothing lost: the interleaved rows are on the (new) head
    ids = {r["id"] for r in V.read_snapshot(spark, table).collect()}
    assert set(range(1000, 1010)) <= ids and set(range(40)) <= ids


def test_write_snapshot_require_parent(spark, tmp_path):
    from fhir_etl_spark.sinks.versioned import (
        ConcurrentWriteError,
        write_snapshot,
    )

    table = str(tmp_path / "t")
    v0 = write_snapshot(spark.range(5), table, mode="overwrite")
    # matching parent commits fine
    v1 = write_snapshot(
        spark.range(5, 10), table, mode="append", require_parent=v0
    )
    assert v1 == v0 + 1
    # stale parent aborts even with retries
    with pytest.raises(ConcurrentWriteError, match="derived from snapshot"):
        write_snapshot(
            spark.range(10, 15), table, mode="append",
            require_parent=v0, max_retries=3,
        )
