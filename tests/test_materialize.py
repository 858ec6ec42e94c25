"""Materializer + snapshot/time-travel tests (SURVEY §2.1 write side)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from dbtwiz_spark.materialize import Warehouse


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "wh"))


def _df(spark, rows, schema="k INT, v STRING, partitiondate STRING"):
    return spark.createDataFrame(rows, schema)


def test_write_and_read_table(spark, wh):
    df = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")])
    wh.write_table("t1", df)
    assert wh.read("t1").count() == 2


def test_partitioned_write_with_clustering(spark, wh):
    df = _df(spark, [(i, f"v{i}", f"2024-01-{(i % 3) + 1:02d}") for i in range(30)])
    wh.write_table("t2", df, partition_by="partitiondate", cluster_by=["k"])
    assert wh.read("t2").count() == 30
    # hive partition dirs exist -> partition pruning applies
    assert (wh.path("t2") / "partitiondate=2024-01-01").exists()


def test_insert_overwrite_replaces_only_touched_partitions(spark, wh):
    base = _df(spark, [(1, "old", "2024-01-01"), (2, "old", "2024-01-02")])
    wh.write_table("t3", base, partition_by="partitiondate")
    update = _df(spark, [(3, "new", "2024-01-02")])
    wh.insert_overwrite("t3", update, "partitiondate")
    out = {(r.k, r.v, r.partitiondate) for r in wh.read("t3").collect()}
    assert out == {(1, "old", "2024-01-01"), (3, "new", "2024-01-02")}
    # idempotent: rerun the same interval
    wh.insert_overwrite("t3", update, "partitiondate")
    assert wh.read("t3").count() == 2


def test_merge_upsert(spark, wh):
    wh.write_table("t4", _df(spark, [(1, "a", "d1"), (2, "b", "d1")]))
    wh.merge("t4", _df(spark, [(2, "B", "d2"), (3, "c", "d2")]), unique_key="k")
    out = {(r.k, r.v) for r in wh.read("t4").collect()}
    assert out == {(1, "a"), (2, "B"), (3, "c")}


def test_scd2_validity_intervals(spark, wh):
    day1 = _df(spark, [(1, "alice", "2024-01-01"), (2, "bob", "2024-01-01")])
    wh.scd2_apply("dim", day1, unique_key="k", date_column="partitiondate")
    day2 = _df(spark, [(1, "ALICE", "2024-01-02")])
    wh.scd2_apply("dim", day2, unique_key="k", date_column="partitiondate")
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in wh.read("dim").collect()
    }
    assert (1, "alice", "2024-01-01", "2024-01-02", False) in rows
    assert (1, "ALICE", "2024-01-02", None, True) in rows
    assert (2, "bob", "2024-01-01", None, True) in rows


def test_snapshot_and_restore(spark, wh):
    v1 = _df(spark, [(1, "v1", "d")])
    wh.write_table("t5", v1)
    wh.write_table("t5", _df(spark, [(9, "v2", "d")]))  # snapshots v1 first
    assert wh.read("t5").first().v == "v2"
    snaps = wh.snapshots("t5")
    assert len(snaps) == 1
    assert wh.read_snapshot("t5", int(time.time() * 1000)).first().v == "v1"
    wh.restore("t5", int(time.time() * 1000))
    assert wh.read("t5").first().v == "v1"


def test_time_travel_window_enforced(spark, wh):
    wh.write_table("t6", _df(spark, [(1, "x", "d")]))
    wh.write_table("t6", _df(spark, [(2, "y", "d")]))
    ancient = int(time.time() * 1000) - 8 * 86_400_000
    with pytest.raises(ValueError, match="7-day window"):
        wh.read_snapshot("t6", ancient)


def test_copy_and_delete(spark, wh):
    wh.write_table("src", _df(spark, [(1, "a", "d")]))
    wh.copy_table("src", "dst")
    assert wh.read("dst").count() == 1
    wh.delete_table("dst")
    assert not wh.exists("dst")


def test_expire_snapshots_gc(spark, wh):
    """Snapshot GC honors the 7-day retention (dbtwiz/admin/restore.py:63-70
    window; expiry analog of partition expiration)."""
    import os

    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME

    df = _df(spark, [(1, "a", "2024-01-01")])
    wh.write_table("tg", df, snapshot=False)
    wh.write_table("tg", df, snapshot=True)  # creates one snapshot
    snaps = wh.snapshots("tg")
    assert len(snaps) == 1
    # backdate the snapshot beyond the window by renaming its dir
    old_ms = int(time.time() * 1000) - 8 * 86_400_000
    snap_dir = wh.path("tg") / SNAPSHOT_DIRNAME
    os.rename(snap_dir / str(snaps[0]), snap_dir / str(old_ms))
    assert wh.expire_snapshots("tg") == 1
    assert wh.snapshots("tg") == []


def test_incremental_schema_evolution(spark, wh):
    """on_schema_change: append_new_columns (dbtwiz/model/create.py:466):
    a new column appears in a later interval -> older partitions null-fill;
    a dropped column is re-added as null so partitions stay consistent."""
    v1 = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")])
    wh.insert_overwrite("evo", v1, "partitiondate")
    # later interval adds a column
    v2 = spark.createDataFrame(
        [(3, "c", "2024-01-03", 9.5)],
        "k INT, v STRING, partitiondate STRING, score DOUBLE",
    )
    wh.insert_overwrite("evo", v2, "partitiondate")
    got = {r.partitiondate: (r.k, r.score) for r in wh.read("evo").collect()}
    assert got["2024-01-03"] == (3, 9.5)
    assert got["2024-01-01"][1] is None  # old partition null-fills new column
    # an interval MISSING the evolved column still writes consistently
    v3 = _df(spark, [(4, "d", "2024-01-04")])
    wh.insert_overwrite("evo", v3, "partitiondate")
    got = {r.partitiondate: (r.k, r.score) for r in wh.read("evo").collect()}
    assert got["2024-01-04"] == (4, None)
    assert got["2024-01-03"] == (3, 9.5)
    assert len(got) == 4


def test_partition_scoped_merge(spark, wh):
    """With partition_by, merge rewrites ONLY partitions containing affected
    keys — untouched partition files must remain byte-identical (the 100 TB
    contract: a one-day merge must not rewrite all history)."""
    import glob
    import os

    base = _df(
        spark,
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01"),
         (3, "c", "2024-01-02"), (4, "d", "2024-01-03")],
    )
    wh.merge("pm", base, unique_key="k", partition_by="partitiondate")

    def files(day):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(str(wh.path("pm") / f"partitiondate={day}" / "*.parquet"))
        }

    before_untouched = files("2024-01-03")
    updates = _df(spark, [(2, "B2", "2024-01-01"), (5, "e", "2024-01-04")])
    wh.merge("pm", updates, unique_key="k", partition_by="partitiondate")

    got = {r.k: (r.v, r.partitiondate) for r in wh.read("pm").collect()}
    assert got == {
        1: ("a", "2024-01-01"), 2: ("B2", "2024-01-01"),
        3: ("c", "2024-01-02"), 4: ("d", "2024-01-03"), 5: ("e", "2024-01-04"),
    }
    # the 2024-01-03 partition had no affected keys: files untouched
    assert files("2024-01-03") == before_untouched


def test_merge_partition_move_leaves_no_stale_row(spark, wh):
    """A key whose update MOVES it to a different partition must disappear
    from its old partition — even when the old partition keeps no surviving
    rows (dynamic overwrite alone would never rewrite/empty it)."""
    base = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")])
    wh.merge("mv", base, unique_key="k", partition_by="partitiondate")
    # key 1 moves 01-01 -> 01-05; 01-01 then holds NO rows at all
    wh.merge(
        "mv",
        _df(spark, [(1, "a2", "2024-01-05")]),
        unique_key="k",
        partition_by="partitiondate",
    )
    got = {r.k: (r.v, r.partitiondate) for r in wh.read("mv").collect()}
    assert got == {1: ("a2", "2024-01-05"), 2: ("b", "2024-01-02")}
    # key moves but old partition still has another surviving row ->
    # stays partition-scoped and still correct
    wh.merge(
        "mv",
        _df(
            spark,
            [(2, "b2", "2024-01-06"), (9, "z", "2024-01-02")],
        ),
        unique_key="k",
        partition_by="partitiondate",
    )
    got = {r.k: (r.v, r.partitiondate) for r in wh.read("mv").collect()}
    assert got == {
        1: ("a2", "2024-01-05"),
        2: ("b2", "2024-01-06"),
        9: ("z", "2024-01-02"),
    }


def test_merge_duplicate_keys_collapse_deterministically(spark, wh):
    """Duplicate keys in updates pin ONE survivor by total order, not
    dropDuplicates' arbitrary pick: smallest (v, partitiondate) wins."""
    wh.write_table("dk", _df(spark, [(1, "old", "d0")]))
    dup = _df(spark, [(1, "zzz", "d2"), (1, "aaa", "d1"), (2, "mmm", "d1")])
    wh.merge("dk", dup, unique_key="k")
    got = {r.k: r.v for r in wh.read("dk").collect()}
    assert got == {1: "aaa", 2: "mmm"}
    # repeat from scratch: same survivor every run
    wh.delete_table("dk")
    wh.write_table("dk", _df(spark, [(1, "old", "d0")]))
    wh.merge("dk", dup.repartition(7), unique_key="k")
    assert {r.k: r.v for r in wh.read("dk").collect()} == {1: "aaa", 2: "mmm"}


def test_merge_schema_evolution_append_new_columns(spark, wh):
    """merge() evolves schema like insert_overwrite: a new column in updates
    appears in the table (old rows null-fill) on both the partitioned and
    non-partitioned paths."""
    wh.write_table("me", _df(spark, [(1, "a", "d1")]))
    up = spark.createDataFrame(
        [(2, "b", "d1", 4.5)], "k INT, v STRING, partitiondate STRING, score DOUBLE"
    )
    wh.merge("me", up, unique_key="k")
    got = {r.k: r.score for r in wh.read("me").collect()}
    assert got == {1: None, 2: 4.5}
    # partitioned path
    wh.merge(
        "mep",
        _df(spark, [(1, "a", "2024-01-01")]),
        unique_key="k",
        partition_by="partitiondate",
    )
    up2 = spark.createDataFrame(
        [(1, "a2", "2024-01-01", 7.0)],
        "k INT, v STRING, partitiondate STRING, score DOUBLE",
    )
    wh.merge("mep", up2, unique_key="k", partition_by="partitiondate")
    got = {r.k: (r.v, r.score) for r in wh.read("mep").collect()}
    assert got == {1: ("a2", 7.0)}


def test_scd2_update_restating_existing_date_wins(spark, wh):
    """An update re-stating an existing (key, date) must beat the stored row
    deterministically (precedence rule, not dropDuplicates roulette)."""
    day1 = _df(spark, [(1, "alice", "2024-01-01")])
    wh.scd2_apply("dimw", day1, unique_key="k", date_column="partitiondate")
    restate = _df(spark, [(1, "ALICE-FIXED", "2024-01-01")])
    wh.scd2_apply("dimw", restate, unique_key="k", date_column="partitiondate")
    rows = [
        (r.k, r.v, r.valid_from, r.is_current) for r in wh.read("dimw").collect()
    ]
    assert rows == [(1, "ALICE-FIXED", "2024-01-01", True)]


def test_publish_swap_preserves_data_on_disk(spark, wh):
    """Crash-safe publish: at no point between writes is the table's data
    deleted-without-replacement; after an overwrite the old state lives in
    the snapshot dir on the SAME inodes (zero data copy)."""
    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME

    wh.write_table("cs", _df(spark, [(1, "v1", "d")]))
    inodes = {p.name: p.stat().st_ino for p in wh.path("cs").glob("part-*")}
    assert inodes
    wh.write_table("cs", _df(spark, [(2, "v2", "d")]))  # snapshot=True default
    assert wh.read("cs").first().v == "v2"
    snaps = wh.snapshots("cs")
    assert len(snaps) == 1
    snap_dir = wh.path("cs") / SNAPSHOT_DIRNAME / str(snaps[0])
    assert {n: (snap_dir / n).stat().st_ino for n in inodes} == inodes
    snap_df = spark.read.parquet(str(wh.path("cs") / SNAPSHOT_DIRNAME / str(snaps[0])))
    assert snap_df.first().v == "v1"
    # no orphaned __tmp / __old dirs left behind
    leftovers = [
        p.name
        for p in wh.path("cs").parent.iterdir()
        if "__tmp_" in p.name or "__old_" in p.name
    ]
    assert leftovers == []


def test_backfill_restores_runner_variables():
    """Interval vars must not leak into later non-backfill runs."""
    from datetime import date

    from dbtwiz_spark.backfill import run_backfill

    class FakeRunner:
        def __init__(self):
            self.variables = {"pre": "kept"}
            self.seen = []

        def run(self, selector, exclude=None):
            self.seen.append(dict(self.variables))
            return []

    r = FakeRunner()
    run_backfill(r, "m", date(2024, 1, 1), date(2024, 1, 4), batch_size=2)
    assert len(r.seen) == 2
    assert all(v["is_backfill"] for v in r.seen)
    assert r.variables == {"pre": "kept"}


def test_scd2_rewrite_is_key_scoped(spark, wh):
    """An SCD2 run touching one key must not rewrite partitions that hold
    only other keys' rows."""
    import glob
    import os

    day1 = _df(spark, [(1, "alice", "2024-01-01"), (2, "bob", "2024-02-01")])
    wh.scd2_apply("dim2", day1, unique_key="k", date_column="partitiondate")

    def files(day):
        return {
            p: os.path.getmtime(p)
            for p in glob.glob(
                str(wh.path("dim2") / f"partitiondate={day}" / "*.parquet")
            )
        }

    bob_files = files("2024-02-01")
    day2 = _df(spark, [(1, "ALICE", "2024-03-01")])
    wh.scd2_apply("dim2", day2, unique_key="k", date_column="partitiondate")
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in wh.read("dim2").collect()
    }
    assert (1, "alice", "2024-01-01", "2024-03-01", False) in rows
    assert (1, "ALICE", "2024-03-01", None, True) in rows
    assert (2, "bob", "2024-02-01", None, True) in rows
    # bob's partition had no affected keys -> untouched
    assert files("2024-02-01") == bob_files


def test_migrate_table_with_replacement_view(spark, wh):
    """migrate_table: copy to the new name, leave a view at the old name so
    existing readers keep working (dbtwiz/integrations/bigquery.py:737-801
    backup-then-replace with replacement view)."""
    wh.write_table("legacy", _df(spark, [(1, "a", "d1"), (2, "b", "d2")]))
    wh.migrate_table("legacy", "modern")
    # new physical table
    assert wh.exists("modern")
    assert wh.read("modern").count() == 2
    # old name still readable — as a view over the new table
    assert "legacy" in wh.views
    assert {r.k for r in wh.read("legacy").collect()} == {1, 2}
    # physical dir at the old name is gone
    assert not (wh.path("legacy") / "_SUCCESS").exists()


def test_migrate_table_rolls_back_on_failure(spark, wh, monkeypatch):
    """A failed verify removes the partial copy and leaves the source table
    and name resolution untouched."""
    wh.write_table("keepme", _df(spark, [(1, "a", "d1")]))

    def boom(src, dst):
        wh.write_table(dst, _df(spark, [(9, "x", "d9")]), snapshot=False)
        raise RuntimeError("copy interrupted")

    monkeypatch.setattr(wh, "copy_table", boom)
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="copy interrupted"):
        wh.migrate_table("keepme", "broken")
    assert not wh.exists("broken")
    assert "keepme" not in wh.views  # still a physical table, not a view
    assert wh.read("keepme").count() == 1


def test_merge_and_scd2_with_date_typed_partition_column(spark, wh):
    """Partition-column type inference is disabled, so a DATE-typed partition
    column reads back as STRING; merge/scd2 must align the update's types to
    the live table instead of failing the union (round-2 hardening)."""
    dt = "k INT, v STRING, partitiondate DATE"
    base = spark.createDataFrame([(1, "a", "2024-01-01"), (2, "b", "2024-01-02")],
                                 "k INT, v STRING, partitiondate STRING")
    base = base.withColumn("partitiondate", F.col("partitiondate").cast("date"))
    wh.merge("dtp", base, unique_key="k", partition_by="partitiondate")
    upd = spark.createDataFrame([(2, "B", "2024-01-02")],
                                "k INT, v STRING, partitiondate STRING")
    upd = upd.withColumn("partitiondate", F.col("partitiondate").cast("date"))
    wh.merge("dtp", upd, unique_key="k", partition_by="partitiondate")
    got = {r.k: (r.v, r.partitiondate) for r in wh.read("dtp").collect()}
    assert got == {1: ("a", "2024-01-01"), 2: ("B", "2024-01-02")}

    day1 = spark.createDataFrame([(1, "alice", "2024-01-01")],
                                 "k INT, v STRING, partitiondate STRING")
    day1 = day1.withColumn("partitiondate", F.col("partitiondate").cast("date"))
    wh.scd2_apply("dtd", day1, unique_key="k", date_column="partitiondate")
    day2 = spark.createDataFrame([(1, "ALICE", "2024-01-02")],
                                 "k INT, v STRING, partitiondate STRING")
    day2 = day2.withColumn("partitiondate", F.col("partitiondate").cast("date"))
    wh.scd2_apply("dtd", day2, unique_key="k", date_column="partitiondate")
    # valid_from/valid_to are data columns -> they keep DATE type (only the
    # hive partition dir column reads back as string)
    from datetime import date

    rows = {(r.k, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in wh.read("dtd").collect()}
    assert (1, "alice", date(2024, 1, 1), date(2024, 1, 2), False) in rows
    assert (1, "ALICE", date(2024, 1, 2), None, True) in rows


def test_scd2_preserves_columns_missing_from_updates(spark, wh):
    """An update lacking a column the table has must NOT null that column on
    the affected key's existing history — only the newly appended rows
    null-fill (review fix: base_cols was derived from updates only)."""
    day1 = spark.createDataFrame(
        [(1, "alice", "a@x.io", "2024-01-01")],
        "k INT, v STRING, email STRING, partitiondate STRING",
    )
    wh.scd2_apply("dimcol", day1, unique_key="k", date_column="partitiondate")
    day2 = _df(spark, [(1, "ALICE", "2024-01-02")])  # no email column
    wh.scd2_apply("dimcol", day2, unique_key="k", date_column="partitiondate")
    rows = {r.partitiondate: (r.v, r.email, r.is_current)
            for r in wh.read("dimcol").collect()}
    assert rows["2024-01-01"] == ("alice", "a@x.io", False)  # history intact
    assert rows["2024-01-02"] == ("ALICE", None, True)       # new row null-fills


def test_merge_with_map_column(spark, wh):
    """Rows carrying non-orderable (map) columns must still merge — the
    survivor total order skips them (review fix: Window.orderBy on MapType
    raises)."""
    base = spark.createDataFrame(
        [(1, {"a": "1"}, "d1")], "k INT, props MAP<STRING,STRING>, partitiondate STRING"
    )
    wh.write_table("mm", base)
    upd = spark.createDataFrame(
        [(1, {"b": "2"}, "d2"), (2, {"c": "3"}, "d2")],
        "k INT, props MAP<STRING,STRING>, partitiondate STRING",
    )
    wh.merge("mm", upd, unique_key="k")
    got = {r.k: dict(r.props) for r in wh.read("mm").collect()}
    assert got == {1: {"b": "2"}, 2: {"c": "3"}}


def test_migrated_view_survives_target_rewrite(spark, wh):
    """The replacement view must keep working after the migration target is
    rewritten (review fix: the view SQL reads the target PATH so the file
    listing re-resolves per read, instead of pinning a stale index)."""
    wh.write_table("legacy2", _df(spark, [(1, "v1", "d")]))
    wh.migrate_table("legacy2", "modern2")
    assert wh.read("legacy2").first().v == "v1"
    wh.write_table("modern2", _df(spark, [(2, "v2", "d")]))  # rewrite target
    assert wh.read("legacy2").first().v == "v2"


def test_incremental_time_travel_via_hardlink_snapshot(spark, wh):
    """insert_overwrite(snapshot=True) captures the pre-overwrite state as a
    hardlink tree — incremental tables get the same 7-day time travel as
    full overwrites, with zero data copy."""
    base = _df(spark, [(1, "old", "2024-01-01"), (2, "old", "2024-01-02")])
    wh.insert_overwrite("inc_tt", base, "partitiondate")
    update = _df(spark, [(3, "new", "2024-01-02")])
    wh.insert_overwrite("inc_tt", update, "partitiondate", snapshot=True)
    # live state reflects the overwrite
    live = {(r.k, r.v) for r in wh.read("inc_tt").collect()}
    assert live == {(1, "old"), (3, "new")}
    # the snapshot preserves the FULL pre-overwrite state
    snaps = wh.snapshots("inc_tt")
    assert len(snaps) == 1
    old = {(r.k, r.v) for r in wh.read_snapshot("inc_tt", int(time.time() * 1000)).collect()}
    assert old == {(1, "old"), (2, "old")}
    # restore round-trips
    wh.restore("inc_tt", int(time.time() * 1000))
    assert {(r.k, r.v) for r in wh.read("inc_tt").collect()} == {(1, "old"), (2, "old")}


def test_publish_crash_recovery_restores_orphaned_old(spark, wh, capsys):
    """A crash between 'rename live aside' and 'move tmp into place' leaves
    only <name>__old_<ts> on disk; the next touch must restore it as the
    live table instead of treating the table as never-written (which would
    permanently strand the data and its snapshot history)."""
    wh.write_table("cr", _df(spark, [(1, "a", "2024-01-01")]))
    target = wh.path("cr")
    target.rename(target.with_name("cr__old_1700000000000"))  # simulated crash
    assert wh.exists("cr")  # recovery happens on first touch
    assert "recovered" in capsys.readouterr().out
    assert wh.read("cr").count() == 1
    leftovers = [p.name for p in target.parent.iterdir() if "__old_" in p.name]
    assert leftovers == []
    # a later write on the recovered table publishes normally
    wh.write_table("cr", _df(spark, [(2, "b", "2024-01-01")]))
    assert wh.read("cr").first().v == "b"


def test_schema_sidecar_written_and_used(spark, wh):
    """Write paths store the table's unified schema in _schema.json so reads
    skip mergeSchema's O(files) footer sweep; the sidecar encodes the
    engine's partition-col-reads-as-string contract and follows evolution."""
    from dbtwiz_spark.materialize import SCHEMA_FILENAME

    df = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")])
    wh.write_table("sc", df, partition_by="partitiondate")
    sidecar = wh.path("sc") / SCHEMA_FILENAME
    assert sidecar.exists()
    schema = wh.read("sc").schema
    assert schema["partitiondate"].dataType.simpleString() == "string"
    # evolution: a new column updates the sidecar; old partitions null-fill
    df2 = spark.createDataFrame(
        [(3, "c", "x", "2024-01-03")],
        "k INT, v STRING, extra STRING, partitiondate STRING",
    )
    wh.insert_overwrite("sc", df2, "partitiondate")
    got = wh.read("sc")
    assert "extra" in got.columns
    assert got.filter(F.col("k") == 1).first().extra is None


def test_small_partitioned_write_distributes_across_tasks(spark, tmp_path):
    """_distribute_for_write: a small output must be hash-distributed by the
    partition value (parallel writers), not REBALANCEd — AQE coalesces a
    tiny rebalance into ONE task that opens every hive partition's writer
    serially. Large outputs keep the REBALANCE shape. The explicit task
    count is capped at the core count, and at any shuffle-partition count
    every hive partition gets exactly one file and the table holds the
    same rows."""
    from dbtwiz_spark.materialize import _distribute_for_write

    small = spark.range(100).withColumn("pd", (F.col("id") % 10).cast("string"))
    plan = _distribute_for_write(small, "pd")._jdf.queryExecution().toString()
    assert "RebalancePartitions" not in plan
    assert "RepartitionByExpression" in plan

    cores = spark.sparkContext.defaultParallelism
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    tables = []
    try:
        for n in (1, 7, 64):
            spark.conf.set(key, str(n))
            logical = _distribute_for_write(small, "pd")._jdf.queryExecution().logical()
            assert logical.numPartitions() == min(n, cores)
            wh = Warehouse(spark, str(tmp_path / f"wh{n}"))
            wh.write_table("t", small, partition_by="pd")
            wh.insert_overwrite(
                "t", small.filter("pd IN ('1', '2')").withColumn("id", -F.col("id")), "pd"
            )
            dirs = sorted(wh.path("t").glob("pd=*"))
            assert len(dirs) == 10
            assert [len(list(d.glob("*.parquet"))) for d in dirs] == [1] * 10
            tables.append(sorted(tuple(r) for r in wh.read("t").collect()))
    finally:
        spark.conf.set(key, saved)
    assert len(tables[0]) == 100
    assert tables[0] == tables[1] == tables[2]


class _JobTags:
    """Tags the Spark jobs of each phase with their own job group and reads
    them back from the status tracker. Every ``DataFrameReader.parquet``
    call runs under a ``read:<path>`` group, so a schema-inference job is
    charged to the path it inferred; the caller's phase resumes after."""

    def __init__(self, spark, monkeypatch):
        from pyspark.sql import DataFrameReader

        self.sc = spark.sparkContext
        self.prefix = f"jobtags:{time.time_ns()}"
        self.phase = "start"
        self.reads: list[str] = []
        real = DataFrameReader.parquet

        def parquet(reader, *paths, **kw):
            outer = self.phase
            self.reads.append(str(paths[0]))
            self.set(f"read:{paths[0]}")
            try:
                return real(reader, *paths, **kw)
            finally:
                self.set(outer)

        monkeypatch.setattr(DataFrameReader, "parquet", parquet)

    def set(self, phase: str) -> None:
        self.phase = phase
        self.sc.setJobGroup(f"{self.prefix}:{phase}", phase)

    def jobs(self, phase: str) -> list[int]:
        return list(self.sc.statusTracker().getJobIdsForGroup(f"{self.prefix}:{phase}"))

    def clear(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)


@pytest.mark.parametrize("threads", [1, 2])
def test_table_model_run_job_budget(spark, tmp_path, monkeypatch, threads):
    """A table model's run pays for its own source's schema inference and
    its write plus the audit's count, nothing more: the audit reads with the
    sidecar's schema (no inference job), the published table is never
    counted again, and sources outside the selection's closure are never
    read. At every width the model runs on a pool worker, and its jobs stay
    in the caller's job group."""
    from dbtwiz_spark.manifest import Manifest, Model, Source
    from dbtwiz_spark.runner import Runner

    man = Manifest()
    paths = {}
    for s in ("a", "b", "c"):
        paths[s] = str(tmp_path / f"src_{s}")
        spark.range(20).selectExpr("id", f"'{s}' AS tag").write.parquet(paths[s])
        man.add_source(Source(f"src_{s}", paths[s]))
        man.add_model(Model(f"t_{s}", f"SELECT * FROM {{{{ source('src_{s}') }}}}",
                            materialized="table"))
    wh = Warehouse(spark, str(tmp_path / "wh"))
    tags = _JobTags(spark, monkeypatch)
    store = Warehouse._store_schema

    def store_then_tag(self, *a, **k):
        # write_table stores the sidecar right after the publish swap
        store(self, *a, **k)
        tags.set("published")

    monkeypatch.setattr(Warehouse, "_store_schema", store_then_tag)
    tracker = spark.sparkContext.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    try:
        tags.set("run")
        (res,) = Runner(spark, man, wh).run("t_a", threads=threads)
    finally:
        tags.clear()
    assert (res.status, res.rows) == ("success", 20)
    # the model's write ran under the caller's group: no job of the run,
    # the pool worker's included, escaped into the ungrouped jobs
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    # the tagging sees an inference job: the source the model reads has one
    assert tags.jobs(f"read:{paths['a']}")
    assert tags.jobs(f"read:{paths['b']}") == tags.jobs(f"read:{paths['c']}") == []
    (audit,) = [p for p in tags.reads if "__tmp_" in p]
    assert tags.jobs(f"read:{audit}") == []
    # the write and the audit's count ran before publish, nothing after it
    assert tags.jobs("run")
    assert tags.jobs("published") == []
    assert tags.jobs(f"read:{wh.path('t_a')}") == []


def test_audit_rejects_write_missing_a_part_file(spark, wh, monkeypatch):
    """Write-audit-publish: a part file lost between the write and the
    publish makes the audit's count disagree with the in-write count; the
    write is refused and the live table and its snapshots are untouched."""
    from pathlib import Path

    from pyspark.sql import DataFrameWriter

    wh.write_table("aud", spark.range(100).repartition(4))
    wh.write_table("aud", spark.range(50).repartition(4))
    live = sorted(r.id for r in wh.read("aud").collect())
    snaps = wh.snapshots("aud")
    assert len(snaps) == 1
    real = DataFrameWriter.parquet

    def lossy(writer, path, *a, **k):
        real(writer, path, *a, **k)
        if "__tmp_" in str(path):
            next(Path(path).glob("part-*.parquet")).unlink()

    monkeypatch.setattr(DataFrameWriter, "parquet", lossy)
    with pytest.raises(RuntimeError, match="audit failed"):
        wh.write_table("aud", spark.range(200).repartition(4))
    monkeypatch.undo()
    assert sorted(r.id for r in wh.read("aud").collect()) == live
    assert wh.snapshots("aud") == snaps
    assert sorted(r.id for r in wh.read_snapshot("aud", snaps[0]).collect()) == list(range(100))
    assert not list(wh.path("aud").parent.glob("aud__tmp_*"))


def test_compact_partitioned_merges_small_files(spark, wh):
    """Repeated 1-row overwrites of the same partitions fragment them; a
    selective compact rewrites ONLY fragmented partitions down to one file
    each, preserves every row, and leaves snapshots and pruning intact."""
    base = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02")])
    wh.write_table("tc", base, partition_by="partitiondate")
    # fragment 2024-01-01 the way it happens in production: per-micro-batch
    # appends, one file each (the warehouse's own writes coalesce, so go
    # through a raw append like a streaming sink would)
    for k, v in [(10, "x"), (11, "y")]:
        _df(spark, [(k, v, "2024-01-01")]).write.mode("append").partitionBy(
            "partitiondate"
        ).parquet(str(wh.path("tc")))
    wh.snapshot("tc")
    p1 = wh.path("tc") / "partitiondate=2024-01-01"
    files_before = [f for f in p1.glob("*.parquet")]
    assert len(files_before) >= 2
    rows_before = sorted(tuple(r) for r in wh.read("tc").collect())

    stats = wh.compact("tc", min_files=2)
    assert stats["partitions"] >= 1
    assert stats["files_after"] < stats["files_before"]
    assert len(list(p1.glob("*.parquet"))) == 1
    # untouched partition keeps its single file; data identical
    assert sorted(tuple(r) for r in wh.read("tc").collect()) == rows_before
    # snapshot history survives the rewrite
    assert wh.snapshots("tc")


def test_compact_unpartitioned_and_noop(spark, wh):
    df = _df(spark, [(i, "v", "2024-01-01") for i in range(10)]).repartition(4)
    wh.write_table("tu", df)
    assert len(list(wh.path("tu").glob("*.parquet"))) >= 2
    stats = wh.compact("tu")
    assert stats["files_after"] < stats["files_before"]
    assert wh.read("tu").count() == 10
    # second compact is a no-op
    again = wh.compact("tu")
    assert again["partitions"] == 0


def test_table_rebuild_retires_persisted_view(spark, tmp_path):
    """Review fix: a persisted _views.json entry must not shadow a table
    later rebuilt under the same name (materialization change view→table
    across processes) — write paths retire the view definition."""
    root = str(tmp_path / "wh")
    wh1 = Warehouse(spark, root)
    src = _df(spark, [(1, "a", "2024-01-01")])
    wh1.write_table("src_t", src)
    wh1.read("src_t").createOrReplaceTempView("src_t")
    wh1.create_view("m", "SELECT k, v FROM src_t")
    assert wh1.read("m").count() == 1

    # fresh process: rebuild m as a TABLE with different content
    wh2 = Warehouse(spark, root)
    assert "m" in wh2.views  # persisted registry loaded
    wh2.write_table("m", _df(spark, [(7, "x", "2024-02-01"), (8, "y", "2024-02-01")]))
    assert "m" not in wh2.views
    assert wh2.read("m").count() == 2

    # and the retirement itself persisted: a THIRD process sees the table
    wh3 = Warehouse(spark, root)
    assert "m" not in wh3.views
    assert wh3.read("m").count() == 2


def test_persist_views_merges_with_concurrent_writer(spark, tmp_path):
    """Review fix: _persist_views merges over the on-disk registry instead
    of clobbering it, so a parallel worker's concurrently-added view
    survives this process's whole-file rewrite."""
    root = str(tmp_path / "wh")
    wh_a = Warehouse(spark, root)
    wh_b = Warehouse(spark, root)
    base = _df(spark, [(1, "a", "2024-01-01")])
    wh_a.write_table("base_t", base)
    wh_a.read("base_t").createOrReplaceTempView("base_t")
    wh_a.create_view("view_a", "SELECT k FROM base_t")
    wh_b.create_view("view_b", "SELECT v FROM base_t")
    fresh = Warehouse(spark, root)
    assert {"view_a", "view_b"} <= set(fresh.views)


def test_apply_changes_cdc_semantics(spark, wh):
    """CDC apply: latest event per key wins — U→D deletes, D→U re-inserts,
    two Us keep the later, equal-seq U+D keeps the upsert, inserts land."""
    base = _df(spark, [(1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"),
                       (4, "d", "p2"), (5, "e", "p2")])
    wh.write_table("cdc_t", base, snapshot=False)
    changes = spark.createDataFrame(
        [
            ("U", 1, 1, "a1", "p1"), ("U", 2, 1, "a2", "p1"),  # later U wins
            ("U", 1, 2, "bx", "p1"), ("D", 2, 2, None, "p1"),  # U then D: gone
            ("D", 1, 3, None, "p2"), ("U", 2, 3, "c9", "p2"),  # D then U: back
            ("D", 1, 4, None, "p2"),                            # plain delete
            ("U", 3, 5, "e3", "p2"), ("D", 3, 5, None, "p2"),  # tie: U wins
            ("I", 1, 9, "new", "p3"),                           # insert
        ],
        "op STRING, seq INT, k INT, v STRING, partitiondate STRING",
    )
    wh.apply_changes("cdc_t", changes, unique_key="k")
    got = {r.k: r.v for r in wh.read("cdc_t").collect()}
    assert got == {1: "a2", 3: "c9", 5: "e3", 9: "new"}


def test_apply_changes_partition_scoped_and_emptied(spark, wh):
    """Partitioned CDC apply rewrites only affected partitions; deleting
    every row of a partition triggers the emptied-partition full rewrite
    (dynamic overwrite alone would leave the stale files in place)."""
    base = _df(spark, [(1, "a", "2024-01-01"), (2, "b", "2024-01-02"),
                       (3, "c", "2024-01-03")])
    wh.write_table("cdc_p", base, partition_by="partitiondate", snapshot=False)
    changes = spark.createDataFrame(
        [("U", 1, 1, "a9", "2024-01-01"),
         ("D", 1, 2, None, "2024-01-02")],  # empties the 01-02 partition
        "op STRING, seq INT, k INT, v STRING, partitiondate STRING",
    )
    wh.apply_changes("cdc_p", changes, unique_key="k",
                     partition_by="partitiondate")
    got = {(r.k, r.partitiondate): r.v for r in wh.read("cdc_p").collect()}
    assert got == {(1, "2024-01-01"): "a9", (3, "2024-01-03"): "c"}
    assert not (wh.path("cdc_p") / "partitiondate=2024-01-02").exists() or not any(
        (wh.path("cdc_p") / "partitiondate=2024-01-02").glob("*.parquet"))


def test_apply_changes_creates_missing_table(spark, wh):
    """First batch against a missing table materializes the upserts
    (deletes in the batch are no-ops against nothing)."""
    changes = spark.createDataFrame(
        [("I", 1, 1, "a", "p1"), ("D", 1, 2, None, "p1")],
        "op STRING, seq INT, k INT, v STRING, partitiondate STRING",
    )
    wh.apply_changes("cdc_new", changes, unique_key="k")
    assert {r.k for r in wh.read("cdc_new").collect()} == {1}


def test_unview_not_resurrected_by_stale_process(spark, tmp_path):
    """Review fix: a process holding a stale in-memory copy of a view must
    not resurrect it when persisting unrelated registry edits after
    another process retired it (pending edits apply exactly once)."""
    root = str(tmp_path / "wh")
    wh_a = Warehouse(spark, root)
    wh_a.write_table("src_u", _df(spark, [(1, "a", "d1")]), snapshot=False)
    wh_a.read("src_u").createOrReplaceTempView("src_u")
    wh_a.create_view("m", "SELECT k FROM src_u")

    wh_b = Warehouse(spark, root)   # loads registry incl. 'm'
    wh_a2 = Warehouse(spark, root)  # stale copy also holding 'm'
    # B retires 'm' by rebuilding it as a table
    wh_b.write_table("m", _df(spark, [(7, "x", "d2")]))
    # A2 persists an unrelated view create: must NOT resurrect 'm'
    wh_a2.create_view("other", "SELECT v FROM src_u")
    fresh = Warehouse(spark, root)
    assert "m" not in fresh.views and "other" in fresh.views
    assert fresh.read("m").count() == 1  # the table, not the old view


def test_failed_write_preserves_view_definition(spark, tmp_path):
    """Review fix: the view registry entry is retired only AFTER the
    replacement table publishes — a failed write must leave the view SQL
    intact (it is the only copy)."""
    root = str(tmp_path / "wh")
    wh = Warehouse(spark, root)
    wh.write_table("src_f", _df(spark, [(1, "a", "d1")]), snapshot=False)
    wh.read("src_f").createOrReplaceTempView("src_f")
    wh.create_view("vf", "SELECT k FROM src_f")
    bad = spark.range(3).select(
        F.col("id").alias("k"),
        F.raise_error(F.lit("boom")).alias("v"),
    )
    with pytest.raises(Exception, match="boom"):
        wh.write_table("vf", bad)
    fresh = Warehouse(spark, root)
    assert "vf" in fresh.views  # definition survived the failed write
    assert fresh.read("vf").count() == 1


class _FrozenTime:
    """time-module stand-in whose clock never advances — forces the
    same-millisecond snapshot-id collision that wall clocks only produce
    under rapid successive writes."""

    def __init__(self, ms: int):
        self._s = ms / 1000.0

    def time(self) -> float:
        return self._s


def test_snapshot_ids_unique_within_same_millisecond(spark, wh, monkeypatch):
    """Two snapshots of one table in the same ms must get distinct,
    increasing ids — not FileExistsError (hardlink path) or a
    silent move-into-dir merge (write_table publish path)."""
    import dbtwiz_spark.materialize as mat

    wh.write_table("tsnap", _df(spark, [(1, "a", "d")]))
    frozen = _FrozenTime(int(time.time() * 1000))
    monkeypatch.setattr(mat, "time", frozen)
    s1 = wh.snapshot("tsnap")
    s2 = wh.snapshot("tsnap")
    s3 = wh.snapshot("tsnap")
    assert s1 < s2 < s3
    assert wh.snapshots("tsnap") == [s1, s2, s3]


def test_same_ms_overwrites_keep_all_snapshot_states(spark, wh, monkeypatch):
    """write_table publish allocates the snapshot id past existing ids:
    three same-ms overwrites leave two distinct readable snapshots (v1,
    v2), not one corrupted dir with v1 nested inside it."""
    import dbtwiz_spark.materialize as mat

    frozen = _FrozenTime(int(time.time() * 1000))
    monkeypatch.setattr(mat, "time", frozen)
    for v in ("v1", "v2", "v3"):
        wh.write_table("tms", _df(spark, [(1, v, "d")]))
    assert wh.read("tms").first().v == "v3"
    snaps = wh.snapshots("tms")
    assert len(snaps) == 2
    got = {wh.read_snapshot("tms", s).first().v for s in snaps}
    assert got == {"v1", "v2"}


def test_snapshot_claim_skips_preexisting_slot(spark, wh, monkeypatch):
    """A slot already claimed by a concurrent writer (simulated by
    pre-creating the directory) must bump the id, not raise -- both for a
    direct snapshot() and for the snapshot write_table takes before its
    publish swap: the mkdir claim skips a NON-EMPTY stolen slot and lands
    the outgoing state in the next one, intact."""
    import dbtwiz_spark.materialize as mat

    wh.write_table("trace", _df(spark, [(1, "v1", "d")]))
    frozen = _FrozenTime(int(time.time() * 1000))
    monkeypatch.setattr(mat, "time", frozen)
    snap_root = wh.path("trace") / mat.SNAPSHOT_DIRNAME
    stolen = wh._next_snapshot_ts("trace")
    (snap_root / str(stolen)).mkdir(parents=True)
    sid = wh.snapshot("trace")
    assert sid == stolen + 1
    # publish path: steal the id the overwrite would allocate, non-empty
    stolen2 = sid + 1
    marker = snap_root / str(stolen2)
    marker.mkdir()
    (marker / "racer.txt").write_text("claimed")
    wh.write_table("trace", _df(spark, [(2, "v2", "d")]))
    assert (marker / "racer.txt").exists(), "non-empty slot must survive"
    assert wh.read_snapshot("trace", stolen2 + 1).first().v == "v1"
    assert wh.read("trace").first().v == "v2"
    # publish path: steal with an EMPTY slot — a slot claimed via mkdir by
    # a concurrent snapshot() that has not populated it yet. Two populates
    # sharing one slot would mix two table states, so the mkdir claim
    # must skip it.
    stolen3 = wh._next_snapshot_ts("trace")
    empty = snap_root / str(stolen3)
    empty.mkdir()
    wh.write_table("trace", _df(spark, [(3, "v3", "d")]))
    assert empty.exists() and not any(empty.iterdir()), (
        "empty claimed slot must survive untouched"
    )
    assert wh.read_snapshot("trace", stolen3 + 1).first().v == "v2"
    assert wh.read("trace").first().v == "v3"


def test_publish_crash_at_every_swap_point_loses_no_state(spark, tmp_path):
    """Fault injection over the publish swap: every filesystem rename in
    the write path (Path.rename, shutil.move and os.rename all bottom out
    in os.rename on one filesystem) is crashed once, at each call index.
    After recovery the table must read as EITHER the complete previous
    state or the complete new state -- never empty, mixed, or lost -- and
    the previously committed snapshot id must still be readable."""
    import os

    from dbtwiz_spark.materialize import Warehouse

    def run(crash_at):
        root = tmp_path / f"wh_crash_{crash_at}"
        wh = Warehouse(spark, str(root))
        wh.write_table("t", _df(spark, [(1, "v1", "d")]))
        wh.write_table("t", _df(spark, [(2, "v2", "d")]))  # snapshots v1
        snaps_before = wh.snapshots("t")
        assert len(snaps_before) == 1
        calls = {"n": 0}
        real_rename = os.rename

        def inject(*a, **k):
            calls["n"] += 1
            if crash_at is not None and calls["n"] == crash_at:
                raise RuntimeError("injected crash")
            return real_rename(*a, **k)

        os.rename = inject
        try:
            wh.write_table("t", _df(spark, [(3, "v3", "d")]))
            crashed = False
        except RuntimeError:
            crashed = True
        finally:
            os.rename = real_rename
        wh2 = Warehouse(spark, str(root))
        wh2._recover("t")
        rows = {(r.k, r.v) for r in wh2.read("t").collect()}
        assert rows in ({(2, "v2")}, {(3, "v3")}), f"crash_at={crash_at}: {rows}"
        # the committed v1 snapshot survives every crash point: either
        # still under the live table or parked in the surfaced __old dir
        live_snaps = set(wh2.snapshots("t"))
        parked = list(root.glob("t__old_*/_snapshots/*"))
        surviving = live_snaps | {int(p.name) for p in parked}
        assert set(snaps_before) <= surviving, f"crash_at={crash_at}"
        return calls["n"], crashed

    total, _ = run(None)
    assert total >= 3, f"expected >=3 rename points in the publish, saw {total}"
    for point in range(1, total + 1):
        _, crashed = run(point)
        assert crashed, f"injection at point {point} did not fire"


def test_snapshot_publish_crash_at_every_fs_point(spark, tmp_path, capsys, fs_faults):
    """Fault injection over write_table(snapshot=True) on a populated,
    partitioned table: every link, rename, replace, unlink and rmdir of
    the hardlink snapshot, the publish swap and the __old teardown is
    crashed once, at each call index. After each crash a fresh
    Warehouse's _recover must leave:

    - the table reading exactly the old or exactly the new state;
    - snapshots() listing only complete slots (the committed one, or a
      byte-complete link tree of the outgoing state);
    - the committed snapshot intact, live or under the reported __old;
    - with a zero reclaim age, no partial slot after a second pass."""
    import shutil

    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME, Warehouse

    fns = ("link", "rename", "replace", "unlink", "rmdir")
    rows = {
        v: [(k, v, f"2024-01-0{k}") for k in (1, 2)] for v in ("v1", "v2", "v3")
    }

    def tree(root):
        return {
            str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*"))
            if p.is_file() and SNAPSHOT_DIRNAME not in p.relative_to(root).parts
        }

    seed = tmp_path / "seed"
    wh = Warehouse(spark, str(seed))
    for v in ("v1", "v2"):  # the second write commits a snapshot of v1
        wh.write_table("t", _df(spark, rows[v]), partition_by="partitiondate")
    (committed,) = wh.snapshots("t")
    committed_tree = tree(wh.path("t") / SNAPSHOT_DIRNAME / str(committed))
    outgoing_tree = tree(wh.path("t"))
    new_df = _df(spark, rows["v3"])

    def run(point):
        root = tmp_path / f"p{point}"
        shutil.copytree(seed, root)
        wh = Warehouse(spark, str(root))
        inj = fs_faults(fn_names=fns)
        inj.point = point
        crashed = False
        with inj:
            try:
                wh.write_table("t", new_df, partition_by="partitiondate")
            except fs_faults.Killed:
                crashed = True
        capsys.readouterr()
        wh2 = Warehouse(spark, str(root))
        wh2._recover("t")
        out = capsys.readouterr().out
        got = sorted((r.k, r.v, r.partitiondate) for r in wh2.read("t").collect())
        assert got in (rows["v2"], rows["v3"]), f"point {point}: {got}"
        snap_root = wh2.path("t") / SNAPSHOT_DIRNAME
        for s in wh2.snapshots("t"):
            want = committed_tree if s == committed else outgoing_tree
            assert tree(snap_root / str(s)) == want, f"point {point}: slot {s}"
        homes = [snap_root] + [
            o / SNAPSHOT_DIRNAME for o in sorted(root.glob("t__old_*"))
        ]
        home = next(h for h in homes if (h / str(committed)).is_dir())
        assert tree(home / str(committed)) == committed_tree, f"point {point}"
        assert home == snap_root or home.parent.name in out, f"point {point}"
        wh2.INCOMPLETE_RECLAIM_AGE_S = 0
        wh2._recover("t")
        partial = [p.name for p in snap_root.glob("*/_INCOMPLETE")]
        assert not partial, f"point {point}: partial slots {partial}"
        return inj.calls, crashed

    total, crashed = run(None)
    assert not crashed and total >= 10, total
    for point in range(1, total + 1):
        _, crashed = run(point)
        assert crashed, f"injection at point {point} did not fire"


def test_incomplete_snapshot_slot_is_invisible(spark, wh):
    """A snapshot slot still carrying its _INCOMPLETE marker (crash or
    concurrent writer mid-populate) must not be served by snapshots()/
    read_snapshot — populating a directory is never atomic, so the marker
    unlink is the commit point."""
    import dbtwiz_spark.materialize as mat

    wh.write_table("tinc", _df(spark, [(1, "v1", "d")]))
    wh.write_table("tinc", _df(spark, [(2, "v2", "d")]))  # snapshots v1
    good = wh.snapshots("tinc")
    assert len(good) == 1
    # simulate a crash mid-populate: claimed slot, partial file, marker on
    ts, dst = wh._claim_snapshot_dir("tinc")
    (dst / "part-00000.parquet").write_text("partial garbage")
    assert wh.snapshots("tinc") == good, "incomplete slot must be invisible"
    assert wh.read_snapshot("tinc", ts).first().v == "v1"
    # commit makes it visible
    wh._commit_snapshot_dir(dst)
    assert wh.snapshots("tinc") == good + [ts]


def test_fresh_incomplete_slot_survives_recover(spark, wh, capsys):
    """A YOUNG _INCOMPLETE slot is a populate-in-progress (concurrent
    writer) — _recover must surface it but never touch it."""
    wh.write_table("tfr", _df(spark, [(1, "v", "d")]))
    ts, dst = wh._claim_snapshot_dir("tfr")
    (dst / "part-00000.parquet").write_text("mid-populate")
    assert wh.exists("tfr")  # exists() drives _recover
    assert dst.exists() and (dst / "_INCOMPLETE").exists()
    assert "populate in progress" in capsys.readouterr().out


def test_stale_incomplete_copy_slot_is_deleted(spark, wh, capsys):
    """Crash artifact of the copy/hardlink snapshot path: the slot is a
    partial copy of the still-live table — reclaimed (deleted) once the
    marker is stale and the live table is verified present."""
    wh.write_table("tst", _df(spark, [(1, "v", "d")]))
    ts, dst = wh._claim_snapshot_dir("tst")
    (dst / "part-00000.parquet").write_text("partial copy")
    wh.INCOMPLETE_RECLAIM_AGE_S = 0
    assert wh.exists("tst")
    assert not dst.exists(), "stale partial-copy slot must be reclaimed"
    assert "partial copy of the live table" in capsys.readouterr().out
    # live table untouched, committed snapshot history untouched
    assert wh.read("tst").count() == 1


def test_reclaim_collision_with_unrelated_old_dir_never_raises(spark, wh, capsys):
    """A stale copy-crash slot next to an UNRELATED leftover __old dir
    shares item names with it (both mirror the live table's layout).
    Reclaim must never move anything into the __old dir (renaming a
    directory onto an existing non-empty one raises ENOTEMPTY, and that
    exception escaping _recover would brick exists()/read() for the
    table forever): with a live table verified present, the slot is a
    partial copy and is deleted."""
    import os

    wh.write_table("tcol", _df(spark, [(1, "v", "2024-01-01")]),
                   partition_by="partitiondate")
    # unrelated leftover __old mirroring the live partition layout
    old = wh.path("tcol").parent / "tcol__old_111"
    (old / "partitiondate=2024-01-01").mkdir(parents=True)
    (old / "partitiondate=2024-01-01" / "zz.parquet").write_text("old half")
    # stale copy-crash slot with the SAME partition dir name
    ts, dst = wh._claim_snapshot_dir("tcol")
    (dst / "partitiondate=2024-01-01").mkdir()
    (dst / "partitiondate=2024-01-01" / "aa.parquet").write_text("partial")
    wh.INCOMPLETE_RECLAIM_AGE_S = 0
    assert wh.exists("tcol")  # must not raise
    assert not dst.exists(), "colliding slot is a partial copy — deleted"
    # the unrelated __old inspection copy is untouched
    assert (old / "partitiondate=2024-01-01" / "zz.parquet").read_text() == "old half"
    assert "partial copy of the live table" in capsys.readouterr().out
    assert wh.read("tcol").count() == 1

    # and when nothing anchors reclamation (no live data dir at all), the
    # pass surfaces the slot instead of guessing
    os.rename(old, wh.path("tcol").parent / "inspected")  # tidy


def _assert_foreign_marker_untouched(wh, capsys, fs_faults, table, signature,
                                     siblings):
    """Leave a stale slot of ``table`` whose marker reads ``signature``
    next to the given ``__old`` ``siblings`` ({name suffix: payload}) and
    check that _recover reports it and makes zero filesystem mutations:
    slot payload and siblings stay byte for byte and snapshots() does not
    list the slot."""
    ts, dst = wh._claim_snapshot_dir(table)
    (dst / "_INCOMPLETE").write_text(signature)
    (dst / "part.parquet").write_text("slot payload")
    olds = []
    for suffix, payload in siblings.items():
        old = wh.path(table).parent / f"{table}__old_{suffix}"
        old.mkdir()
        (old / "part.parquet").write_text(payload)
        olds.append(old)
    wh.INCOMPLETE_RECLAIM_AGE_S = 0

    def tree(root):
        return {
            str(p.relative_to(root)): p.read_bytes()
            for p in sorted(root.rglob("*"))
            if p.is_file()
        }

    before = [tree(d) for d in (dst, *olds)]
    capsys.readouterr()
    inj = fs_faults(fn_names=("link", "rename", "replace", "unlink", "rmdir", "mkdir"))
    with inj:
        wh._recover(table)
    assert inj.calls == 0, f"marker {signature!r}: {inj.calls} fs mutations"
    assert [tree(d) for d in (dst, *olds)] == before
    assert ts not in wh.snapshots(table)
    out = capsys.readouterr().out
    assert f"marker {signature!r}" in out and "inspect manually" in out


@pytest.mark.parametrize("signature", ["", "garbage"])
def test_reclaim_reports_foreign_marker_untouched(
    spark, wh, capsys, fs_faults, signature
):
    """Reclaim has two remedies, ``copy`` and ``expire``. Any other marker
    (the empty marker older trees wrote, or garbage) is reported and left
    in place, even on a stale slot next to an __old sibling."""
    wh.write_table("tfm", _df(spark, [(1, "v1", "d")]))
    _assert_foreign_marker_untouched(
        wh, capsys, fs_faults, "tfm", signature, {"7": "sibling payload"}
    )


def test_stale_incomplete_publish_slot_reunites_with_old_dir(
    spark, wh, capsys, fs_faults
):
    """A stale ``publish-move:`` slot (written by older trees' item-by-item
    publish) next to the __old sibling its marker records is no longer
    reunited with it: write_table snapshots through the hardlink walk and
    reclaim only reports the foreign marker, moving nothing."""
    wh.write_table("tpu", _df(spark, [(1, "v1", "d")]))
    _assert_foreign_marker_untouched(
        wh, capsys, fs_faults, "tpu", "publish-move:tpu__old_99",
        {"99": "half in old"},
    )
    assert wh.read("tpu").count() == 1


def test_reclaim_reunites_with_recorded_origin_not_newest_old(
    spark, wh, capsys, fs_faults
):
    """A stale ``publish-move:`` slot whose recorded origin coexists with a
    NEWER unrelated __old dir: neither sibling is touched and the slot is
    reported, not routed into either."""
    wh.write_table("tor", _df(spark, [(1, "v1", "d")]))
    _assert_foreign_marker_untouched(
        wh, capsys, fs_faults, "tor", "publish-move:tor__old_100",
        {"100": "half in origin", "999": "unrelated state"},
    )


def test_reclaim_surfaces_slot_when_recorded_origin_gone(
    spark, wh, capsys, fs_faults
):
    """A stale ``publish-move:`` slot whose recorded sibling no longer
    exists is surfaced for manual inspection: never moved into an
    unrelated __old dir and never deleted."""
    wh.write_table("tgo", _df(spark, [(1, "v1", "d")]))
    _assert_foreign_marker_untouched(
        wh, capsys, fs_faults, "tgo", "publish-move:tgo__old_5",
        {"777": "unrelated"},
    )


def test_active_populate_not_reclaimed_by_stale_marker(spark, wh, capsys):
    """Round-9 ADVICE: staleness must track slot WRITE ACTIVITY, not the
    marker's claim-time mtime — a >1h link walk of a big table keeps
    landing files (fresh parent-dir mtimes) while its marker mtime never
    moves. A slot whose marker is ancient but whose tree shows fresh
    activity must survive the reclaim pass."""
    import os as _os

    wh.write_table("tact", _df(spark, [(1, "v1", "d")]))
    ts, dst = wh._claim_snapshot_dir("tact")
    ancient = 1_000_000.0
    _os.utime(dst / "_INCOMPLETE", (ancient, ancient))
    # in-flight link walk: a fresh directory entry just landed
    sub = dst / "partitiondate=d"
    sub.mkdir()
    (sub / "part-0.parquet").write_text("still copying")
    wh.INCOMPLETE_RECLAIM_AGE_S = 3600
    assert wh.exists("tact")
    assert dst.exists() and (dst / "_INCOMPLETE").exists(), (
        "fresh write activity must shield the slot from reclamation"
    )
    assert "populate in progress" in capsys.readouterr().out


def test_stale_empty_unmarked_slot_invisible_and_removed(spark, wh, capsys):
    """A claim that died between mkdir and its marker write (or a reclaim
    that died between marker unlink and rmdir) leaves an empty unmarked
    slot: snapshots() must never serve it as a committed snapshot, and a
    stale one is dropped by the reclaim pass."""
    wh.write_table("tem", _df(spark, [(1, "v1", "d")]))
    wh.write_table("tem", _df(spark, [(2, "v2", "d")]))  # snapshots v1
    good = wh.snapshots("tem")
    husk = wh.path("tem") / "_snapshots" / str(good[-1] + 50)
    husk.mkdir()
    assert wh.snapshots("tem") == good, "empty unmarked slot must be invisible"
    wh.INCOMPLETE_RECLAIM_AGE_S = 0
    assert wh.exists("tem")
    assert not husk.exists(), "stale empty husk must be removed"
    assert "empty crashed snapshot slot" in capsys.readouterr().out
    # a FRESH empty dir (a concurrent claim pre-marker) survives
    wh.INCOMPLETE_RECLAIM_AGE_S = 3600
    husk2 = wh.path("tem") / "_snapshots" / str(good[-1] + 60)
    husk2.mkdir()
    assert wh.exists("tem")
    assert husk2.exists()


def test_committed_slots_untouched_by_reclaim(spark, wh):
    """Reclamation only ever touches slots still carrying _INCOMPLETE —
    committed snapshot history survives a reclaim pass verbatim."""
    wh.write_table("tcm", _df(spark, [(1, "v1", "d")]))
    wh.write_table("tcm", _df(spark, [(2, "v2", "d")]))  # snapshots v1
    good = wh.snapshots("tcm")
    wh.INCOMPLETE_RECLAIM_AGE_S = 0
    assert wh.exists("tcm")
    assert wh.snapshots("tcm") == good
    assert wh.read_snapshot("tcm", good[0]).first().v == "v1"


def test_scd2_invalidate_hard_deletes(spark, wh):
    """dbt snapshot invalidate_hard_deletes: keys absent from the new
    source snapshot get their OPEN interval closed at the run date;
    history rows, surviving keys, and already-closed intervals are
    untouched; the call is idempotent and reports the closed count."""
    day1 = _df(
        spark,
        [(1, "alice", "2024-01-01"), (2, "bob", "2024-01-01"),
         (3, "carol", "2024-01-01")],
    )
    wh.scd2_apply("dimhd", day1, unique_key="k", date_column="partitiondate")
    day2 = _df(spark, [(1, "ALICE", "2024-01-02")])
    wh.scd2_apply("dimhd", day2, unique_key="k", date_column="partitiondate")
    # bob vanished from the source; alice + carol remain
    still = _df(spark, [(1, "x", "y"), (3, "x", "y")]).select("k")
    n = wh.scd2_invalidate_deletes(
        "dimhd", still, unique_key="k", date_column="partitiondate",
        as_of="2024-01-03",
    )
    assert n == 1
    rows = {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in wh.read("dimhd").collect()
    }
    assert (2, "bob", "2024-01-01", "2024-01-03", False) in rows
    assert (1, "alice", "2024-01-01", "2024-01-02", False) in rows  # history
    assert (1, "ALICE", "2024-01-02", None, True) in rows
    assert (3, "carol", "2024-01-01", None, True) in rows
    # idempotent: bob is no longer current, so nothing more closes
    assert wh.scd2_invalidate_deletes(
        "dimhd", still, unique_key="k", date_column="partitiondate",
        as_of="2024-01-04",
    ) == 0
    assert (2, "bob", "2024-01-01", "2024-01-03", False) in {
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in wh.read("dimhd").collect()
    }


def test_expire_snapshots_gc_keeps_time_travel_on_survivors(spark, wh):
    """Snapshot GC parity with the reference's 7-day restore window
    (dbtwiz/admin/restore.py:63-70): expiring snapshots past the window
    must leave scan-time-travel AND snapshot-diff fully working on the
    survivors — GC removes history, never the ability to use what
    remains (VERDICT r8 item 6)."""
    for i, v in enumerate(["v1", "v2", "v3", "v4"]):
        wh.write_table("tgc", _df(spark, [(i, v, "d")]))
    snaps = wh.snapshots("tgc")  # v1, v2, v3 states parked by overwrites
    assert len(snaps) == 3
    sroot = wh.path("tgc") / "_snapshots"
    # age the two oldest past the restore window (ids are epoch-ms)
    aged = []
    for s in snaps[:2]:
        old_id = s - 8 * 86_400_000
        (sroot / str(s)).rename(sroot / str(old_id))
        aged.append(old_id)
    assert wh.expire_snapshots("tgc") == 2
    survivors = wh.snapshots("tgc")
    assert survivors == [snaps[2]], "in-window snapshot must survive GC"
    # scan-time-travel still works on the survivor: latest <= now is v3
    assert (
        wh.read_snapshot("tgc", at_ms=int(time.time() * 1000)).first().v
        == "v3"
    )
    # snapshot-diff across survivor vs live still works post-GC
    old_rows = {r.v for r in wh.read_snapshot("tgc", survivors[0]).collect()}
    new_rows = {r.v for r in wh.read("tgc").collect()}
    assert old_rows == {"v3"} and new_rows == {"v4"}
    # the expired ids are unreachable: outside the window by construction
    with pytest.raises(ValueError):
        wh.read_snapshot("tgc", aged[0])
    # GC is idempotent
    assert wh.expire_snapshots("tgc") == 0


def test_expire_crash_mid_delete_is_invisible_and_finished(spark, wh, fs_faults):
    """Fault injection over expire_snapshots' teardown: the slot is
    marked before any delete and the marker goes last, so at EVERY crash
    point the half-deleted snapshot is invisible to snapshots()/
    read_snapshot, and the next recovery pass finishes the expiry."""
    def build(tag):
        t = f"tex{tag}"
        wh.write_table(t, _df(spark, [(1, "v1", "d")]))
        wh.write_table(t, _df(spark, [(2, "v2", "d")]))  # snapshots v1
        snaps = wh.snapshots(t)
        assert len(snaps) == 1
        sroot = wh.path(t) / "_snapshots"
        old_id = snaps[0] - 8 * 86_400_000
        (sroot / str(snaps[0])).rename(sroot / str(old_id))
        return t

    # dry run: count fs mutations of one expiry (shared harness)
    t = build("dry")
    inj = fs_faults(fn_names=("unlink", "rmdir"))
    with inj:
        assert wh.expire_snapshots(t) == 1
    total = inj.calls
    assert total >= 2  # at least payload + marker + rmdir

    for point in range(1, total + 1):
        t = build(f"p{point}")
        inj = fs_faults(fn_names=("unlink", "rmdir"))
        inj.point = point
        crashed = False
        with inj:
            try:
                wh.expire_snapshots(t)
            except fs_faults.Killed:
                crashed = True
        assert crashed, f"injection at {point} did not fire"
        # the half-deleted snapshot is never listable
        assert wh.snapshots(t) == [], f"point {point}: crashed slot served"
        # recovery finishes the expiry (exists() drives _recover)
        wh.INCOMPLETE_RECLAIM_AGE_S = 0
        assert wh.exists(t)
        leftover = [
            p
            for p in (wh.path(t) / "_snapshots").iterdir()
            if p.is_dir() and any(p.iterdir())
        ]
        assert leftover == [], f"point {point}: {leftover}"
        assert wh.read(t).first().v == "v2"
        wh.INCOMPLETE_RECLAIM_AGE_S = 3600


def test_concurrent_claim_commit_list_recover_stress(spark, wh):
    """Thread-interleaving stress over the snapshot-slot lifecycle (pure
    filesystem — no Spark jobs): one thread claims/populates/commits
    slots, one hammers _recover, one hammers snapshots(). Invariants:
    no call ever raises, a listed slot is NEVER empty or mid-populate,
    and every committed slot survives (recover must not eat live work).
    This pins the races the reclaim code reasons about — the mkdir claim,
    marker-before-content visibility, and the listing's tolerance of
    concurrently vanishing slots — under real interleavings."""
    import threading

    t = "tstress"
    live = wh.path(t)
    live.mkdir(parents=True)
    (live / "_SUCCESS").write_text("")
    (live / "part-0.parquet").write_text("live data")

    errors: list = []
    committed: list[int] = []
    stop = threading.Event()

    def claimer():
        try:
            for i in range(150):
                ts, dst = wh._claim_snapshot_dir(t)
                (dst / "part-0.parquet").write_text(f"snap {i}")
                wh._commit_snapshot_dir(dst)
                committed.append(ts)
        except Exception as e:  # noqa: BLE001
            errors.append(("claimer", e))
        finally:
            stop.set()

    def recoverer():
        while not stop.is_set():
            try:
                wh._recover(t)
            except Exception as e:  # noqa: BLE001
                errors.append(("recover", e))
                return

    def lister():
        while not stop.is_set():
            try:
                for s in wh.snapshots(t):
                    slot = live / "_snapshots" / str(s)
                    try:
                        entries = {p.name for p in slot.iterdir()}
                    except OSError:
                        continue  # fully vanished between list and check: fine
                    if "_INCOMPLETE" in entries:
                        errors.append(("lister", f"slot {s} listed while marked"))
                        return
                    if not entries:
                        errors.append(("lister", f"slot {s} listed while empty"))
                        return
            except Exception as e:  # noqa: BLE001
                errors.append(("lister", e))
                return

    threads = [
        threading.Thread(target=claimer),
        threading.Thread(target=recoverer),
        threading.Thread(target=lister),
        threading.Thread(target=lister),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=120)
    # a hang in claim/recover/list is exactly the bug class this test
    # exists to catch — a timed-out join must FAIL, not pass vacuously
    assert not any(th.is_alive() for th in threads), "stress threads hung"
    assert not errors, errors[:3]
    # every committed slot survived the concurrent recover passes
    final = set(wh.snapshots(t))
    missing = [s for s in committed if s not in final]
    assert not missing, f"recover ate committed slots: {missing[:5]}"


def test_recover_restore_race_loser_is_benign(spark, wh):
    """Two concurrent readers can both see a missing live dir and race
    the __old restore rename; the loser's rename must not raise out of
    exists()/read() — it re-checks and proceeds when the winner already
    restored, and surfaces (never deletes, never raises) when the
    restore genuinely failed."""
    import os

    wh.write_table("trr", _df(spark, [(1, "v1", "d")]))
    parent = wh.path("trr").parent
    # crash shape: live dir renamed aside, publish never completed
    os.rename(wh.path("trr"), parent / "trr__old_7")

    real_rename = os.rename
    calls = {"n": 0}

    def losing_rename(src, dst, *a, **k):
        # simulate the race: the WINNER restores the dir between the
        # loser's exists()-check and its rename, so the loser's rename
        # finds the source gone and the destination present
        calls["n"] += 1
        real_rename(src, dst, *a, **k)
        raise OSError("simulated lost restore race")

    os.rename = losing_rename
    try:
        assert wh.exists("trr"), "loser must see the winner's restore"
    finally:
        os.rename = real_rename
    assert calls["n"] == 1
    assert wh.read("trr").first().v == "v1"

    # restore genuinely failing (target still missing): surfaced, no raise
    os.rename(wh.path("trr"), parent / "trr__old_8")

    def failing_rename(src, dst, *a, **k):
        raise OSError("disk said no")

    os.rename = failing_rename
    try:
        assert not wh.exists("trr")  # missing but NOT an exception
    finally:
        os.rename = real_rename
    assert (parent / "trr__old_8").exists(), "data must stay where it is"
    assert wh.exists("trr")  # next recover (working fs) restores it
    assert wh.read("trr").first().v == "v1"


def test_schema_sidecar_atomic_and_reader_tolerant(spark, wh):
    """The schema sidecar is rewritten via temp+atomic-replace: a
    concurrent reader can never see a truncated json, snapshots that
    hardlinked the old sidecar keep their copy, and a reader whose
    read_text fails falls back to mergeSchema instead of raising."""
    import os

    wh.write_table("tsc", _df(spark, [(1, "a", "d")]))
    p = wh.path("tsc") / "_schema.json"
    old_inode = p.stat().st_ino
    old_text = p.read_text()
    # hardlink like a zero-copy snapshot would (outside the live dir —
    # the publish swap replaces the live dir wholesale)
    link = wh.path("tsc").parent / "schema_linked.json"
    os.link(p, link)
    # schema evolution rewrites the sidecar
    wh.write_table(
        "tsc",
        spark.createDataFrame(
            [(2, "b", "d", 1.5)], "k INT, v STRING, partitiondate STRING, s DOUBLE"
        ),
    )
    assert link.stat().st_ino == old_inode, "hardlinked copy must keep old inode"
    assert link.read_text() == old_text, "linked copy must keep old content"
    assert p.stat().st_ino != old_inode, "live sidecar must be a new inode"
    assert "s" in [f.name for f in wh.read("tsc").schema.fields]
    assert not (wh.path("tsc") / "_schema.json.tmp").exists()
    # reader tolerance: a failing read_text degrades to mergeSchema
    from pathlib import Path as _P

    real = _P.read_text

    def failing(self, *a, **k):
        if self.name == "_schema.json":
            raise OSError("transient")
        return real(self, *a, **k)

    _P.read_text = failing
    try:
        assert wh.read("tsc").count() == 1  # mergeSchema fallback path
    finally:
        _P.read_text = real


def test_corrupt_view_registry_parked_not_bricked(spark, tmp_path, capsys):
    """A torn _views.json can neither raise out of every command nor be
    silently discarded (it holds the only copy of each view's SQL): it
    is parked aside for manual recovery, loudly, and the warehouse
    starts with an empty registry."""
    root = tmp_path / "whv"
    root.mkdir()
    (root / "_views.json").write_text('{"v1": "SELECT 1')  # torn mid-write
    wh = Warehouse(spark, str(root))
    assert wh.views == {}
    out = capsys.readouterr().out
    assert "parked" in out
    parked = list(root.glob("_views.json.corrupt.*"))
    assert len(parked) == 1
    assert parked[0].read_text() == '{"v1": "SELECT 1'
    assert not (root / "_views.json").exists(), (
        "torn original must be cleared once the copy is parked"
    )
    # a SECOND open does not park another copy
    Warehouse(spark, str(root))
    assert len(list(root.glob("_views.json.corrupt.*"))) == 1
    # the warehouse works: a new view registers and persists cleanly
    wh.create_view("v2", "SELECT 2 AS x")
    wh.write_table(
        "t", spark.createDataFrame([(1,)], "k INT")
    )  # triggers a registry persist via _unview bookkeeping
    wh2 = Warehouse(spark, str(root))
    assert "v2" in wh2.views


def test_view_registry_thread_stress(spark, tmp_path):
    """A --threads build materializes models from Runner.run's thread
    pool, and two concurrent view materializations used to
    stage the registry under ONE '.tmp.<pid>' name — interleaved bytes,
    torn registry, SQL lost to a .corrupt parking file. Under the
    Warehouse view lock + per-call staging names, N threads creating
    views concurrently must land ALL definitions in a valid registry
    with nothing parked."""
    import json
    import threading

    root = tmp_path / "whts"
    wh = Warehouse(spark, str(root))
    errs: list = []

    def create(i):
        try:
            wh.create_view(f"view_ts_{i}", f"SELECT {i} AS x")
        except Exception as e:  # noqa: BLE001 — collected for the assert
            errs.append(e)

    threads = [threading.Thread(target=create, args=(i,)) for i in range(24)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, f"concurrent create_view failed: {errs!r}"
    assert not list(root.glob("_views.json.corrupt.*")), (
        "a parked registry means a write tore under concurrency"
    )
    stored = json.loads((root / "_views.json").read_text())
    assert {f"view_ts_{i}" for i in range(24)} <= set(stored), (
        "every thread's view definition must survive the concurrent persists"
    )
    # a fresh process (new Warehouse) sees them all
    wh2 = Warehouse(spark, str(root))
    assert {f"view_ts_{i}" for i in range(24)} <= set(wh2.views)


def test_crashed_marker_staging_never_corrupts_slot_state(spark, wh):
    """The _INCOMPLETE marker is written atomically, with the staging
    file parked in the snapshots ROOT — never inside the slot, whose own
    content is the commit protocol. A crash between staging and replace
    must therefore leave (a) claim crash: an empty husk slot that
    snapshots() skips and reclaim eventually removes, and (b) expire
    crash: the committed slot fully VISIBLE (an in-slot stray would hide
    a restorable snapshot forever — round-10 review find). The orphaned
    root stray is swept once stale."""
    import os as _os

    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME

    wh.write_table("tms", _df(spark, [(1, "a", "2024-01-01")]))
    wh.write_table("tms", _df(spark, [(2, "b", "2024-01-02")]))
    committed = wh.snapshots("tms")
    assert committed
    snaps = wh.path("tms") / SNAPSHOT_DIRNAME

    # (b) expire crash: committed slots + an orphaned staging stray in
    # the root — every committed snapshot stays listed
    stray = snaps / "_INCOMPLETE.tmp.123.456.7"
    stray.write_text("expire")
    assert wh.snapshots("tms") == committed, (
        "a root staging stray must never hide committed snapshots"
    )

    # (a) claim crash: empty slot + the stray; invisible, then reclaimed
    husk = snaps / "9999999999999"
    husk.mkdir()
    assert wh.snapshots("tms") == committed
    ancient = time.time() - 7200
    _os.utime(husk, (ancient, ancient))
    _os.utime(stray, (ancient, ancient))
    wh._recover("tms")
    assert not husk.exists(), "stale empty husk slot must be reclaimed"
    assert not stray.exists(), (
        "stale orphaned marker staging file must be swept by the pass"
    )
    assert wh.snapshots("tms") == committed

    # a FRESH stray (concurrent claim in flight) survives the pass
    fresh = snaps / "_INCOMPLETE.tmp.42.43.44"
    fresh.write_text("copy")
    wh._recover("tms")
    assert fresh.exists(), "a fresh in-flight staging file is not ours"


def test_snapshots_propagates_transient_oserror(spark, wh):
    """snapshots() tolerates a slot VANISHING (concurrent reclaim) but a
    transient EMFILE/EIO must propagate: swallowing it would silently
    drop a committed snapshot and let read_snapshot serve an older era
    as 'latest <= at_ms' (round-9 ADVICE)."""
    import errno
    from pathlib import Path as _P

    wh.write_table("tso", _df(spark, [(1, "a", "2024-01-01")]))
    wh.write_table("tso", _df(spark, [(2, "b", "2024-01-02")]))
    snaps = wh.snapshots("tso")
    assert snaps  # at least the first state was snapshotted

    real_iterdir = _P.iterdir

    def flaky(self):
        if self.name == str(snaps[0]):
            raise OSError(errno.EMFILE, "too many open files")
        return real_iterdir(self)

    _P.iterdir = flaky
    try:
        with pytest.raises(OSError):
            wh.snapshots("tso")
    finally:
        _P.iterdir = real_iterdir
    assert wh.snapshots("tso") == snaps  # healthy again after the hiccup


def test_slot_activity_freshness_early_exit(spark, wh, tmp_path):
    """The fresh/stale verdict must not walk the whole slot tree once ANY
    timestamp at/past the threshold is seen — a large slot parked as
    'inspect manually' would otherwise tax every exists()/read() with
    O(directories) stats forever (round-9 ADVICE). A fresh MARKER alone
    must decide without touching os.walk at all."""
    import os as _os

    slot = tmp_path / "slotx"
    slot.mkdir()
    marker = slot / "_INCOMPLETE"
    marker.write_text("copy")
    for i in range(5):
        (slot / f"f{i}").write_text("x")

    real_walk = _os.walk

    def no_walk(*a, **k):
        raise AssertionError("fresh marker must short-circuit the tree walk")

    _os.walk = no_walk
    try:
        got = Warehouse._slot_activity_mtime(
            slot, marker, fresh_after=time.time() - 3600
        )
    finally:
        _os.walk = real_walk
    assert got >= time.time() - 60

    # with no threshold (the default, fresh_after=inf) nothing can
    # early-exit: the walk must still visit every directory and return
    # the TRUE maximum across the marker and the slot's directories
    sub = slot / "partitiondate=d"
    sub.mkdir()
    (sub / "f").write_text("x")
    _os.utime(slot, (0, 0))
    expected = max(p.stat().st_mtime for p in (marker, slot, sub))
    assert expected == sub.stat().st_mtime
    got = Warehouse._slot_activity_mtime(slot, marker)
    assert got == pytest.approx(expected), (
        "default call must walk the full tree for the true maximum"
    )


def test_legacy_views_staging_orphans_swept(spark, tmp_path):
    """Pre-round-10 registry staging was `_views.tmp.<pid>` — a prefix
    the target-keyed sweep (`_views.json.tmp.*`) never matches. The
    persist path must sweep those legacy crash orphans explicitly; a
    fresh one (in-flight concurrent writer) survives."""
    import os as _os
    import time as _time

    root = tmp_path / "whl"
    root.mkdir()
    stale = root / "_views.tmp.4242"
    stale.write_text('{"half": ')
    ancient = _time.time() - 7200
    _os.utime(stale, (ancient, ancient))
    fresh = root / "_views.tmp.4343"
    fresh.write_text("{}")
    user_file = root / "_views.tmp.notes"  # not digits-only: never ours
    user_file.write_text("keep me")
    _os.utime(user_file, (ancient, ancient))

    wh = Warehouse(spark, str(root))
    wh.create_view("v", "SELECT 1 AS x")
    assert not stale.exists(), "legacy stale staging orphan must be swept"
    assert fresh.exists(), "fresh staging sibling is a concurrent writer's"
    assert user_file.exists(), "non-digit suffixes are not ours to delete"


def test_expire_marker_write_never_resurrects_deleted_slot(spark, wh):
    """A concurrent sweep can delete a slot between this sweep's
    snapshots() listing and its marker write: the write must FAIL (slot
    existence is protocol state), never mkdir the slot back to life and
    double-count the expiry (round-10 review find)."""
    import shutil as _shutil

    from dbtwiz_spark.materialize import SNAPSHOT_DIRNAME

    wh.write_table("tex", _df(spark, [(1, "a", "d")]))
    wh.write_table("tex", _df(spark, [(2, "b", "d")]))
    snaps = wh.snapshots("tex")
    assert len(snaps) == 1

    real_list = type(wh).snapshots

    def listing_then_delete(self, name):
        out = real_list(self, name)
        # simulate the concurrent sweep landing right after the listing
        for s in out:
            _shutil.rmtree(self.path(name) / SNAPSHOT_DIRNAME / str(s))
        return out

    type(wh).snapshots = listing_then_delete
    try:
        n = wh.expire_snapshots("tex", older_than_days=0)
    finally:
        type(wh).snapshots = real_list
    assert n == 0, "an already-gone slot is not ours to count"
    gone = wh.path("tex") / SNAPSHOT_DIRNAME / str(snaps[0])
    assert not gone.exists(), "marker write must not resurrect the slot"
    assert not list(
        (wh.path("tex") / SNAPSHOT_DIRNAME).glob("_INCOMPLETE.tmp.*")
    ), "failed replace must clean its own staging file"


def test_concurrent_expiry_stress_counts_each_slot_at_most_once(spark, wh):
    """Thread-interleaving stress adding EXPIRY to the slot lifecycle:
    one thread claims/commits snapshots, two race expire_snapshots
    sweeps against it (cutoff = now, everything expirable), plus a
    recover thread and a listing validator. Invariants: nothing raises,
    a listed slot is never marked or empty, the expiry sweeps NEVER
    count more deletions than commits (the round-10 resurrect race
    double-counted a concurrently-deleted slot after mkdir'ing it back
    to life), and after quiescence a final sweep drains every slot."""
    import threading

    t = "tstressx"
    live = wh.path(t)
    live.mkdir(parents=True)
    (live / "_SUCCESS").write_text("")
    (live / "part-0.parquet").write_text("live data")
    # default INCOMPLETE_RECLAIM_AGE_S stays: the 1h age gate is what
    # protects IN-FLIGHT claims from the concurrent recover thread —
    # zeroing it here would make recovery eat mid-populate slots by
    # design, a test artifact, not an engine race

    errors: list = []
    committed: list[int] = []
    expired_counts: list[int] = []
    stop = threading.Event()

    def claimer():
        try:
            for i in range(120):
                ts, dst = wh._claim_snapshot_dir(t)
                (dst / "part-0.parquet").write_text(f"snap {i}")
                wh._commit_snapshot_dir(dst)
                committed.append(ts)
        except Exception as e:  # noqa: BLE001
            errors.append(("claimer", e))
        finally:
            stop.set()

    def expirer():
        while not stop.is_set():
            try:
                expired_counts.append(wh.expire_snapshots(t, older_than_days=0))
            except Exception as e:  # noqa: BLE001
                errors.append(("expire", e))
                return

    def recoverer():
        while not stop.is_set():
            try:
                wh._recover(t)
            except Exception as e:  # noqa: BLE001
                errors.append(("recover", e))
                return

    def lister():
        while not stop.is_set():
            try:
                for s in wh.snapshots(t):
                    slot = live / "_snapshots" / str(s)
                    try:
                        entries = {p.name for p in slot.iterdir()}
                    except OSError:
                        continue
                    # between the listing and this re-read a slot may
                    # legitimately become expire-marked, then empty
                    # (marker-last teardown), then gone — all benign
                    # post-listing transitions of a concurrent expiry.
                    # The SOUND two-read invariant is: a listed slot
                    # never carries a CLAIM signature (claims only ever
                    # mark fresh slots snapshots() must hide; expiry is
                    # the only writer that marks a committed slot)
                    marks = [n for n in entries if n.startswith("_INCOMPLETE")]
                    if marks:
                        try:
                            sig = (slot / "_INCOMPLETE").read_text().strip()
                        except OSError:
                            continue  # marker vanished: teardown finished
                        if sig != "expire":
                            errors.append(
                                ("lister", f"slot {s} listed while claim-marked")
                            )
                            return
            except Exception as e:  # noqa: BLE001
                errors.append(("lister", e))
                return

    threads = [
        threading.Thread(target=claimer),
        threading.Thread(target=expirer),
        threading.Thread(target=expirer),
        threading.Thread(target=recoverer),
        threading.Thread(target=lister),
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=180)
    assert not any(th.is_alive() for th in threads), "stress threads hung"
    assert not errors, errors[:3]
    # drain: recovery finishes any contested teardown, a final quiet
    # sweep expires the remainder
    wh._recover(t)
    expired_counts.append(wh.expire_snapshots(t, older_than_days=0))
    wh._recover(t)
    assert wh.snapshots(t) == [], "final sweep must drain every slot"
    total = sum(expired_counts)
    assert total <= len(committed), (
        f"expiry counted {total} deletions for {len(committed)} commits — "
        "a slot was double-counted (the resurrect race)"
    )
    # live table untouched throughout
    assert (live / "part-0.parquet").read_text() == "live data"
