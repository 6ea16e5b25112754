"""Derived-table sync (plans/derived.sync_derived_table): incremental
materialized-view maintenance over the snapshot-table changelog. The
pinned invariant throughout: after any sequence of upstream mutations
and syncs, derived.read() == transform(upstream.read()) recomputed
from scratch — while each sync does only O(delta) work and the cursor
rides the derived table's own commit summary (atomic exactly-once)."""

from __future__ import annotations

import json
import shutil

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.plans.derived import sync_derived_table
from fscrawler_spark.plans.snapshot_table import SnapshotTable

SCHEMA = "conv_id string, turn_idx int, text string"
KEYS = ("conv_id", "turn_idx")


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.concat(F.lit("c"), (F.col("id") % 8).cast("string")).alias("conv_id"),
        (F.col("id") / 8).cast("int").alias("turn_idx"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )


def _transform(df):
    """Row-wise map + FILTER: uppercase the text, keep only conv c0-c3.
    The filter makes update-transitions interesting (a row updated out
    of the filter must vanish downstream)."""
    return df.filter(F.col("conv_id") < "c4").select(
        "conv_id", "turn_idx", F.upper(F.col("text")).alias("up")
    )


def _equiv(spark, up: SnapshotTable, dv: SnapshotTable, fn=_transform):
    got = sorted(map(tuple, dv.read(spark).select("conv_id", "turn_idx", "up").collect()))
    want = sorted(map(tuple, fn(up.read(spark)).select("conv_id", "turn_idx", "up").collect()))
    assert got == want


def _tables(spark, tmp_path):
    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv = SnapshotTable(str(tmp_path / "dv"))
    return up, dv


def test_bootstrap_then_delta_equivalence(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "bootstrap" and r["upstream_snapshot"] == 1
    _equiv(spark, up, dv)
    # upstream mutates: update inside filter, insert inside + outside,
    # delete inside
    up.upsert(
        spark,
        _df(spark, [("c0", 0, "edited"), ("c2", 9, "born"), ("c7", 9, "outside")]),
        keys=KEYS,
    )
    up.delete_rows(spark, _df(spark, [("c1", 0, None)]).select(*KEYS), keys=KEYS)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "delta"
    assert r["upstream_from"] == 1 and r["upstream_snapshot"] == 3
    assert r["rows_upserted"] == 2  # c0+c2; c7 is outside the filter
    # deletes = the upstream delete (c1,0) ONLY: the filter-excluded
    # INSERT (c7,9) was absent at the cursor snapshot, so it cannot be
    # stale downstream and must not drive a pointless file rewrite
    assert r["keys_deleted"] == 1
    assert r["files_rewritten"] < len(dv.files())  # stats-pruned, not a rewrite
    _equiv(spark, up, dv)
    row = {r2["conv_id"]: r2["up"] for r2 in dv.read(spark).collect()}
    assert row["c0"] == "EDITED"


def test_filter_transition_deletes_stale_row(spark, tmp_path):
    """A row UPDATED out of the transform's filter must disappear from
    the derived table (postimage key absent from transform output)."""
    up, dv = _tables(spark, tmp_path)

    def fn(df):
        return df.filter(~F.col("text").startswith("drop")).select(
            "conv_id", "turn_idx", F.upper(F.col("text")).alias("up")
        )

    sync_derived_table(spark, up, dv, fn, keys=KEYS)
    assert dv.read(spark).count() == 40
    up.upsert(spark, _df(spark, [("c0", 0, "drop me")]), keys=KEYS)
    r = sync_derived_table(spark, up, dv, fn, keys=KEYS)
    assert r["mode"] == "delta" and r["keys_deleted"] == 1
    assert dv.read(spark).count() == 39
    _equiv(spark, up, dv, fn)
    # ...and updated BACK into the filter it reappears
    up.upsert(spark, _df(spark, [("c0", 0, "kept again")]), keys=KEYS)
    sync_derived_table(spark, up, dv, fn, keys=KEYS)
    assert dv.read(spark).count() == 40
    _equiv(spark, up, dv, fn)


def test_noop_and_cursor_advance(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "noop"
    assert dv.current_id() == 1  # no empty commits
    # compaction-only upstream range: nothing to apply, but the cursor
    # must advance (O(metadata) commit) so the range is never re-diffed
    up.append(spark, _df(spark, [("c9", 0, "x")]))  # outside filter
    up.compact(spark, target_file_bytes=1 << 30)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "cursor-advance"
    assert r["files_rewritten"] == 0
    assert dv.manifest()["derived_from_snapshot"] == up.current_id()
    assert sync_derived_table(spark, up, dv, _transform, keys=KEYS)["mode"] == "noop"
    _equiv(spark, up, dv)


def test_cursor_rides_commit_summary(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    up.upsert(spark, _df(spark, [("c0", 0, "v2")]), keys=KEYS)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    last = dv.history()[-1]["summary"]
    assert last["derived_from_snapshot"] == up.current_id()
    assert last["derived_of_uuid"] == up.table_uuid()
    assert last["derived_of_root"] == up.root


def test_external_commit_breaks_correspondence(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    # an external writer commits to the derived table: its CURRENT
    # manifest no longer carries the cursor -> refuse, force rebuilds
    dv.append(spark, _transform(_df(spark, [("c0", 5, "rogue")])))
    up.upsert(spark, _df(spark, [("c1", 1, "v2")]), keys=KEYS)
    with pytest.raises(ValueError, match="no sync cursor"):
        sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS, force_bootstrap=True)
    assert r["mode"] == "bootstrap" and r["bootstrap_reason"] == "forced"
    _equiv(spark, up, dv)  # the rogue row is gone


def test_upstream_identity_change_refuses(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    # a DIFFERENT table appears at the same upstream root
    shutil.rmtree(up.root)
    up2 = SnapshotTable(up.root)
    up2.overwrite(spark, _base(spark, 16), cluster_by=KEYS)
    with pytest.raises(ValueError, match="different table"):
        sync_derived_table(spark, up2, dv, _transform, keys=KEYS)
    r = sync_derived_table(spark, up2, dv, _transform, keys=KEYS, force_bootstrap=True)
    assert r["mode"] == "bootstrap"
    _equiv(spark, up2, dv)


def test_expired_cursor_rebootstraps(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    up.upsert(spark, _df(spark, [("c0", 0, "v2")]), keys=KEYS)
    up.upsert(spark, _df(spark, [("c0", 1, "v3")]), keys=KEYS)
    up.expire_unreferenced(keep_snapshots=1)  # snapshot 1 (the cursor) gone
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "bootstrap"
    assert r["bootstrap_reason"] == "cursor-expired"
    _equiv(spark, up, dv)


def test_upstream_schema_rewrite_rebootstraps(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)

    def fn(df):  # transform agnostic to the rewritten column's type
        return df.select("conv_id", "turn_idx", F.upper(F.col("text")).alias("up"))

    sync_derived_table(spark, up, dv, fn, keys=KEYS)
    up.overwrite(
        spark, _base(spark).withColumn("text", F.struct(F.col("text").alias("v")))
    )  # wholesale type rewrite -> range cannot be diffed
    up2 = SnapshotTable(up.root)

    def fn2(df):
        return df.select("conv_id", "turn_idx", F.upper(F.col("text.v")).alias("up"))

    r = sync_derived_table(spark, up2, dv, fn2, keys=KEYS)
    assert r["mode"] == "bootstrap"
    assert r["bootstrap_reason"] == "upstream-schema-rewrite"
    _equiv(spark, up2, dv, fn2)


def test_transform_must_keep_keys(spark, tmp_path):
    up, dv = _tables(spark, tmp_path)
    with pytest.raises(ValueError, match="missing key column"):
        sync_derived_table(
            spark, up, dv, lambda df: df.select("text"), keys=KEYS
        )
    assert not dv.exists()  # refused before any commit


def test_identity_mirror_and_pure_delete_miss(spark, tmp_path):
    """transform=None mirrors the table; a delete whose key the filter
    already excluded downstream nets to a cursor-advance, not a crash."""
    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    mirror = SnapshotTable(str(tmp_path / "mirror"))
    sync_derived_table(spark, up, mirror, keys=KEYS)
    assert sorted(map(tuple, mirror.read(spark).collect())) == sorted(
        map(tuple, up.read(spark).collect())
    )
    # filtered view: c7 rows never reach the derived table
    dv = SnapshotTable(str(tmp_path / "dv"))
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    up.delete_rows(spark, _df(spark, [("c7", 0, None)]).select(*KEYS), keys=KEYS)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "cursor-advance"  # the delete missed: no commit needed
    _equiv(spark, up, dv)


def test_chained_derived_tables(spark, tmp_path):
    """A derived table is itself a snapshot table: a second-level view
    syncs off the first level's changelog."""
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    lvl2 = SnapshotTable(str(tmp_path / "lvl2"))

    def fn2(df):
        return df.select("conv_id", "turn_idx", F.length("up").alias("n"))

    sync_derived_table(spark, dv, lvl2, fn2, keys=KEYS)
    up.upsert(spark, _df(spark, [("c0", 0, "longer text here")]), keys=KEYS)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    r = sync_derived_table(spark, dv, lvl2, fn2, keys=KEYS)
    assert r["mode"] == "delta"
    got = sorted(map(tuple, lvl2.read(spark).collect()))
    want = sorted(map(tuple, fn2(_transform(up.read(spark))).collect()))
    assert got == want


def test_cli_sync_derived(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv_root = str(tmp_path / "dv")
    rc = main(["--output", dv_root, "--sync-derived", up.root], spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and line["mode"] == "bootstrap"
    up.upsert(spark, _df(spark, [("c0", 0, "v2")]), keys=KEYS)
    rc = main(["--output", dv_root, "--sync-derived", up.root], spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and line["mode"] == "delta" and line["rows_upserted"] == 1
    assert sorted(map(tuple, SnapshotTable(dv_root).read(spark).collect())) == sorted(
        map(tuple, up.read(spark).collect())
    )


def test_cli_sync_derived_errors(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv_root = str(tmp_path / "dv")
    # missing upstream
    rc = main(
        ["--output", dv_root, "--sync-derived", str(tmp_path / "no")], spark=spark
    )
    assert rc == 2 and "no upstream snapshot table" in capsys.readouterr().err
    # orphan --force-bootstrap
    rc = main(["--input", "x", "--output", dv_root, "--force-bootstrap"], spark=spark)
    assert rc == 2 and "requires --sync-derived" in capsys.readouterr().err
    # drifted derived table refuses with exit 2
    rc = main(["--output", dv_root, "--sync-derived", up.root], spark=spark)
    assert rc == 0
    capsys.readouterr()
    SnapshotTable(dv_root).append(spark, _df(spark, [("zz", 0, "rogue")]))
    up.upsert(spark, _df(spark, [("c0", 0, "v2")]), keys=KEYS)
    rc = main(["--output", dv_root, "--sync-derived", up.root], spark=spark)
    assert rc == 2 and "no sync cursor" in capsys.readouterr().err
    rc = main(
        ["--output", dv_root, "--sync-derived", up.root, "--force-bootstrap"],
        spark=spark,
    )
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and line["mode"] == "bootstrap"

def test_cli_view_filter_select(spark, tmp_path, capsys):
    """--view-filter/--view-select make non-identity views CLI-reachable:
    bootstrap, then a delta where an update crosses the filter boundary
    (the stale derived row must be deleted), derived == recomputed."""
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv_root = str(tmp_path / "dv")
    argv = [
        "--output", dv_root, "--sync-derived", up.root,
        "--view-filter", "text NOT LIKE 'drop%'",
        "--view-select", "upper(text) AS up",
        "--view-select", "conv_id",  # bare key repeated: deduped, not duplicated
    ]
    rc = main(argv, spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and line["mode"] == "bootstrap"
    dv = SnapshotTable(dv_root)
    assert sorted(dv.read(spark).columns) == ["conv_id", "turn_idx", "up"]
    assert dv.read(spark).count() == 40

    def fn(df):
        return df.filter("text NOT LIKE 'drop%'").selectExpr(
            "conv_id", "turn_idx", "upper(text) AS up"
        )

    _equiv(spark, up, dv, fn)
    # one update crosses OUT of the filter (stale row must be deleted),
    # one stays inside it
    up.upsert(
        spark, _df(spark, [("c0", 0, "drop me"), ("c1", 0, "v2")]), keys=KEYS
    )
    rc = main(argv, spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and line["mode"] == "delta"
    assert line["rows_upserted"] == 1 and line["keys_deleted"] == 1
    assert dv.read(spark).count() == 39
    _equiv(spark, up, dv, fn)


def test_cli_view_loop_and_errors(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv_root = str(tmp_path / "dv")
    # --loop 2: first sync bootstraps, second is a noop; one JSON line each
    rc = main(
        ["--output", dv_root, "--sync-derived", up.root, "--loop", "2"],
        spark=spark,
    )
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0
    assert [x["mode"] for x in lines] == ["bootstrap", "noop"]
    assert [x["loop"] for x in lines] == [1, 2]
    # view flags without --sync-derived
    rc = main(
        ["--input", "x", "--output", dv_root, "--view-filter", "1=1"], spark=spark
    )
    assert rc == 2 and "require --sync-derived" in capsys.readouterr().err
    # bad SQL in the view: exit 2 with a message, never a traceback
    rc = main(
        ["--output", str(tmp_path / "dv2"), "--sync-derived", up.root,
         "--view-filter", "no_such_column IS NULL"],
        spark=spark,
    )
    assert rc == 2 and "error:" in capsys.readouterr().err
    rc = main(
        ["--output", str(tmp_path / "dv3"), "--sync-derived", up.root,
         "--view-select", "((("],
        spark=spark,
    )
    assert rc == 2 and "error:" in capsys.readouterr().err
    # a projection that drops the keys keeps the library's key-grain error
    rc = main(
        ["--output", str(tmp_path / "dv4"), "--sync-derived", up.root,
         "--table-keys", "conv_id,turn_idx,missing_key",
         "--view-select", "text"],
        spark=spark,
    )
    assert rc == 2 and "error:" in capsys.readouterr().err


def test_self_sync_refused(spark, tmp_path, capsys):
    """A table synced onto itself would commit a cursor snapshot every
    sync forever (its own commit advances its 'upstream'); refuse both
    the same-path and the aliased-path (uuid) forms."""
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    with pytest.raises(ValueError, match="cannot be synced onto itself"):
        sync_derived_table(spark, up, up.root, keys=KEYS)
    with pytest.raises(ValueError, match="cannot be synced onto itself"):
        sync_derived_table(spark, up, up, keys=KEYS, force_bootstrap=True)
    # aliased path to the same table directory
    alias = str(tmp_path / "alias")
    import os

    os.symlink(up.root, alias)
    with pytest.raises(ValueError, match="cannot be synced onto itself"):
        sync_derived_table(spark, up, alias, keys=KEYS)
    rc = main(["--output", up.root, "--sync-derived", up.root], spark=spark)
    assert rc == 2 and "onto itself" in capsys.readouterr().err
    assert up.current_id() == 1  # nothing committed by any refusal


def test_compact_preserves_sync_cursor(spark, tmp_path):
    """Routine maintenance of the VIEW (compaction) is row-preserving
    and must not evict the sync cursor — the steady-state loop is
    sync, sync, ..., compact, sync, not sync -> 'no sync cursor'."""
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    # fragment the view with a few delta syncs
    for i in range(3):
        up.upsert(spark, _df(spark, [("c0", i, f"v{i}")]), keys=KEYS)
        sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    r = dv.compact(spark, target_file_bytes=1 << 30, stat_cols=KEYS)
    assert r["rewritten"] > 0
    assert dv.manifest()["derived_from_snapshot"] == up.current_id()
    # the next sync is a normal delta, NOT a refusal or re-bootstrap
    up.upsert(spark, _df(spark, [("c1", 0, "after-compact")]), keys=KEYS)
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "delta"
    _equiv(spark, up, dv)


def test_rollback_carries_cursor_with_contents(spark, tmp_path):
    """Rolling the view back to an earlier snapshot reverts the cursor
    WITH the data: later syncs replay from there (idempotent keyed
    upserts) instead of refusing."""
    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    first_view_sid = dv.current_id()
    up.upsert(spark, _df(spark, [("c0", 0, "v2")]), keys=KEYS)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    dv.rollback(None, first_view_sid)
    assert dv.manifest()["derived_from_snapshot"] == 1  # reverted cursor
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "delta"  # replays 1 -> current
    _equiv(spark, up, dv)


def test_schema_rewrite_is_typed_error(spark, tmp_path):
    """read_changes raises SchemaRewriteError (not message-matched
    prose) when the range crosses a schema-rewriting overwrite."""
    from fscrawler_spark.plans.snapshot_table import SchemaRewriteError

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    up.overwrite(
        spark, _base(spark).withColumn("text", F.struct(F.col("text").alias("v")))
    )
    with pytest.raises(SchemaRewriteError):
        up.read_changes(spark, 1, 2, keys=KEYS)
    assert issubclass(SchemaRewriteError, ValueError)  # callers' except stays valid


def test_cli_sync_derived_conflicts(spark, tmp_path, capsys):
    """--sync-derived refuses to combine with any other verb instead of
    silently running only whichever branch dispatches first."""
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    dv = str(tmp_path / "dv")
    for argv in (
        ["--output", dv, "--sync-derived", up.root, "--table-changes", "1"],
        ["--input", "docs", "--output", dv, "--sync-derived", up.root],
        ["--output", dv, "--sync-derived", up.root, "--incremental"],
        ["--output", dv, "--sync-derived", up.root, "--doctor"],
        ["--output", dv, "--sync-derived", up.root, "--table-history"],
        ["--output", dv, "--sync-derived", up.root, "--clean-text"],
    ):
        rc = main(argv, spark=spark)
        err = capsys.readouterr().err
        assert rc == 2 and "cannot combine" in err, (argv, err)
    # --table-keys none is a --table-changes sentinel, not a key spec
    rc = main(
        ["--output", dv, "--sync-derived", up.root, "--table-keys", "none"],
        spark=spark,
    )
    assert rc == 2 and "raw file-level stream" in capsys.readouterr().err
    # the sync's own knobs still compose
    rc = main(
        ["--output", dv, "--sync-derived", up.root, "--loop", "2"], spark=spark
    )
    assert rc == 0


def test_sync_view_dag(spark, tmp_path):
    """A two-level view DAG syncs in topological order regardless of
    list order; one delta at the root flows through every level."""
    from fscrawler_spark.plans.derived import sync_view_dag

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)

    def lvl2(df):
        return df.select("conv_id", "turn_idx", F.length("up").alias("n"))

    views = [
        # deliberately listed child-first: the helper must topo-sort
        {"name": "lens", "root": str(tmp_path / "lens"),
         "transform": lvl2, "upstream": "upper"},
        {"name": "upper", "root": str(tmp_path / "upper"),
         "transform": _transform, "upstream": None},
    ]
    r = sync_view_dag(spark, up, views, keys=KEYS)
    assert [r[k]["mode"] for k in ("upper", "lens")] == ["bootstrap", "bootstrap"]
    up.upsert(spark, _df(spark, [("c0", 0, "much longer text")]), keys=KEYS)
    r = sync_view_dag(spark, up, views, keys=KEYS)
    assert r["upper"]["mode"] == "delta" and r["lens"]["mode"] == "delta"
    got = sorted(map(tuple, SnapshotTable(str(tmp_path / "lens")).read(spark).collect()))
    want = sorted(map(tuple, lvl2(_transform(up.read(spark))).collect()))
    assert got == want
    # a third no-op pass: both levels noop
    r = sync_view_dag(spark, up, views, keys=KEYS)
    assert [r[k]["mode"] for k in r] == ["noop", "noop"]


def test_sync_view_dag_validation(spark, tmp_path):
    from fscrawler_spark.plans.derived import sync_view_dag

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    with pytest.raises(ValueError, match="unique"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "a")},
            {"name": "a", "root": str(tmp_path / "b")},
        ], keys=KEYS)
    with pytest.raises(ValueError, match="share a root"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "x")},
            {"name": "b", "root": str(tmp_path / "x")},
        ], keys=KEYS)
    with pytest.raises(ValueError, match="unknown upstream"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "a"), "upstream": "ghost"},
        ], keys=KEYS)
    with pytest.raises(ValueError, match="cycle"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "a"), "upstream": "b"},
            {"name": "b", "root": str(tmp_path / "b"), "upstream": "a"},
        ], keys=KEYS)
    # a failing view aborts with its name attached; the synced prefix is
    # durable, so a re-run after the fix no-ops it
    def boom(df):
        raise RuntimeError("kaput")

    views = [
        {"name": "ok", "root": str(tmp_path / "ok")},
        {"name": "bad", "root": str(tmp_path / "bad"), "transform": boom,
         "upstream": "ok"},
    ]
    with pytest.raises(RuntimeError, match="view 'bad'"):
        sync_view_dag(spark, up, views, keys=KEYS)
    assert SnapshotTable(str(tmp_path / "ok")).exists()  # prefix durable
    views[1]["transform"] = None
    r = sync_view_dag(spark, up, views, keys=KEYS)
    assert r["ok"]["mode"] == "noop" and r["bad"]["mode"] == "bootstrap"


def test_sync_view_dag_review_guards(spark, tmp_path):
    """Second review pass: upstream-root collision (force_bootstrap must
    never overwrite the source), missing/empty names and roots, empty
    per-view keys reach the loud guard, RuntimeError in a transform
    propagates with the view name but the transform's message intact."""
    from fscrawler_spark.plans.derived import sync_view_dag

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    # a view aliasing the upstream root via an intermediate parent
    with pytest.raises(ValueError, match="cannot overwrite its own source"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "a")},
            {"name": "b", "root": up.root, "upstream": "a"},
        ], keys=KEYS, force_bootstrap=True)
    assert up.current_id() == 1  # the source table is untouched
    with pytest.raises(ValueError, match="non-empty"):
        sync_view_dag(spark, up, [{"name": "", "root": str(tmp_path / "v")}])
    with pytest.raises(ValueError, match="no 'root'"):
        sync_view_dag(spark, up, [{"name": "a"}])
    with pytest.raises(ValueError, match="no 'root'"):
        sync_view_dag(spark, up, [{"name": "a"}, {"name": "b"}])
    # explicitly-empty keys hit sync_derived_table's guard, never the default
    with pytest.raises(ValueError, match="at least one column"):
        sync_view_dag(spark, up, [
            {"name": "a", "root": str(tmp_path / "a"), "keys": []},
        ], keys=KEYS)


def test_cli_sync_dag(spark, tmp_path, capsys):
    """--sync-dag SPEC.json drives a whole view tree from the CLI:
    relative roots resolve against --output, filter/select use the
    --view-filter/--view-select grammar, one root delta flows through
    both levels."""
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    spec = {
        "upstream": up.root,
        "views": [
            {"name": "lens", "root": "lens", "upstream": "clean",
             "select": ["length(up) AS n"]},
            {"name": "clean", "root": "clean",
             "filter": "text NOT LIKE 'drop%'",
             "select": ["upper(text) AS up"]},
        ],
    }
    spec_path = str(tmp_path / "spec.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    out_base = str(tmp_path / "deploy")
    argv = ["--output", out_base, "--sync-dag", spec_path]
    rc = main(argv, spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert {k: v["mode"] for k, v in line["views"].items()} == {
        "clean": "bootstrap", "lens": "bootstrap"
    }
    lens = SnapshotTable(str(tmp_path / "deploy" / "lens"))
    assert sorted(lens.read(spark).columns) == ["conv_id", "n", "turn_idx"]
    assert lens.read(spark).count() == 40
    # root delta (one row filtered OUT, one updated in-place) flows through
    up.upsert(
        spark, _df(spark, [("c0", 0, "drop me"), ("c1", 0, "v2")]), keys=KEYS
    )
    rc = main(argv, spark=spark)
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert {k: v["mode"] for k, v in line["views"].items()} == {
        "clean": "delta", "lens": "delta"
    }
    assert lens.read(spark).count() == 39
    want = (
        up.read(spark).filter("text NOT LIKE 'drop%'")
        .selectExpr("conv_id", "turn_idx", "length(upper(text)) AS n")
    )
    got = lens.read(spark)
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_cli_sync_dag_errors(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    out = str(tmp_path / "deploy")
    # unreadable / malformed / structurally wrong specs
    rc = main(["--output", out, "--sync-dag", str(tmp_path / "no.json")], spark=spark)
    assert rc == 2 and "cannot read" in capsys.readouterr().err
    bad = str(tmp_path / "bad.json")
    open(bad, "w").write("{nope")
    rc = main(["--output", out, "--sync-dag", bad], spark=spark)
    assert rc == 2 and "cannot read" in capsys.readouterr().err
    open(bad, "w").write(json.dumps({"views": []}))
    rc = main(["--output", out, "--sync-dag", bad], spark=spark)
    assert rc == 2 and "spec must be" in capsys.readouterr().err
    open(bad, "w").write(json.dumps(
        {"upstream": up.root, "views": [{"name": "a", "root": "a", "select": "x"}]}
    ))
    rc = main(["--output", out, "--sync-dag", bad], spark=spark)
    assert rc == 2 and "list of SQL expression strings" in capsys.readouterr().err
    # library validation surfaces as exit 2 (cycle)
    open(bad, "w").write(json.dumps({"upstream": up.root, "views": [
        {"name": "a", "root": "a", "upstream": "b"},
        {"name": "b", "root": "b", "upstream": "a"},
    ]}))
    rc = main(["--output", out, "--sync-dag", bad], spark=spark)
    assert rc == 2 and "cycle" in capsys.readouterr().err
    # verb exclusivity both ways
    rc = main(
        ["--output", out, "--sync-dag", bad, "--sync-derived", up.root], spark=spark
    )
    assert rc == 2 and "cannot combine" in capsys.readouterr().err
    rc = main(["--output", out, "--sync-dag", bad, "--table-history"], spark=spark)
    assert rc == 2 and "cannot combine" in capsys.readouterr().err
    # orphan --force-bootstrap message names both verbs
    rc = main(["--input", "x", "--output", out, "--force-bootstrap"], spark=spark)
    assert rc == 2 and "--sync-derived or --sync-dag" in capsys.readouterr().err


def test_cli_sync_dag_loop_and_spec_types(spark, tmp_path, capsys):
    """Review fixes: --sync-dag honors --loop (one JSON line per pass,
    bootstrap then noop); non-string 'filter' and non-list 'keys' refuse
    with pointed exit-2 messages instead of tracebacks."""
    from fscrawler_spark.cli import main

    up = SnapshotTable(str(tmp_path / "up"))
    up.overwrite(spark, _base(spark), cluster_by=KEYS)
    spec = str(tmp_path / "spec.json")
    with open(spec, "w") as f:
        json.dump({"upstream": up.root, "views": [{"name": "m", "root": "m"}]}, f)
    out = str(tmp_path / "deploy")
    rc = main(["--output", out, "--sync-dag", spec, "--loop", "2"], spark=spark)
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    assert rc == 0
    assert [x["views"]["m"]["mode"] for x in lines] == ["bootstrap", "noop"]
    assert [x["loop"] for x in lines] == [1, 2]
    # bad field types
    with open(spec, "w") as f:
        json.dump({"upstream": up.root,
                   "views": [{"name": "m", "root": "m", "filter": 123}]}, f)
    rc = main(["--output", out, "--sync-dag", spec], spark=spark)
    assert rc == 2 and "'filter' must be" in capsys.readouterr().err
    with open(spec, "w") as f:
        json.dump({"upstream": up.root,
                   "views": [{"name": "m", "root": "m", "keys": "conv_id"}]}, f)
    rc = main(["--output", out, "--sync-dag", spec], spark=spark)
    assert rc == 2 and "'keys' must be a list" in capsys.readouterr().err


def test_delta_sync_materializes_through_session_policy(spark, tmp_path, monkeypatch):
    """Every materialization of a delta sync goes through
    session.materialize (one durability policy: a reliable checkpoint
    when the session has a checkpoint dir): the changelog and the
    transformed rows in plans/derived, the keyed diff in snapshot_table."""
    from fscrawler_spark.plans import derived, snapshot_table
    from fscrawler_spark.session import materialize

    up, dv = _tables(spark, tmp_path)
    sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    up.upsert(spark, _df(spark, [("c0", 0, "edited"), ("c2", 9, "born")]), keys=KEYS)
    calls = []
    for mod in (derived, snapshot_table):
        monkeypatch.setattr(
            mod,
            "materialize",
            lambda df, _name=mod.__name__: calls.append(_name) or materialize(df),
        )
    r = sync_derived_table(spark, up, dv, _transform, keys=KEYS)
    assert r["mode"] == "delta"
    assert sorted(calls) == sorted(
        [derived.__name__] * 2 + [snapshot_table.__name__]
    )
    _equiv(spark, up, dv)
