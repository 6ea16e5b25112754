"""Row-level changelog read over snapshot tables (read_changes):
Iceberg incremental-read / Delta CDF analog. Verifies classification,
copy-on-write bystander cancellation, endpoint-net semantics over
multi-commit ranges, map canonicalization, schema evolution inside a
range, the raw keys=None stream, error paths, and the CLI verb."""

from __future__ import annotations

import datetime as dt
import json
import math

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.plans.snapshot_table import (
    CHANGE_COLS,
    SnapshotTable,
    _canon_expr,
    _strip_null_flags,
    _widen_null_flags,
)

SCHEMA = "conv_id string, turn_idx int, text string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _base(spark, n=40):
    return spark.range(0, n).select(
        F.concat(F.lit("c"), (F.col("id") % 8).cast("string")).alias("conv_id"),
        (F.col("id") / 8).cast("int").alias("turn_idx"),
        F.concat(F.lit("t"), F.col("id").cast("string")).alias("text"),
    )


def _counts(ch):
    return {
        r["_change_type"]: r["count"]
        for r in ch.groupBy("_change_type").count().collect()
    }


def _table(spark, tmp_path, name="t"):
    t = SnapshotTable(str(tmp_path / name))
    t.overwrite(spark, _base(spark), cluster_by=("conv_id",))
    return t


def test_upsert_changelog_classifies(spark, tmp_path):
    t = _table(spark, tmp_path)
    delta = _df(spark, [("c0", 0, "CHANGED"), ("new", 9, "NEW")])
    t.upsert(spark, delta, keys=("conv_id", "turn_idx"))
    ch = t.read_changes(spark, 1, 2)
    assert _counts(ch) == {
        "insert": 1,
        "update_preimage": 1,
        "update_postimage": 1,
    }
    rows = {r["_change_type"]: r for r in ch.collect()}
    assert rows["insert"]["text"] == "NEW"
    assert rows["update_preimage"]["text"] == "t0"  # the FROM-side value
    assert rows["update_postimage"]["text"] == "CHANGED"
    assert rows["insert"]["_from_snapshot"] == 1
    assert rows["insert"]["_to_snapshot"] == 2
    # table column order preserved, metadata appended
    assert ch.columns == ["conv_id", "turn_idx", "text", *CHANGE_COLS]


def test_bystanders_cancel(spark, tmp_path):
    """Copy-on-write rewrites whole files; unchanged rows riding the
    rewrite must not surface as changes."""
    t = _table(spark, tmp_path)
    t.upsert(spark, _df(spark, [("c0", 0, "X")]), keys=("conv_id", "turn_idx"))
    d = t.diff(1, 2)
    carried = sum(e.rows for e in d["added"])
    assert carried > 1  # the rewritten file really did carry bystanders
    assert t.read_changes(spark, 1, 2).count() == 2  # pre + post only


def test_delete_changelog(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.delete_rows(
        spark, _df(spark, [("c1", 0, None), ("c1", 1, None)]).select(
            "conv_id", "turn_idx"
        ),
        keys=("conv_id", "turn_idx"),
    )
    ch = t.read_changes(spark, 1, 2)
    assert _counts(ch) == {"delete": 2}
    assert {r["text"] for r in ch.collect()} == {"t1", "t9"}


def test_compaction_is_invisible(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.append(spark, _df(spark, [("zz", 0, "a"), ("zz", 1, "b")]))  # 2
    res = t.compact(spark, target_file_bytes=1 << 30)  # 3
    assert res["rewritten"] >= 2
    assert t.read_changes(spark, 2, 3).count() == 0


def test_range_nets_at_endpoints(spark, tmp_path):
    """insert→delete nets to nothing; insert→update to one insert at the
    final value; update→update to one pre (from) + one post (to)."""
    t = _table(spark, tmp_path)
    k = ("conv_id", "turn_idx")
    t.upsert(spark, _df(spark, [("tmp", 0, "BORN"), ("c0", 0, "V1")]), keys=k)  # 2
    t.upsert(spark, _df(spark, [("c0", 0, "V2"), ("late", 1, "L1")]), keys=k)  # 3
    t.delete_rows(spark, _df(spark, [("tmp", 0, None)]).select(*k), keys=k)  # 4
    t.upsert(spark, _df(spark, [("late", 1, "L2")]), keys=k)  # 5
    ch = t.read_changes(spark, 1, 5)
    by = {(r["conv_id"], r["_change_type"]): r["text"] for r in ch.collect()}
    assert ("tmp", "insert") not in by and ("tmp", "delete") not in by
    assert by[("late", "insert")] == "L2"  # final value, one row
    assert by[("c0", "update_preimage")] == "t0"
    assert by[("c0", "update_postimage")] == "V2"
    assert ch.count() == 3


def test_map_reorder_is_not_a_change(spark, tmp_path):
    fwd = F.create_map(F.lit("a"), F.lit("1"), F.lit("b"), F.lit("2"))
    rev = F.create_map(F.lit("b"), F.lit("2"), F.lit("a"), F.lit("1"))
    t = SnapshotTable(str(tmp_path / "m"))
    t.overwrite(spark, _base(spark).select("*", fwd.alias("raw")))
    t.upsert(
        spark,
        _df(spark, [("c0", 0, "t0")]).select("*", rev.alias("raw")),
        keys=("conv_id", "turn_idx"),
    )
    assert t.read_changes(spark, 1, 2).count() == 0
    # ...while a genuine map change IS one
    other = F.create_map(F.lit("a"), F.lit("9"))
    t.upsert(
        spark,
        _df(spark, [("c0", 0, "t0")]).select("*", other.alias("raw")),
        keys=("conv_id", "turn_idx"),
    )
    assert _counts(t.read_changes(spark, 2, 3)) == {
        "update_preimage": 1,
        "update_postimage": 1,
    }


def test_schema_evolution_inside_range(spark, tmp_path):
    t = _table(spark, tmp_path)
    delta = spark.createDataFrame(
        [("c0", 0, "Z", 7)], SCHEMA + ", score int"
    )
    t.upsert(spark, delta, keys=("conv_id", "turn_idx"))
    ch = t.read_changes(spark, 1, 2)
    assert "score" in ch.columns
    rows = {r["_change_type"]: r for r in ch.collect()}
    assert rows["update_preimage"]["score"] is None  # old side NULL-fills
    assert rows["update_postimage"]["score"] == 7


def test_raw_stream_without_keys(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.upsert(spark, _df(spark, [("c0", 0, "X")]), keys=("conv_id", "turn_idx"))
    d = t.diff(1, 2)
    raw = t.read_changes(spark, 1, 2, keys=None)
    got = _counts(raw)
    assert got.get("delete", 0) == sum(e.rows for e in d["removed"])
    assert got.get("insert", 0) == sum(e.rows for e in d["added"])


def test_empty_range_keeps_schema(spark, tmp_path):
    t = _table(spark, tmp_path)
    ch = t.read_changes(spark, 1, 1)
    assert ch.count() == 0
    assert ch.columns == ["conv_id", "turn_idx", "text", *CHANGE_COLS]


def test_error_paths(spark, tmp_path):
    t = _table(spark, tmp_path)
    t.upsert(spark, _df(spark, [("c0", 0, "X")]), keys=("conv_id", "turn_idx"))
    with pytest.raises(ValueError, match="reads forward"):
        t.read_changes(spark, 2, 1)
    with pytest.raises(ValueError, match="not in table schema"):
        t.read_changes(spark, 1, 2, keys=("nope",))
    with pytest.raises(ValueError, match="at least one column"):
        t.read_changes(spark, 1, 2, keys=())
    with pytest.raises(FileNotFoundError):
        t.read_changes(spark, 1, 99)
    # duplicate keys inside the diffed files refuse loudly
    t.append(spark, _df(spark, [("d", 0, "x"), ("d", 0, "y")]))
    with pytest.raises(ValueError, match="duplicate"):
        t.read_changes(spark, 2, 3)
    assert t.read_changes(spark, 2, 3, keys=None).count() == 2
    # map-typed key columns are not joinable
    m = SnapshotTable(str(tmp_path / "mk"))
    m.overwrite(
        spark,
        _base(spark).select(
            "*", F.create_map(F.lit("a"), F.lit("1")).alias("raw")
        ),
    )
    m.upsert(
        spark,
        _df(spark, [("c0", 0, "X")]).select(
            "*", F.create_map(F.lit("a"), F.lit("2")).alias("raw")
        ),
        keys=("conv_id", "turn_idx"),
    )
    with pytest.raises(ValueError, match="map types"):
        m.read_changes(spark, 1, 2, keys=("raw",))


def test_reserved_column_clash(spark, tmp_path):
    t = SnapshotTable(str(tmp_path / "r"))
    t.overwrite(spark, _base(spark).withColumn("_change_type", F.lit("x")))
    t.append(spark, _base(spark, 8).withColumn("_change_type", F.lit("y")))
    with pytest.raises(ValueError, match="changelog column"):
        t.read_changes(spark, 1, 2)


def test_null_struct_vs_struct_of_nulls(spark, tmp_path):
    """The canonical form keeps NULL struct distinct from a struct whose
    fields are all NULL (F.struct would erase it): flipping between the
    two IS a change."""
    meta_t = "struct<title:string,raw:map<string,string>>"
    t = SnapshotTable(str(tmp_path / "ns"))
    t.overwrite(
        spark,
        _base(spark).select(
            "*", F.lit(None).cast(meta_t).alias("meta")
        ),
    )
    delta = _df(spark, [("c0", 0, "t0")]).select(
        "*",
        F.named_struct(
            F.lit("title"), F.lit(None).cast("string"),
            F.lit("raw"), F.lit(None).cast("map<string,string>"),
        ).cast(meta_t).alias("meta"),
    )
    t.upsert(spark, delta, keys=("conv_id", "turn_idx"))
    assert _counts(t.read_changes(spark, 1, 2)) == {
        "update_preimage": 1,
        "update_postimage": 1,
    }


def test_nullability_flags_widen_not_refuse(spark, tmp_path):
    """unionByName widens a map's valueContainsNull inside apply_delta —
    a flag-only mismatch must evolve the stored schema, not refuse the
    upsert as a type change."""
    t = SnapshotTable(str(tmp_path / "w"))
    nn = F.create_map(F.lit("a"), F.lit("1"))  # valueContainsNull=False
    t.overwrite(spark, _base(spark).select("*", nn.alias("raw")))
    before = t.schema()["raw"].dataType
    assert before.valueContainsNull is False
    t.upsert(
        spark,
        _df(spark, [("c0", 0, "X")]).select("*", nn.alias("raw")),
        keys=("conv_id", "turn_idx"),
    )  # must not raise
    after = t.schema()["raw"].dataType
    assert after.valueContainsNull is True  # widened, never narrowed
    assert t.read(spark).count() == 40


def test_null_flag_helpers():
    from pyspark.sql import types as T

    a = T.MapType(T.StringType(), T.StringType(), False)
    b = T.MapType(T.StringType(), T.StringType(), True)
    assert _strip_null_flags(a) == _strip_null_flags(b)
    assert _widen_null_flags(a, b).valueContainsNull is True
    assert _widen_null_flags(a, a).valueContainsNull is False
    s1 = T.StructType([T.StructField("x", T.ArrayType(a, False), False)])
    s2 = T.StructType([T.StructField("x", T.ArrayType(b, True), True)])
    w = _widen_null_flags(s1, s2)
    assert w["x"].nullable and w["x"].dataType.containsNull
    assert w["x"].dataType.elementType.valueContainsNull
    assert _strip_null_flags(s1) == _strip_null_flags(s2)
    assert _strip_null_flags(T.LongType()) == T.LongType()


def test_canon_expr_noop_for_map_free(spark):
    """Map-free columns pass through _canon_expr untouched — the
    comparison stays a pure column reference, no rebuild."""
    df = spark.createDataFrame([("a", [1, 2])], "s string, xs array<int>")
    for name in ("s", "xs"):
        expr = _canon_expr(F.col(name), df.schema[name].dataType)
        assert expr._jc.toString() == F.col(name)._jc.toString()


def test_signed_zero_rewrite_is_not_a_change(spark, tmp_path):
    """-0.0 == 0.0 under SQL equality: a float/double rewritten 0.0 ->
    -0.0 (top level or nested) emits no change rows, while a real
    0.0 -> 1.0 edit still emits its update pair."""
    sch = "conv_id string, turn_idx int, v double, f float, xs array<double>"
    t = SnapshotTable(str(tmp_path / "z"))
    t.overwrite(
        spark,
        spark.createDataFrame([("a", 0, 0.0, 0.0, [0.0]), ("b", 0, 0.0, 0.0, [1.0])], sch),
    )
    t.upsert(spark, spark.createDataFrame([("a", 0, -0.0, -0.0, [-0.0])], sch))
    row = t.read(spark).filter("conv_id = 'a'").first()
    # the sign really is stored: only the comparison may ignore it
    assert math.copysign(1.0, row["v"]) < 0 and math.copysign(1.0, row["xs"][0]) < 0
    assert _counts(t.read_changes(spark, 1, 2)) == {}
    t.upsert(spark, spark.createDataFrame([("a", 0, 1.0, -0.0, [-0.0])], sch))
    assert _counts(t.read_changes(spark, 2, 3)) == {
        "update_preimage": 1,
        "update_postimage": 1,
    }


def test_changelog_drives_incremental_curation(spark, tmp_path):
    """The consumption pattern the changelog exists for: re-run a
    downstream transform on ONLY the changed/inserted rows and upsert
    the results over the previous derived table — equals recomputing
    from scratch."""
    t = _table(spark, tmp_path)

    def derive(df):
        return df.select(
            "conv_id", "turn_idx", F.upper(F.col("text")).alias("up")
        )

    derived = SnapshotTable(str(tmp_path / "derived"))
    derived.overwrite(spark, derive(t.read(spark)))
    t.upsert(
        spark,
        _df(spark, [("c0", 0, "new text"), ("n", 5, "born")]),
        keys=("conv_id", "turn_idx"),
    )
    t.delete_rows(
        spark,
        _df(spark, [("c1", 0, None)]).select("conv_id", "turn_idx"),
        keys=("conv_id", "turn_idx"),
    )
    ch = t.read_changes(spark, 1, 3)
    derived.apply_delta(
        spark,
        derive(ch.filter(F.col("_change_type").isin("insert", "update_postimage"))),
        ch.filter(F.col("_change_type") == "delete").select("conv_id", "turn_idx"),
        keys=("conv_id", "turn_idx"),
    )
    got = sorted(
        (r["conv_id"], r["turn_idx"], r["up"])
        for r in derived.read(spark).collect()
    )
    want = sorted(
        (r["conv_id"], r["turn_idx"], r["up"])
        for r in derive(t.read(spark)).collect()
    )
    assert got == want


def test_cli_table_changes(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = _table(spark, tmp_path)
    t.upsert(spark, _df(spark, [("c0", 0, "X"), ("n", 9, "NEW")]),
             keys=("conv_id", "turn_idx"))
    out_dir = str(tmp_path / "chg")
    rc = main(
        [
            "--output", t.root,
            "--table-changes", "1",
            "--changes-out", out_dir,
        ],
        spark=spark,
    )
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0
    assert line["operation"] == "changes"
    assert line["from_snapshot"] == 1 and line["to_snapshot"] == 2
    assert line["counts"] == {
        "insert": 1,
        "update_preimage": 1,
        "update_postimage": 1,
    }
    written = spark.read.parquet(out_dir)
    assert written.count() == 3 and "_change_type" in written.columns
    # raw mode via --table-keys none
    rc = main(
        ["--output", t.root, "--table-changes", "1:2", "--table-keys", "none"],
        spark=spark,
    )
    line = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and set(line["counts"]) == {"insert", "delete"}


def test_cli_table_changes_errors(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    t = _table(spark, tmp_path)
    # a non-digit bound is a TAG lookup now (round-5 tags): missing tag
    # gets the pointed ref error, a syntactically invalid spec keeps the
    # FROM[:TO] grammar error
    assert main(["--output", t.root, "--table-changes", "x"], spark=spark) == 2
    assert "no tag" in capsys.readouterr().err
    assert main(["--output", t.root, "--table-changes", "1:2:3"], spark=spark) == 2
    assert "FROM[:TO]" in capsys.readouterr().err
    assert main(["--output", t.root, "--table-changes", "2:1"], spark=spark) == 2
    assert "reads forward" in capsys.readouterr().err
    assert (
        main(["--output", str(tmp_path / "no"), "--table-changes", "1"], spark=spark)
        == 2
    )
    assert "no snapshot table" in capsys.readouterr().err


def test_schema_rewriting_overwrite_refused(spark, tmp_path):
    """A range crossing an overwrite() that changed a column type (or
    dropped a column) cannot read the from-side files under the TO
    schema — refuse cleanly up front instead of crashing mid-job."""
    t = _table(spark, tmp_path)
    t.overwrite(
        spark, _base(spark).withColumn("turn_idx", F.col("turn_idx").cast("string"))
    )  # 2: type rewrite
    with pytest.raises(ValueError, match="schema-rewriting overwrite"):
        t.read_changes(spark, 1, 2)
    with pytest.raises(ValueError, match="changed type to string"):
        t.read_changes(spark, 1, 2, keys=None)  # raw stream refuses too
    t.overwrite(
        spark,
        _base(spark)
        .withColumn("turn_idx", F.col("turn_idx").cast("string"))
        .drop("text"),
    )  # 3: column drop
    with pytest.raises(ValueError, match="was dropped"):
        t.read_changes(spark, 2, 3)
    # within one schema era the changelog still works
    assert t.read_changes(spark, 2, 2).count() == 0


def test_bad_keys_surface_on_empty_range(spark, tmp_path):
    """from==to short-circuits the diff, but a bad key spec must still
    raise — a caller probing an idle table learns immediately."""
    t = _table(spark, tmp_path)
    cur = t.current_id()
    with pytest.raises(ValueError, match="not in table schema"):
        t.read_changes(spark, cur, cur, keys=("typo_col",))
    with pytest.raises(ValueError, match="at least one column"):
        t.read_changes(spark, cur, cur, keys=())


def test_map_free_schema_sheds_cmp_structs(spark, tmp_path):
    """With no map-bearing columns, the comparison runs off _row alone:
    no byte-identical _cmp twin may ride the full-outer join shuffle."""
    t = _table(spark, tmp_path)
    t.upsert(spark, _df(spark, [("c0", 0, "X")]), keys=("conv_id", "turn_idx"))
    ch = t.read_changes(spark, 1, 2)
    plan = ch._jdf.queryExecution().optimizedPlan().toString()
    assert "_old_cmp" not in plan and "_new_cmp" not in plan
    assert _counts(ch) == {"update_preimage": 1, "update_postimage": 1}


def test_map_bearing_columns_still_compare_canonically(spark, tmp_path):
    """Map columns compare through their canonical sorted-entry form
    (round 6: it feeds the slim comparison hashes instead of a shipped
    _cmp struct — the eagerly-executed slim join makes the expression
    invisible in the returned frame's plan, so this pins BEHAVIOR): a
    plain-column change is detected next to an identical map, and a
    map whose entries merely arrive in a different internal order nets
    to an EMPTY changelog."""
    t = SnapshotTable(str(tmp_path / "mm"))
    mk = F.create_map(F.lit("a"), F.lit("1"), F.lit("b"), F.lit("2"))
    t.overwrite(spark, _base(spark).select("*", mk.alias("raw")))
    t.upsert(
        spark,
        _df(spark, [("c0", 0, "PLAIN-CHANGE")]).select("*", mk.alias("raw")),
        keys=("conv_id", "turn_idx"),
    )
    ch = t.read_changes(spark, 1, 2)
    assert _counts(ch) == {"update_preimage": 1, "update_postimage": 1}
    # reordered-entries rewrite of the SAME logical map: no change
    mk_rev = F.create_map(F.lit("b"), F.lit("2"), F.lit("a"), F.lit("1"))
    row = t.read(spark).filter(
        (F.col("conv_id") == "c0") & (F.col("turn_idx") == 0)
    )
    t.upsert(
        spark,
        row.drop("raw").select("*", mk_rev.alias("raw")),
        keys=("conv_id", "turn_idx"),
    )
    assert _counts(t.read_changes(spark, 2, 3)) == {}


def test_cli_table_changes_integrity_error(spark, tmp_path, capsys):
    """A SnapshotIntegrityError out of diff() honors the CLI's exit-2
    error contract (it is a RuntimeError, not a ValueError)."""
    from fscrawler_spark.cli import main

    t = _table(spark, tmp_path)
    m = t.manifest()
    m["files"][0]["length"] += 1
    m["snapshot_id"], m["parent_id"] = 2, 1
    with open(t._manifest_path(2), "w") as f:
        json.dump(m, f)
    rc = main(["--output", t.root, "--table-changes", "1:2"], spark=spark)
    assert rc == 2
    assert "changed length" in capsys.readouterr().err
