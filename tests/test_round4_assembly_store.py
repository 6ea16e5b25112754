"""Incremental assembly store (plans/assembly_store.py): bootstrap ==
one-shot assembly, no-op ticks, per-conversation delta re-assembly,
deletion purge, fingerprint stability, the drift/legacy refusals and
crash atomicity of the one-commit tick —
all value-checked against one-shot assemble_conversations over the
current corpus (the store must be indistinguishable from a full rebuild
after ANY tick sequence).
"""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions.assembly import assemble_conversations
from fscrawler_spark.plans.assembly_store import (
    assembly_tick,
    conversation_fingerprints,
)
from fscrawler_spark.plans.snapshot_table import SnapshotTable

SCHEMA = "conv_id string, turn_idx int, role string, extracted string"


def _corpus_v1(spark):
    rows = []
    for c in range(6):
        for i in range(4):
            rows.append((f"c{c}", i, "user" if i % 2 == 0 else "assistant",
                         f"conv {c} turn {i} text"))
    return spark.createDataFrame(rows, SCHEMA)


def _write_output(spark, tmp_path, df):
    out = str(tmp_path / "out")
    df.write.mode("overwrite").parquet(os.path.join(out, "docs"))
    return out


def _store_docs(spark, out):
    return SnapshotTable(os.path.join(out, "assembled")).read(spark)


def _oneshot(df):
    return {
        r["conv_id"]: (r["doc"], r["n_turns"], r["n_chars"])
        for r in assemble_conversations(df, text_col="extracted").collect()
    }


def _stored(spark, out):
    return {
        r["conv_id"]: (r["doc"], r["n_turns"], r["n_chars"])
        for r in _store_docs(spark, out).collect()
    }


def test_bootstrap_equals_oneshot_then_noop(spark, tmp_path):
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    res = assembly_tick(spark, out)
    assert res["bootstrap"] is True and res["changed_convs"] == 6
    assert _stored(spark, out) == _oneshot(v1)
    # second tick over unchanged content: a true no-op
    res2 = assembly_tick(spark, out)
    assert res2 == {
        "bootstrap": False, "changed_convs": 0, "removed_convs": 0,
        "convs_total": 6,
    }
    assert _stored(spark, out) == _oneshot(v1)


def test_change_reassembles_only_touched_convs(spark, tmp_path):
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    assembly_tick(spark, out)
    # edit one turn of c2, add a turn to c4, drop conv c5
    v2 = (
        v1.filter(F.col("conv_id") != "c5")
        .withColumn(
            "extracted",
            F.when(
                (F.col("conv_id") == "c2") & (F.col("turn_idx") == 1),
                F.lit("EDITED"),
            ).otherwise(F.col("extracted")),
        )
        .unionByName(
            spark.createDataFrame([("c4", 4, "assistant", "appended")], SCHEMA)
        )
    )
    _write_output(spark, tmp_path, v2)
    res = assembly_tick(spark, out)
    assert res["changed_convs"] == 2  # c2 and c4 only
    assert res["removed_convs"] == 1  # c5 purged
    assert res["convs_total"] == 5
    assert _stored(spark, out) == _oneshot(v2)
    assert "EDITED" in _stored(spark, out)["c2"][0]
    # its fingerprint went with its row: re-adding c5 must re-assemble it
    assert _store_docs(spark, out).filter("conv_id = 'c5'").count() == 0
    _write_output(spark, tmp_path, v1)
    res3 = assembly_tick(spark, out)
    assert res3["changed_convs"] == 3  # c2 + c4 revert, c5 reappears
    assert _stored(spark, out) == _oneshot(v1)


def test_metadata_only_edit_triggers_reassembly(spark, tmp_path):
    """A role flip changes the rendered doc even with identical text —
    the fingerprint must catch it."""
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    assembly_tick(spark, out)
    v2 = v1.withColumn(
        "role",
        F.when(
            (F.col("conv_id") == "c0") & (F.col("turn_idx") == 0), F.lit("system")
        ).otherwise(F.col("role")),
    )
    _write_output(spark, tmp_path, v2)
    res = assembly_tick(spark, out)
    assert res["changed_convs"] == 1
    assert _stored(spark, out)["c0"][0].startswith("<|system|>")


def test_fingerprint_partition_stable_and_null_safe(spark):
    rows = [("c", 0, None, None), ("c", 1, "user", ""), ("d", 0, "u", "x")]
    df = spark.createDataFrame(rows, SCHEMA)
    base = {
        r["conv_id"]: r["conv_sha"]
        for r in conversation_fingerprints(df, text_col="extracted").collect()
    }
    resh = {
        r["conv_id"]: r["conv_sha"]
        for r in conversation_fingerprints(
            df.repartition(7), text_col="extracted"
        ).collect()
    }
    assert base == resh
    # NULL text and empty text are distinct digests (flagged, no sentinel)
    flipped = spark.createDataFrame(
        [("c", 0, None, ""), ("c", 1, "user", None), ("d", 0, "u", "x")], SCHEMA
    )
    other = {
        r["conv_id"]: r["conv_sha"]
        for r in conversation_fingerprints(flipped, text_col="extracted").collect()
    }
    assert other["c"] != base["c"] and other["d"] == base["d"]


def test_params_drift_and_legacy_refusals(spark, tmp_path):
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    assembly_tick(spark, out, max_turns=None)
    with pytest.raises(ValueError, match="drifted"):
        assembly_tick(spark, out, max_turns=2)
    # the retired partitioned layout (meta JSON + state/ + docs/, no
    # _snap/) refuses with the delete-to-re-bootstrap remedy
    legacy = os.path.join(out, "assembled")
    shutil.rmtree(legacy)
    os.makedirs(os.path.join(legacy, "state"))
    with open(os.path.join(legacy, "_assembly_meta.json"), "w") as f:
        json.dump({"params": {}}, f)
    with pytest.raises(RuntimeError, match="delete the assembled/ dir"):
        assembly_tick(spark, out)


def test_max_turns_param_respected(spark, tmp_path):
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    res = assembly_tick(spark, out, max_turns=2)
    assert res["changed_convs"] == 6
    docs = _stored(spark, out)
    assert all(v[1] == 2 for v in docs.values())


def test_cli_assemble_store_standalone_and_composed(spark, tmp_path, capsys):
    """--assemble-store: standalone tick over an existing output, then an
    --incremental crawl loop with the assembly tick composed onto it."""
    from fscrawler_spark.cli import main
    from fscrawler_spark.config import ExtractSettings
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.plans.pipeline import run_extraction_job

    data = generate_transcripts(str(tmp_path / "data"), n_turns=400, seed=21)
    out = str(tmp_path / "out")
    run_extraction_job(spark, data["transcripts"], out, ExtractSettings(num_buckets=4))

    rc = main(["--output", out, "--assemble-store"], spark=spark)
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["assembled"]
    assert res["bootstrap"] is True and res["convs_total"] > 0
    docs = _store_docs(spark, out)
    assert docs.count() == res["convs_total"]

    # composed with an incremental tick: unchanged input -> no-op store tick
    rc = main(
        ["--input", data["transcripts"], "--output", out, "--incremental",
         "--num-buckets", "4", "--assemble-store"],
        spark=spark,
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])["assembled"]
    assert res == {
        "bootstrap": False, "changed_convs": 0, "removed_convs": 0,
        "convs_total": docs.count(),
    }

    # exclusivity: store tick cannot ride a read-only/one-shot verb
    assert main(["--output", out, "--assemble-store", "--doctor"], spark=spark) == 2
    assert main(["--input", data["transcripts"], "--output", out,
                 "--assemble-store", "--clean-text"], spark=spark) == 2


def test_cli_standalone_ticks_both_stores(spark, tmp_path, capsys):
    """--near-dup --assemble-store with only --output must tick BOTH
    stores (not return after the first), and crawl-shaped flags without
    --input are rejected, not silently dropped."""
    from fscrawler_spark.cli import main
    from fscrawler_spark.config import ExtractSettings
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.plans.pipeline import run_extraction_job

    data = generate_transcripts(str(tmp_path / "data"), n_turns=200, seed=33)
    out = str(tmp_path / "out")
    run_extraction_job(spark, data["transcripts"], out, ExtractSettings(num_buckets=4))

    rc = main(["--output", out, "--near-dup", "--assemble-store"], spark=spark)
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["near_dup"]["bootstrap"] is True
    assert res["assembled"]["bootstrap"] is True

    for flags in (["--incremental"], ["--restart"], ["--loop", "3"]):
        assert main(["--output", out, "--assemble-store", *flags], spark=spark) == 2
        assert "need --input" in capsys.readouterr().err


def test_doctor_checks_assembly_store(spark, tmp_path, monkeypatch):
    """The output doctor runs the snapshot-table checks on the store
    root, reports a stale render version, and blesses a healthy store."""
    from fscrawler_spark.config import ExtractSettings
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.plans import assembly_store
    from fscrawler_spark.plans.doctor import check_output
    from fscrawler_spark.plans.pipeline import run_extraction_job

    data = generate_transcripts(str(tmp_path / "data"), n_turns=200, seed=44)
    out = str(tmp_path / "out")
    run_extraction_job(spark, data["transcripts"], out, ExtractSettings(num_buckets=4))
    codes = lambda res: {f["code"] for f in res["findings"]}
    assembly_tick(spark, out)
    res = check_output(spark, out)
    assert res["ok"] is True
    assert not any(c.startswith(("assembly", "table")) for c in codes(res))

    # a committer that died mid-publish leaves a torn manifest temp
    snap = os.path.join(out, "assembled", "_snap")
    open(os.path.join(snap, ".tmp-torn"), "w").close()
    res = check_output(spark, out)
    torn = [f for f in res["findings"] if f["code"] == "table_torn_manifest_temp"]
    assert torn and torn[0]["message"].startswith("assembled/")

    # a store rendered under an older template version -> WARN only
    monkeypatch.setattr(assembly_store, "_ASM_VERSION", assembly_store._ASM_VERSION + 1)
    res = check_output(spark, out)
    assert "assembly_version_stale" in codes(res) and res["ok"] is True


def test_store_tool_param(spark, tmp_path):
    """tool_col is a store param: it renders into docs, rides the
    fingerprint (a tool edit re-assembles), and drifting it refuses."""
    rows = [
        ("c", 0, "user", "ask", None),
        ("c", 1, "assistant", "do", "search"),
        ("d", 0, "assistant", "plain", None),
    ]
    sch = "conv_id string, turn_idx int, role string, extracted string, tool string"
    out = str(tmp_path / "out")
    spark.createDataFrame(rows, sch).write.parquet(os.path.join(out, "docs"))
    res = assembly_tick(spark, out, tool_col="tool")
    assert res["changed_convs"] == 2
    assert "tool=search" in _stored(spark, out)["c"][0]
    # tool edit on an otherwise identical turn -> that conv re-assembles
    rows2 = [r if r[0] != "c" or r[1] != 1 else ("c", 1, "assistant", "do", "browse")
             for r in rows]
    spark.createDataFrame(rows2, sch).write.mode("overwrite").parquet(
        os.path.join(out, "docs")
    )
    res = assembly_tick(spark, out, tool_col="tool")
    assert res["changed_convs"] == 1
    assert "tool=browse" in _stored(spark, out)["c"][0]
    with pytest.raises(ValueError, match="drifted"):
        assembly_tick(spark, out)  # tool_col=None drifts


def test_tick_refuses_schema_gaps_cleanly(spark, tmp_path, capsys):
    """A docs table missing turn columns (or the tool column with
    tool_col) refuses with ValueError — and exits 2 through the CLI —
    instead of an AnalysisException traceback mid-plan."""
    from fscrawler_spark.cli import main

    bare = str(tmp_path / "bare")
    spark.createDataFrame(
        [(0, "c", "x")], "doc_id long, conv_id string, extracted string"
    ).write.parquet(os.path.join(bare, "docs"))
    with pytest.raises(ValueError, match="missing"):
        assembly_tick(spark, bare)
    assert main(["--output", bare, "--assemble-store"], spark=spark) == 2
    assert "missing" in capsys.readouterr().err
    # tool_col missing is the same contract
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    with pytest.raises(ValueError, match="tool"):
        assembly_tick(spark, out, tool_col="tool")
    assert main(["--output", out, "--assemble-store", "--assemble-tools"],
                spark=spark) == 2


def test_crashed_commit_keeps_previous_snapshot_and_retry_is_exact(
    spark, tmp_path, monkeypatch
):
    from tests.test_round4_dedup_store import crash_first_commit

    v1 = _corpus_v1(spark)
    v2 = v1.filter(F.col("conv_id") != "c5").withColumn(
        "extracted",
        F.when(F.col("conv_id") == "c2", F.lit("EDITED")).otherwise(F.col("extracted")),
    )
    ref, out = str(tmp_path / "ref"), str(tmp_path / "out")
    for o in (ref, out):
        v1.write.parquet(os.path.join(o, "docs"))
        assembly_tick(spark, o)
        v2.write.mode("overwrite").parquet(os.path.join(o, "docs"))
    want = assembly_tick(spark, ref)

    t = SnapshotTable(os.path.join(out, "assembled"))
    sid, before = t.current_id(), _stored(spark, out)
    calls = crash_first_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        assembly_tick(spark, out)
    assert calls == [t.root]
    assert t.current_id() == sid and _stored(spark, out) == before == _oneshot(v1)

    assert assembly_tick(spark, out) == want
    rows = lambda o: sorted(tuple(r) for r in _store_docs(spark, o).collect())
    assert rows(out) == rows(ref) and _stored(spark, out) == _oneshot(v2)


def test_compacted_store_keeps_ticking(spark, tmp_path):
    v1 = _corpus_v1(spark)
    out = _write_output(spark, tmp_path, v1)
    assembly_tick(spark, out)
    v2 = v1.withColumn(
        "extracted",
        F.when(F.col("conv_id") == "c1", F.lit("EDITED")).otherwise(F.col("extracted")),
    )
    _write_output(spark, tmp_path, v2)
    assembly_tick(spark, out)
    t = SnapshotTable(os.path.join(out, "assembled"))
    assert t.compact(spark)["rewritten"] >= 2
    v3 = v2.filter(F.col("conv_id") != "c3")
    _write_output(spark, tmp_path, v3)
    res = assembly_tick(spark, out)
    assert res == {
        "bootstrap": False, "changed_convs": 0, "removed_convs": 1,
        "convs_total": 5,
    }
    assert _stored(spark, out) == _oneshot(v3)
