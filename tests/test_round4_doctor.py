"""Round 4: the read-only output-table consistency checker
(plans/doctor.check_output + CLI --doctor)."""

import json
import os
import shutil

from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.plans.doctor import check_output
from fscrawler_spark.plans.pipeline import run_extraction_job, run_incremental_update

SETTINGS = ExtractSettings(num_buckets=4, skew_salt=4)


def _codes(res):
    return {f["code"] for f in res["findings"]}


def test_doctor_healthy_after_run_and_tick(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "ok")
    run_extraction_job(spark, inp, out, SETTINGS)
    res = check_output(spark, out)
    assert res["ok"] is True and res["findings"] == []
    # still healthy after a mutating tick (lineage rows reconcile)
    v2 = spark.read.parquet(inp).withColumn(
        "text",
        F.when(F.col("turn_idx") % 7 == 2, F.concat(F.col("text"), F.lit(" d"))).otherwise(
            F.col("text")
        ),
    )
    v2p = str(tmp_path / "v2.parquet")
    v2.write.parquet(v2p)
    run_incremental_update(spark, v2p, out, SETTINGS)
    res = check_output(spark, out)
    assert res["ok"] is True, res["findings"]


def test_doctor_flags_torn_restart_and_stale_lock(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "torn")
    run_extraction_job(spark, inp, out, SETTINGS)
    (tmp_path / "torn" / "_restarting").write_text("torn\n")
    with open(os.path.join(out, "_job.lock"), "w") as f:
        json.dump({"pid": 2 ** 22 + 4321, "what": "crashed"}, f)
    res = check_output(spark, out)
    assert res["ok"] is False
    assert {"torn_restart", "stale_lock"} <= _codes(res)


def test_doctor_flags_lost_metrics_and_unmetered_write(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "lost")
    run_extraction_job(spark, inp, out, SETTINGS)
    # simulate metrics loss
    shutil.rmtree(os.path.join(out, "metrics"))
    res = check_output(spark, out)
    assert res["ok"] is False and "no_metrics" in _codes(res)
    # a write that bypassed lineage: append rows directly to one bucket
    run_extraction_job(spark, inp, out, SETTINGS)  # no-op (completed) but re-meters nothing
    docs = os.path.join(out, "docs")
    some = spark.read.parquet(docs).limit(5)
    some.drop("part_bucket").write.mode("append").parquet(
        os.path.join(docs, "part_bucket=0")
    )
    res = check_output(spark, out)
    assert res["ok"] is False
    assert "metrics_mismatch" in _codes(res) or "unmetered_buckets" in _codes(res)


def test_doctor_flags_snapshot_drift(spark, transcripts_dir, tmp_path):
    from fscrawler_spark.plans import bucketed as snap

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "drift")
    run_extraction_job(spark, inp, out, SETTINGS)
    run_incremental_update(spark, inp, out, SETTINGS, layout="bucketed")  # builds index
    assert check_output(spark, out)["ok"] is True
    # mutate docs BEHIND the engine's back (marker stays committed)
    docs = os.path.join(out, "docs")
    extra = spark.read.parquet(docs).limit(3)
    extra.drop("part_bucket").write.mode("append").parquet(
        os.path.join(docs, "part_bucket=1")
    )
    res = check_output(spark, out)
    assert res["ok"] is False and "snapshot_drift" in _codes(res)
    spark.sql(f"DROP TABLE IF EXISTS {snap.snapshot_table_name(out)}")


def test_doctor_accepts_legacy_manifest_and_rejects_nondict(spark, transcripts_dir, tmp_path):
    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "legacy")
    run_extraction_job(spark, inp, out, SETTINGS)
    ckpt = os.path.join(out, "_checkpoint.json")
    with open(ckpt) as f:
        m = json.load(f)
    # rewrite in the PRE-MIGRATION key (checkpoint.py migrates it on load;
    # the doctor must apply the same mapping, not cry foreign-write)
    m["completed_buckets"] = m.pop("completed")
    with open(ckpt, "w") as f:
        json.dump(m, f)
    res = check_output(spark, out)
    assert res["ok"] is True, res["findings"]
    # valid JSON that is NOT an object = corrupt, not silently healthy
    with open(ckpt, "w") as f:
        f.write("[]")
    res = check_output(spark, out)
    assert res["ok"] is False and "corrupt_manifest" in _codes(res)


def test_doctor_mid_flight_crash_states_are_warnings(spark, transcripts_dir, tmp_path):
    """Kill between wave write and checkpoint (or before lineage): the
    next run self-heals — doctor must say WARN, not steer toward manual
    repair."""
    import pytest

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="injected failure"):
        run_extraction_job(spark, inp, out, SETTINGS, fail_after_buckets=1)
    res = check_output(spark, out)
    # docs hold buckets the manifest completed, and possibly more from the
    # killed wave; whatever is flagged must be WARN-only about the crash
    assert res["ok"] is True, res["findings"]
    for f in res["findings"]:
        assert f["severity"] == "WARN"
    # the healing rerun restores full health
    run_extraction_job(spark, inp, out, SETTINGS)
    assert check_output(spark, out)["ok"] is True


def test_has_parquet_files_ignores_uncommitted_temporary(spark, tmp_path):
    """A crashed in-flight write leaves ONLY _temporary files — invisible
    to Spark's reader, so the probe must say False (saying True sends
    callers into Unable-to-infer-schema)."""
    from fscrawler_spark.operators.deletes import has_parquet_files

    d = tmp_path / "docs" / "_temporary" / "0"
    d.mkdir(parents=True)
    (d / "part-0000.parquet").write_bytes(b"not really parquet")
    assert has_parquet_files(spark, str(tmp_path / "docs")) is False
    # a committed file flips it
    c = tmp_path / "docs" / "part_bucket=0"
    c.mkdir()
    (c / "part-0001.parquet").write_bytes(b"x")
    assert has_parquet_files(spark, str(tmp_path / "docs")) is True


def test_doctor_snapshot_drift_over_emptied_docs(spark, transcripts_dir, tmp_path):
    """The worst drift: committed marker + non-empty index over an
    emptied docs table — the next bucketed tick would silently
    re-extract nothing."""
    import shutil

    from fscrawler_spark.plans import bucketed as snap

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "emptied")
    run_extraction_job(spark, inp, out, SETTINGS)
    run_incremental_update(spark, inp, out, SETTINGS, layout="bucketed")
    # wipe docs behind the engine's back, leave marker + index in place
    shutil.rmtree(os.path.join(out, "docs"))
    os.makedirs(os.path.join(out, "docs"))
    res = check_output(spark, out)
    assert "snapshot_drift" in _codes(res) and res["ok"] is False
    spark.sql(f"DROP TABLE IF EXISTS {snap.snapshot_table_name(out)}")


def test_cli_doctor_exit_codes(spark, transcripts_dir, tmp_path, capsys):
    from fscrawler_spark.cli import main

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "cli")
    run_extraction_job(spark, inp, out, SETTINGS)
    assert main(["--doctor", "--output", out], spark=spark) == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["ok"] is True
    (tmp_path / "cli" / "_restarting").write_text("x\n")
    assert main(["--doctor", "--output", out], spark=spark) == 3


def test_doctor_flags_malformed_manifest_fields(spark, tmp_path):
    out = str(tmp_path / "badfields")
    os.makedirs(out)
    with open(os.path.join(out, "_checkpoint.json"), "w") as f:
        f.write('{"num_buckets": "x", "completed": ["a"], "state": "COMPLETED"}')
    res = check_output(spark, out)  # must report, never traceback
    assert res["ok"] is False and "corrupt_manifest" in _codes(res)


def test_cli_doctor_refuses_mutating_combos(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main

    out = str(tmp_path / "combo")
    os.makedirs(out)
    for extra in (["--restart"], ["--incremental"], ["--dry-run"], ["--compact"]):
        assert main(["--doctor", "--output", out, "--input", "x", *extra], spark=spark) == 2
    capsys.readouterr()


def test_standalone_apply_deletes_invalidates_snapshot(spark, transcripts_dir, tmp_path):
    """apply_deletes is a public mutation entry point: a bucketed tick
    after a direct delete must re-diff against the REAL table, not a
    stale index (which would resurrect/phantom the deleted key)."""
    from fscrawler_spark.operators.deletes import apply_deletes
    from fscrawler_spark.plans import bucketed as snap

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "directdel")
    run_extraction_job(spark, inp, out, SETTINGS)
    run_incremental_update(spark, inp, out, SETTINGS, layout="bucketed")  # index built
    assert snap.snapshot_is_valid(spark, out, SETTINGS.num_buckets, SETTINGS.fingerprint())
    victim = spark.read.parquet(os.path.join(out, "docs")).select(
        "conv_id", "turn_idx"
    ).orderBy("conv_id", "turn_idx").limit(3)
    n = apply_deletes(spark, os.path.join(out, "docs"), victim)
    assert n == 3
    assert not snap.snapshot_is_valid(
        spark, out, SETTINGS.num_buckets, SETTINGS.fingerprint()
    )
    # the next bucketed tick rebuilds and re-extracts the deleted keys
    res = run_incremental_update(spark, inp, out, SETTINGS, layout="bucketed")
    assert res["changed"] == 3
    spark.sql(f"DROP TABLE IF EXISTS {snap.snapshot_table_name(out)}")


def test_doctor_checks_dedup_store(spark, transcripts_dir, tmp_path, monkeypatch):
    from fscrawler_spark.plans import dedup_store
    from fscrawler_spark.plans.dedup_store import dedup_tick

    inp = os.path.join(transcripts_dir, "transcripts.parquet")
    out = str(tmp_path / "ds")
    run_extraction_job(spark, inp, out, SETTINGS)
    dedup_tick(spark, out)
    res = check_output(spark, out)
    assert res["ok"] is True, res["findings"]
    root = os.path.join(out, dedup_store.STORE_DIR)

    # stale signature scheme -> WARN only, read off the manifest summary
    with monkeypatch.context() as m:
        m.setattr(dedup_store, "_SIG_VERSION", dedup_store._SIG_VERSION + 1)
        res = check_output(spark, out)
    assert res["ok"] and "dedup_sig_stale" in _codes(res)

    # the store root gets the snapshot-table checks: a data file
    # rewritten in place -> ERROR
    data = os.path.join(root, "data")
    victim = os.path.join(data, sorted(os.listdir(data))[0])
    with open(victim, "ab") as f:
        f.write(b"x")
    res = check_output(spark, out)
    assert not res["ok"] and "table_file_length_drift" in _codes(res)

    # the retired partitioned layout (meta JSON, no _snap/) -> WARN only
    shutil.rmtree(root)
    os.makedirs(os.path.join(root, "state"))
    with open(os.path.join(root, "_dedup_meta.json"), "w") as f:
        json.dump({"params": {}}, f)
    res = check_output(spark, out)
    assert res["ok"] and "dedup_legacy_layout" in _codes(res)
