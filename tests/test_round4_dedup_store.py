"""Persisted dedup store (plans/dedup_store.py): bootstrap, no-op
ticks, changed-doc re-clustering, deletion purge, param-drift and
legacy-layout refusals, and crash atomicity of the one-commit tick.
Fixture geometry is shared with test_round4_incremental_dedup (see its
docstring)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from fscrawler_spark.functions import dedup
from fscrawler_spark.plans.dedup_store import dedup_tick
from fscrawler_spark.plans.snapshot_table import SnapshotTable

from tests.test_round4_incremental_dedup import KW, R, TICK1, TICK2

DOCS = TICK1 + TICK2


def _write_docs(spark, out, rows):
    spark.createDataFrame(rows, "doc_id long, extracted string").write.mode(
        "overwrite"
    ).parquet(os.path.join(out, "docs"))


def _store(out):
    return SnapshotTable(os.path.join(out, "dedup"))


def _store_clusters(spark, out):
    return {
        r.id: r.cluster_id
        for r in _store(out).read(spark).filter(F.col("cluster_id").isNotNull()).collect()
    }


def _full(spark, rows):
    df = spark.createDataFrame(rows, "doc_id long, extracted string")
    out = dedup.near_dup_pipeline(df, id_col="doc_id", text_col="extracted", **KW)
    return {r.id: r.cluster_id for r in out.collect()}


def test_bootstrap_then_noop_then_change_then_delete(spark, tmp_path):
    out = str(tmp_path / "out")
    _write_docs(spark, out, DOCS)

    # bootstrap: first tick signs everything and matches the one-shot
    res = dedup_tick(spark, out, **KW)
    assert res["bootstrap"] and res["delta_docs"] == len(DOCS)
    assert _store_clusters(spark, out) == _full(spark, DOCS)

    # steady state: nothing changed -> pure no-op
    res = dedup_tick(spark, out, **KW)
    assert res == {
        "bootstrap": False, "delta_docs": 0, "removed_docs": 0,
        "assignments_upserted": 0, "verified_pairs": 0,
        "clusters_total": len(_full(spark, DOCS)),
    }

    # change: doc 5 moves family (X -> R); only it re-signs
    changed = [(i, t) for i, t in DOCS if i != 5] + [(5, R)]
    _write_docs(spark, out, changed)
    res = dedup_tick(spark, out, **KW)
    assert res["delta_docs"] == 1 and res["removed_docs"] == 0
    assert _store_clusters(spark, out) == _full(spark, changed)

    # delete: doc 12 vanishes; the store purges its row
    final = [(i, t) for i, t in changed if i != 12]
    _write_docs(spark, out, final)
    res = dedup_tick(spark, out, **KW)
    assert res["delta_docs"] == 0 and res["removed_docs"] == 1
    # one row per doc holds its sha, bands and cluster: all gone at once
    assert _store(out).read(spark).filter(F.col("id") == 12).count() == 0
    # surviving member keeps its label (splits are full-sweep territory)
    assert _store_clusters(spark, out)[11] == 5


def test_param_drift_and_legacy_layout_refuse(spark, tmp_path):
    out = str(tmp_path / "out")
    _write_docs(spark, out, TICK1)
    dedup_tick(spark, out, **KW)
    with pytest.raises(ValueError, match="params drifted"):
        dedup_tick(spark, out, **dict(KW, threshold=0.9))
    # a store left in the retired partitioned layout refuses with the
    # delete-to-re-bootstrap remedy instead of being mixed into a table
    legacy = str(tmp_path / "legacy")
    _write_docs(spark, legacy, TICK1)
    os.makedirs(os.path.join(legacy, "dedup", "state"))
    with open(os.path.join(legacy, "dedup", "_dedup_meta.json"), "w") as f:
        json.dump({"params": {}}, f)
    with pytest.raises(RuntimeError, match="delete the dedup/ dir"):
        dedup_tick(spark, legacy, **KW)


def test_missing_docs_table_raises(spark, tmp_path):
    with pytest.raises(FileNotFoundError, match="docs table"):
        dedup_tick(spark, str(tmp_path / "nope"), **KW)


def test_cli_near_dup_flag(spark, tmp_path, capsys):
    from fscrawler_spark.cli import main
    from fscrawler_spark.datagen import generate_transcripts

    paths = generate_transcripts(str(tmp_path / "data"), n_turns=200, seed=5)
    out = str(tmp_path / "out")
    rc = main(
        ["--input", paths["transcripts"], "--output", out, "--num-buckets", "4",
         "--near-dup"],
        spark=spark,
    )
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["near_dup"]["bootstrap"] and res["near_dup"]["delta_docs"] == 200
    assert _store(out).exists()

    # standalone tick over the unchanged output: clean no-op
    rc = main(["--output", out, "--near-dup"], spark=spark)
    assert rc == 0
    res = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert res["near_dup"]["delta_docs"] == 0 and not res["near_dup"]["bootstrap"]

    # conflicts exit 2 cleanly
    assert main(["--output", out, "--near-dup", "--doctor"], spark=spark) == 2
    assert (
        main(
            ["--input", out, "--output", str(tmp_path / "x"), "--near-dup",
             "--clean-text"],
            spark=spark,
        )
        == 2
    )
    err = capsys.readouterr().err
    assert "error:" in err and "Traceback" not in err


def test_changed_doc_becoming_singleton_retires_its_cluster_row(spark, tmp_path):
    # cluster {1,2,3} (near-identical), 40 unique. Tick 2: doc 3's text
    # becomes unique -> it must LEAVE the clusters table (a stale
    # membership row was the round-4 review bug), while {1,2} keep
    # theirs — exactly the one-shot recompute over the final texts.
    core = " ".join(f"s{i}" for i in range(40))
    a = core + " x0 x1 x2 x3 x4 x5 x6 x7"
    b = core + " x0 x1 x2 x3 x4 x5 x6 x8"
    c = core + " x0 x1 x2 x3 x4 x5 x6 x9"
    lone = " ".join(f"q{i}" for i in range(45))
    lone2 = " ".join(f"z{i}" for i in range(45))
    out = str(tmp_path / "out")

    _write_docs(spark, out, [(1, a), (2, b), (3, c), (40, lone)])
    dedup_tick(spark, out, **KW)
    assert _store_clusters(spark, out) == {1: 1, 2: 1, 3: 1}
    before = {r.id: r for r in _store(out).read(spark).collect()}

    final = [(1, a), (2, b), (3, lone2), (40, lone)]
    _write_docs(spark, out, final)
    res = dedup_tick(spark, out, **KW)
    assert res["delta_docs"] == 1 and res["assignments_upserted"] == 0
    assert _store_clusters(spark, out) == _full(spark, final) == {1: 1, 2: 1}
    # doc 3 re-signed (new unique text): its row carries the NEW sha and
    # bands, one bucket per band, and no cluster
    rows = {r.id: r for r in _store(out).read(spark).collect()}
    assert len(rows) == 4  # all four docs signed exactly once
    assert rows[3].cluster_id is None and len(rows[3].buckets) == KW["bands"]
    assert rows[3].content_sha != before[3].content_sha
    assert rows[3].buckets != before[3].buckets
    assert rows[1] == before[1] and rows[40] == before[40]


def crash_first_commit(monkeypatch):
    """Make SnapshotTable._commit raise once — after the tick has staged
    its data files, before the manifest link that publishes them."""
    real = SnapshotTable._commit
    calls = []

    def crash_once(self, *args, **kwargs):
        if not calls:
            calls.append(self.root)
            raise OSError("injected crash before the manifest commit")
        return real(self, *args, **kwargs)

    monkeypatch.setattr(SnapshotTable, "_commit", crash_once)
    return calls


def _rows(spark, out):
    return sorted(tuple(r) for r in _store(out).read(spark).collect())


def test_crashed_commit_keeps_previous_snapshot_and_retry_is_exact(
    spark, tmp_path, monkeypatch
):
    from fscrawler_spark.plans.doctor import check_snapshot_table

    ref, out = str(tmp_path / "ref"), str(tmp_path / "out")
    final = [(i, t) for i, t in DOCS if i != 12] + [(5, R)]
    for o in (ref, out):
        _write_docs(spark, o, DOCS)
        dedup_tick(spark, o, **KW)
        _write_docs(spark, o, final)
    want = dedup_tick(spark, ref, **KW)

    t = _store(out)
    sid, before = t.current_id(), _rows(spark, out)
    calls = crash_first_commit(monkeypatch)
    with pytest.raises(OSError, match="injected"):
        dedup_tick(spark, out, **KW)
    assert calls == [t.root]
    # the staged files are unreferenced; the previous snapshot is current
    assert "table_orphan_data_files" in {f["code"] for f in check_snapshot_table(t.root)}
    assert t.current_id() == sid and _rows(spark, out) == before

    assert dedup_tick(spark, out, **KW) == want
    assert _rows(spark, out) == _rows(spark, ref)
    assert _store_clusters(spark, out) == _full(spark, final)


def test_compacted_store_keeps_ticking(spark, tmp_path):
    out = str(tmp_path / "out")
    _write_docs(spark, out, DOCS)
    dedup_tick(spark, out, **KW)
    changed = [(i, t) for i, t in DOCS if i != 5] + [(5, R)]
    _write_docs(spark, out, changed)
    dedup_tick(spark, out, **KW)
    assert _store(out).compact(spark)["rewritten"] >= 2
    final = [(i, t) for i, t in changed if i != 12]
    _write_docs(spark, out, final)
    res = dedup_tick(spark, out, **KW)
    assert res["delta_docs"] == 0 and res["removed_docs"] == 1
    assert _store_clusters(spark, out) == _full(spark, final)
