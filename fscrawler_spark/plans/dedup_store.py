"""Persisted near-dup store under an extraction output — the wiring
that turns functions/incremental_dedup into a steady-state pipeline
feature: each call diffs the docs table against what was signed last,
re-signs ONLY the delta, and commits it to one keyed snapshot table.

Layout: ``<output_dir>/dedup/`` is a SnapshotTable (plans/snapshot_table)
with one row per doc, keyed by ``id``:

  (id, content_sha, buckets, cluster_id)

``content_sha`` is what was signed last tick; ``buckets`` is the doc's
LSH band index as an array whose position is the band (``_banded`` emits
exactly ``bands`` rows per doc); ``cluster_id`` is the accumulated
assignment, NULL for a singleton. A tick derives incremental_near_dup's
band index with ``posexplode(buckets)`` and its clusters with a
not-NULL filter.

One commit protocol, the same as the publish and view tables: the first
tick bootstraps with ``overwrite``; every later tick is ONE
``apply_delta`` — upserts for the changed docs and for surviving docs
whose cluster the tick reassigns, deletes for vanished ids. A crash
anywhere before that commit leaves the previous snapshot current, and
the next tick redoes the same delta. Safety contract:
  * params are fingerprinted in the commit summary (STORE_PARAMS_KEY) —
    a tick with different (num_hashes, bands, threshold, max_bucket,
    hash_family) REFUSES instead of silently mixing incompatible
    signatures; compact and rollback carry the fingerprint forward.
  * the per-output job lock serializes against extraction ticks.

Like any snapshot table the store time-travels, serves ``--table-changes``
(``--table-keys id``), and keeps old snapshots on disk until
``--table-history --table-expire N --output <out>/dedup`` reclaims them.

The first call auto-bootstraps (everything is a delta), so there is no
separate build step. Deleted docs: their rows are purged (ghost bands
would waste candidates); assignments of SURVIVING members of their
clusters keep their labels — cluster splits are full-sweep territory
(see functions/incremental_dedup docstring).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.functions.incremental_dedup import incremental_near_dup
from fscrawler_spark.plans.snapshot_table import (
    DATA_DIR,
    SNAP_DIR,
    STORE_PARAMS_KEY,
    SnapshotTable,
)
from fscrawler_spark.session import materialize

STORE_DIR = "dedup"
# a materialized frame keeps its pre-materialization size estimate, so
# the planner cannot see that a tick's key sets are delta-sized: sets up
# to this many rows ride their joins as explicit broadcasts
_BROADCAST_ROWS = 100_000
# bump when the signature math changes (band rows become incomparable):
# 2 = the 2^31-1 permutation-modulus fix. Rides the params fingerprint,
# so a store signed under the old math refuses loudly instead of
# silently mixing incompatible buckets.
_SIG_VERSION = 2


def legacy_layout(root: str) -> bool:
    """True when ``root`` holds no committed snapshot but files the table
    format does not write — the retired partitioned store layout. A
    crashed first commit leaves only data/ and _stage-*, which the
    bootstrap simply overwrites."""
    if not os.path.isdir(root) or SnapshotTable(root).exists():
        return False
    return any(
        n not in (SNAP_DIR, DATA_DIR) and not n.startswith("_stage-")
        for n in os.listdir(root)
    )


def _open_store(root: str, params: dict, noun: str) -> SnapshotTable:
    """The store table at ``root`` after the gate both stores share:
    refuse params drift (mixing incompatible rows would corrupt
    silently) and a legacy layout."""
    table = SnapshotTable(root)
    name = os.path.basename(root)
    if table.exists():
        have = table.manifest().get(STORE_PARAMS_KEY)
        if have != params:
            raise ValueError(
                f"{noun} store params drifted: store has {have}, tick asked "
                f"for {params}; delete the {name}/ dir to re-bootstrap with "
                "the new params"
            )
    elif legacy_layout(root):
        raise RuntimeError(
            f"{noun} store at {root} has no snapshot table (the retired "
            f"partitioned layout); delete the {name}/ dir to re-bootstrap"
        )
    return table


def _docs_table(spark: SparkSession, output_dir: str) -> DataFrame:
    from fscrawler_spark.operators.deletes import has_parquet_files

    docs_path = os.path.join(output_dir, "docs")
    if not has_parquet_files(spark, docs_path):
        raise FileNotFoundError(
            f"no docs table at {docs_path} — run run_extraction_job first"
        )
    return spark.read.parquet(docs_path)


def _small(df: DataFrame, n_rows: int) -> DataFrame:
    return F.broadcast(df) if n_rows <= _BROADCAST_ROWS else df


def _content_diff(
    cur: DataFrame, stored: DataFrame | None, key: str, sha: str
) -> tuple[DataFrame, DataFrame | None, int, int]:
    """(changed (key, sha), gone (key) or None when nothing vanished,
    n_changed, n_gone) of ``cur`` against the stored (key, sha): ONE
    full-outer join, materialized delta-sized, and ONE aggregate for both
    counts. A key is CHANGED when present in cur without an equal stored
    sha, GONE when only stored. ``stored=None`` (bootstrap) makes every
    key changed. ``sha`` must never be NULL in ``cur``."""
    if stored is None:
        changed = materialize(cur)
        return changed, None, changed.count(), 0
    gone_f = F.col(sha).isNull()
    diff = materialize(
        cur.join(stored.select(key, F.col(sha).alias("_stored")), key, "full_outer")
        .filter(gone_f | ~F.col(sha).eqNullSafe(F.col("_stored")))
        .select(key, sha, gone_f.alias("_gone"))
    )
    counts = diff.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.col("_gone").cast("long")).alias("g")
    ).first()
    n_gone = int(counts["g"] or 0)
    return (
        diff.filter(~F.col("_gone")).select(key, sha),
        diff.filter(F.col("_gone")).select(key) if n_gone else None,
        int(counts["n"]) - n_gone,
        n_gone,
    )


def _commit(
    spark: SparkSession,
    table: SnapshotTable,
    upserts: DataFrame | None,
    deletes: DataFrame | None,
    key: str,
    params: dict,
) -> None:
    """The tick's ONE atomic commit: a clustered overwrite bootstraps,
    every later tick is one stats-pruned apply_delta."""
    extra = {STORE_PARAMS_KEY: params}
    if table.exists():
        table.apply_delta(
            spark, upserts, deletes, keys=(key,), stat_cols=(key,), extra=extra
        )
    else:
        table.overwrite(spark, upserts, stat_cols=(key,), cluster_by=(key,), extra=extra)


def _rows(table: SnapshotTable) -> int:
    """Row count off the manifest — no Spark job."""
    return sum(e.rows for e in table.files()) if table.exists() else 0


def dedup_tick(
    spark: SparkSession,
    output_dir: str,
    corpus: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "extracted",
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.8,
    max_bucket: int | None = 1000,
    hash_family: str = "fast",
) -> dict:
    """One dedup tick over ``corpus`` (default: the docs table at
    ``output_dir``). Signs/banded-indexes only docs whose content sha
    changed since the last tick, clusters them against the persisted
    store, and commits the result as one snapshot. Returns
    ``{bootstrap, delta_docs, removed_docs, assignments_upserted,
    verified_pairs, clusters_total}``. The first call over a fresh
    output IS the bootstrap (delta = everything).

    Reference analog: none — the reference's tick (FsParser.java:
    1200-1215) updates its index incrementally; this does the same for
    the dedup tier the reference lacks.
    """
    from fscrawler_spark.plans.pipeline import _JobLock

    with _JobLock(output_dir, "dedup-tick"):
        return _dedup_tick_impl(
            spark, output_dir, corpus, id_col, text_col, num_hashes,
            bands, threshold, max_bucket, hash_family,
        )


def _dedup_tick_impl(
    spark: SparkSession,
    output_dir: str,
    corpus: DataFrame | None,
    id_col: str,
    text_col: str,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_bucket: int | None,
    hash_family: str,
) -> dict:
    params = {
        "num_hashes": num_hashes,
        "bands": bands,
        "threshold": threshold,
        "max_bucket": max_bucket,
        "hash_family": hash_family,
        "sig_version": _SIG_VERSION,
    }
    table = _open_store(os.path.join(output_dir, STORE_DIR), params, "dedup")
    if corpus is None:
        corpus = _docs_table(spark, output_dir)

    # content diff vs the signed state: sha never NULL so the diff can't
    # leak null-text docs past the delta
    cur = corpus.select(
        F.col(id_col).alias("id"),
        F.coalesce(F.sha2(F.col(text_col).cast("string"), 256), F.lit("<null>")).alias(
            "content_sha"
        ),
    )
    stored = table.read(spark) if table.exists() else None
    changed, gone, n_delta, n_gone = _content_diff(cur, stored, "id", "content_sha")
    n_pairs = n_assign = 0
    upserts = None
    if n_delta:
        band_index = clusters = live = None
        if stored is not None:
            # vanished docs leave the store this tick: they must neither
            # probe as candidates nor be relabeled back in as bystanders
            live = stored
            if gone is not None:
                live = stored.join(_small(gone, n_gone), "id", "left_anti")
            band_index = live.select("id", F.posexplode("buckets").alias("band", "bucket"))
            clusters = live.filter(F.col("cluster_id").isNotNull()).select(
                "id", "cluster_id"
            )
        changed_docs = corpus.join(
            _small(changed.select(F.col("id").alias(id_col)), n_delta), id_col, "left_semi"
        )
        res = incremental_near_dup(
            changed_docs, corpus, band_index, clusters,
            id_col=id_col, text_col=text_col, num_hashes=num_hashes,
            bands=bands, threshold=threshold, max_bucket=max_bucket,
            hash_family=hash_family,
        )
        assignments = materialize(res["assignments"].select("id", "cluster_id"))
        n_pairs = res["verified_pairs"].count()
        n_assign = assignments.count()
        assigned = _small(assignments, n_assign)
        buckets = (
            res["band_delta"]
            .groupBy("id")
            .agg(F.sort_array(F.collect_list(F.struct("band", "bucket"))).alias("_b"))
            .select("id", F.col("_b.bucket").alias("buckets"))
        )
        signed = changed.join(buckets, "id", "left")
        if live is not None:
            # surviving docs the tick relabels keep their signature
            signed = signed.unionByName(
                live.select("id", "content_sha", "buckets")
                .join(assigned, "id", "left_semi")
                .join(_small(changed, n_delta), "id", "left_anti")
            )
        # a changed doc absent from assignments is now a singleton: its
        # cluster_id goes NULL
        upserts = materialize(
            signed.join(assigned, "id", "left").select(
                "id", "content_sha", "buckets", "cluster_id"
            )
        )
    if n_delta or n_gone:
        _commit(spark, table, upserts, gone, "id", params)
    clusters_total = (
        table.read(spark).filter(F.col("cluster_id").isNotNull()).count()
        if table.exists()
        else 0
    )
    return {
        "bootstrap": stored is None,
        "delta_docs": n_delta,
        "removed_docs": n_gone,
        "assignments_upserted": n_assign,
        "verified_pairs": n_pairs,
        "clusters_total": clusters_total,
    }
