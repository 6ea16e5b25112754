"""End-to-end extraction job: read -> filter -> extract -> partitioned
write + per-partition lineage/metrics + checkpoint-resume.

Lifecycle analog of the reference's FsParser.run() crawl loop
(/root/reference/core/.../FsParser.java:310-557), re-expressed as one
declarative DataFrame plan per run:

* the BFS directory queue        -> Spark task scheduling over buckets
* bulk processor batching (S7)   -> per-task parquet writes
* retry/backoff (S8, W3)         -> spark.task.maxFailures + driver
                                    re-drive of failed waves (bounded by
                                    settings.max_wave_retries, recorded
                                    in the manifest's retry_count /
                                    last_error — FsCrawlerCheckpoint.java:41-115)
* pause/resume/status (REST)     -> _pause marker honored between waves +
                                    manifest.status() snapshot
                                    (CrawlerApi.java:55-151, FsParser.java:186-307)
* ScanStatistic (A1/A2/A4)       -> metrics table aggregated per bucket
* _checkpoint.json (W3/W4)       -> CheckpointManifest of completed buckets

Scale notes (100 TB): the only Python boundary is the extraction UDF; no
shuffle exists between scan and sink — the plan is scan -> filter ->
project(UDF) -> write, i.e. embarrassingly parallel. Metrics are computed
by reading BACK the written output with column pruning (cheap columns
only), never by caching the full extraction result.
"""

from __future__ import annotations

import logging
import os
import threading
import uuid
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.config import ExtractSettings
from fscrawler_spark.operators.extract import extract_transcripts
from fscrawler_spark.operators.stats import parse_failure_flag
from fscrawler_spark.plans.checkpoint import CheckpointManifest
from fscrawler_spark.session import dynamic_partition_overwrite, materialize
from fscrawler_spark.sources.transcripts import (
    SNAP_INPUT_PREFIX,
    parse_snap_input,
    read_transcripts,
)

# rebuild-path anti-join key sets broadcast below this many keys
# (~50 B/key ⇒ ≲100 MB executor-side at the cap); above it the delta is
# genuinely large and a shuffled SMJ against the touched buckets is the
# correct plan — the knob bounds memory, not correctness
BROADCAST_KEYS_MAX = 2_000_000

LINEAGE_COLS = [
    "run_id",
    "part_bucket",
    "conv_count",
    "turn_count",
    "bytes_in",
    "bytes_out",
    "parse_failures",
    "needs_ocr",
    "span_count",
]

LINEAGE_SCHEMA = (
    "run_id string, part_bucket int, conv_count bigint, turn_count bigint, "
    "bytes_in bigint, bytes_out bigint, parse_failures bigint, needs_ocr bigint, "
    "span_count bigint"
)


# scheme-agnostic parquet-file probe, shared with apply_deletes' emptied-
# table no-op (one Hadoop-FS implementation, no drift)
from fscrawler_spark.operators.deletes import has_parquet_files as _has_parquet_files  # noqa: E402


def _dir_exists(spark: SparkSession, path: str) -> bool:
    """Scheme-agnostic existence probe (os.path.isdir is always False for
    s3a://, hdfs://... — which would make a remote tick refuse to run and
    metrics dedup silently re-append every bucket)."""
    from fscrawler_spark.operators.deletes import _fs_for

    HPath, fs = _fs_for(spark, path)
    return fs.exists(HPath(path))


def _already_metered(spark: SparkSession, out_metrics: str) -> set[int]:
    # _has_parquet_files, not a bare existence probe: a metrics dir left
    # behind by a crashed FIRST append (only _temporary/ inside) would
    # AnalysisException the recovery rerun
    if not _has_parquet_files(spark, out_metrics):
        return set()
    return {
        r["part_bucket"]
        for r in spark.read.parquet(out_metrics).select("part_bucket").distinct().collect()
    }


def _write_lineage(
    spark: SparkSession, out_data: str, out_metrics: str, run_id: str, targets: list[int]
) -> list:
    """ONE shared lineage append for all three call sites (full-job,
    not-pending backfill, incremental tick): read back the cheap columns
    when parquet exists, else emit explicit zero rows (a completed-but-
    empty table must still meter every bucket). Executes the aggregation
    once (rows collected, written back as literals) and returns the rows
    so callers can fold counters without a second scan."""
    from pyspark.sql import Row

    if not targets:
        return []
    targets = sorted(int(b) for b in targets)
    if _has_parquet_files(spark, out_data):
        out_df = spark.read.parquet(out_data).filter(F.col("part_bucket").isin(targets))
        mrows = bucket_metrics(out_df, run_id, buckets=targets).collect()
    else:
        zero = Row(*LINEAGE_COLS)
        mrows = [zero(run_id, b, 0, 0, 0, 0, 0, 0, 0) for b in targets]
    spark.createDataFrame(mrows, LINEAGE_SCHEMA).write.mode("append").parquet(out_metrics)
    return mrows


def bucket_metrics(out_df: DataFrame, run_id: str, buckets: list[int] | None = None) -> DataFrame:
    """Per-partition lineage/metrics rows (north_star requirement;
    ScanStatistic analog, beans/ScanStatistic.java:33-38).

    ``buckets``: when given, emits an explicit zero row for any bucket
    with no output rows — a completed-but-empty bucket still gets its
    lineage row (otherwise it would look permanently unmetered and
    resume runs would re-attempt the backfill forever).

    conv_count is EXACT (count_distinct): lineage rows reconcile against
    output tables, and per-bucket conversation cardinality is small.
    """
    agg = out_df.groupBy("part_bucket").agg(
        F.count_distinct("conv_id").alias("conv_count"),
        F.count(F.lit(1)).alias("turn_count"),
        F.sum(F.col("file.filesize")).alias("bytes_in"),
        F.sum(F.coalesce(F.octet_length("extracted"), F.lit(0))).alias("bytes_out"),
        # genuine failures only: needs_ocr rows are NOT parse failures —
        # the two counters partition the error space (stats.parse_failure_flag)
        F.sum(parse_failure_flag()).alias("parse_failures"),
        # T5: image-like rows awaiting an OCR pass, counted separately so
        # they are distinguishable from genuinely broken rows downstream
        F.sum(F.when(F.col("error") == "needs_ocr", 1).otherwise(0)).alias("needs_ocr"),
        F.sum(F.size("spans")).alias("span_count"),
    )
    if buckets is not None:
        spark = out_df.sparkSession
        base = spark.createDataFrame([(int(b),) for b in buckets], "part_bucket int")
        agg = base.join(agg, "part_bucket", "left").fillna(
            0,
            [
                "conv_count",
                "turn_count",
                "bytes_in",
                "bytes_out",
                "parse_failures",
                "needs_ocr",
                "span_count",
            ],
        )
    return agg.withColumn("run_id", F.lit(run_id)).select(LINEAGE_COLS)


def job_status(output_dir: str) -> dict:
    """Status snapshot for a job directory (REST GET /_crawler/status
    analog). Safe to call while a run is in flight — reads the manifest
    file, never touches Spark."""
    ckpt_path = os.path.join(output_dir, "_checkpoint.json")
    if not os.path.exists(ckpt_path):
        return {"state": "NOT_STARTED", "completed_buckets": 0}
    return CheckpointManifest.load_or_create(ckpt_path).status()


def schedule_next_check(output_dir: str, delay_s: float) -> float:
    """Persist next_check = now + delay into the manifest
    (updateCheckpointAsCompleted analog, FsParser.java:663-688).
    Returns the epoch written."""
    import time

    nc = time.time() + delay_s
    CheckpointManifest.load_or_create(
        os.path.join(output_dir, "_checkpoint.json")
    ).set_next_check(nc)
    return nc


def should_wake(
    elapsed_s: float,
    max_wait_s: float,
    next_check_epoch: float | None,
    now_epoch: float,
) -> str | None:
    """Pure wake decision for the between-runs sleep loop
    (FsParser.java:488-556 + shouldWakeFromCheckpoint :1401-1417):
    'timeout' when the full update-rate elapsed, 'next_check' when the
    PERSISTED next_check has passed (an external actor pulled the next
    run forward), else None (keep sleeping)."""
    if elapsed_s >= max_wait_s:
        return "timeout"
    if next_check_epoch is not None and now_epoch >= next_check_epoch:
        return "next_check"
    return None


def sleep_until_next_run(
    output_dir: str, max_wait_s: float, poll_s: float = 1.0
) -> str:
    """Sleep up to ``max_wait_s``, re-reading the manifest each poll so a
    next_check moved into the past wakes the loop early. Returns the wake
    reason ('timeout' | 'next_check')."""
    import time

    started = time.monotonic()
    while True:
        nc = job_status(output_dir).get("next_check")
        reason = should_wake(time.monotonic() - started, max_wait_s, nc, time.time())
        if reason:
            return reason
        time.sleep(min(poll_s, max(0.0, max_wait_s - (time.monotonic() - started))))


def request_pause(output_dir: str) -> None:
    """Ask a running (or future) job to pause between waves
    (POST /_crawler/pause analog)."""
    CheckpointManifest(os.path.join(output_dir, "_checkpoint.json")).request_pause()


def _publish_to_table(
    spark: SparkSession,
    out_data: str,
    manifest: "CheckpointManifest",
    table_root: str,
    run_id: str,
    upsert_df=None,
    delete_df=None,
    counters: dict | None = None,
    mutated: bool = True,
    pub: dict | None | str = "FROM_MANIFEST",
) -> dict:
    """Publish the extraction output to a snapshot table
    (plans/snapshot_table.py) — the north_star's "write results back to a
    partitioned Iceberg table": every publish is ONE atomic table commit
    whose manifest carries the run's counters (snapshot-summary analog),
    so the extraction history is time-travelable/rollback-able like any
    other table.

    Two modes, picked by the recorded correspondence
    (CheckpointManifest.published):

    * **delta** — the table provably equals the PRE-tick output (recorded
      root+snapshot_id still match ``table.current_id()``): apply exactly
      this tick's delta via apply_delta (MERGE + DELETE in one commit,
      stats-pruned to the touched data files) — O(delta + touched files),
      the corpus never rides the publish.
    * **bootstrap** — no recorded correspondence (first publish, an
      unpublished mutation cleared it, an external writer advanced the
      table, or a different table root): full overwrite of the output
      contents, range-clustered by (conv_id, turn_idx) so later delta
      publishes prune sharply. O(corpus), once.

    A crash between the table commit and the manifest record leaves the
    recorded id stale ⇒ the next publish detects the mismatch and
    re-bootstraps — never a silent half-applied table.

    ``pub`` is the correspondence record to validate against — by default
    the manifest's current one. The mutating tick path passes the record
    it captured BEFORE durably clearing the field (see
    run_incremental_update's mutations-begin block): the clear protects
    against a crash landing between the output mutation and this call,
    while the captured record lets the surviving path keep delta mode.
    """
    from fscrawler_spark.plans.snapshot_table import SnapshotTable

    root = os.path.abspath(table_root)
    tbl = SnapshotTable(root)
    if pub == "FROM_MANIFEST":
        pub = manifest.published
    tbl_uuid = tbl.table_uuid() if tbl.exists() else None
    in_sync = (
        bool(pub)
        and pub.get("root") == root
        and tbl.exists()
        and tbl.current_id() == pub.get("snapshot_id")
        # lineage identity: snapshot ids are table-local and restart at 1,
        # so a drop-and-recreate at the same root can reach a current_id
        # that coincidentally matches the record — the uuid catches it and
        # forces a bootstrap. Either side None (legacy record/table) keeps
        # the root+id check alone, as before.
        and (
            pub.get("table_uuid") is None
            or tbl_uuid is None
            or pub.get("table_uuid") == tbl_uuid
        )
    )
    extra = {"published_by": run_id, **(counters or {})}
    if in_sync and not mutated:
        # no-op tick over an in-sync table: nothing to commit. If the
        # caller's pre-mutation clear fired but nothing actually mutated
        # (e.g. vanished keys that hit no stored rows), restore the still-
        # valid record so the next tick keeps delta mode.
        if manifest.published != pub:
            manifest.set_published(root, pub["snapshot_id"], pub.get("table_uuid"))
        return {
            "root": root,
            "snapshot_id": pub["snapshot_id"],
            "mode": "noop",
            "files_rewritten": 0,
        }
    if in_sync:
        res = tbl.apply_delta(spark, upsert_df, delete_df, extra=extra)
        manifest.set_published(root, res["snapshot_id"], tbl.table_uuid())
        return {
            "root": root,
            "snapshot_id": res["snapshot_id"],
            "mode": "delta",
            "files_rewritten": res["files_rewritten"],
        }
    if not _has_parquet_files(spark, out_data):
        # a legitimately EMPTIED output (a tick's deletions removed the
        # last rows — documented no-op state in apply_deletes) must still
        # be mirrorable: when the table already exists, the correct
        # bootstrap is an empty overwrite in the table's own schema.
        # Otherwise publishing would wedge (every tick exits on this
        # error AFTER mutating the output) and the table would strand its
        # stale rows forever. Refuse only when there is ALSO no table —
        # then there is genuinely no schema to bootstrap from.
        if tbl.exists():
            sid = tbl.overwrite(
                spark, spark.createDataFrame([], tbl.schema()), extra=extra
            )
            manifest.set_published(root, sid, tbl.table_uuid())
            return {
                "root": root,
                "snapshot_id": sid,
                "mode": "bootstrap",
                "files_rewritten": None,
            }
        raise ValueError(
            f"publish: {out_data} holds no data files — nothing to bootstrap "
            "the table from (run the extraction first)"
        )
    sid = tbl.overwrite(
        spark,
        spark.read.parquet(out_data),
        cluster_by=("conv_id", "turn_idx"),
        extra=extra,
    )
    manifest.set_published(root, sid, tbl.table_uuid())
    return {"root": root, "snapshot_id": sid, "mode": "bootstrap", "files_rewritten": None}


def _snap_result_fields(snap_tbl, snap_to, file_delta, use_snapdiff) -> dict:
    """The snapshot-input fields a tick result carries — shared between
    the dry-run preview and the real tick so the two reports cannot
    drift. Empty for non-``snap:`` inputs."""
    if snap_tbl is None:
        return {}
    return {
        "input_snapshot": snap_to,
        "input_files_read": (
            len(file_delta["added"]) + len(file_delta["removed"])
            if use_snapdiff
            else None
        ),
    }


def run_incremental_update(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    settings: ExtractSettings | None = None,
    dry_run: bool = False,
    layout: str | None = None,
    publish_table: str | None = None,
) -> dict:
    """Public tick entry: real ticks hold the per-output job lock (ONE
    mutator per table, like the reference's one-thread-per-job model —
    concurrent ticks would interleave bucket swaps); dry_run previews
    stay lock-free and read-only. Full semantics on the impl below."""
    if dry_run:
        return _run_incremental_update_impl(
            spark, input_path, output_dir, settings, dry_run, layout, publish_table
        )
    with _JobLock(output_dir, "incremental-tick"):
        return _run_incremental_update_impl(
            spark, input_path, output_dir, settings, dry_run, layout, publish_table
        )


def _run_incremental_update_impl(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    settings: ExtractSettings | None = None,
    dry_run: bool = False,
    layout: str | None = None,
    publish_table: str | None = None,
) -> dict:
    """Steady-state incremental tick — the reference's recurring-scan
    loop body (FsParser.run() per update_rate, FsParser.java:488-556)
    over an already-extracted output:

      1. J1 change detection: checksum anti-join against the previous
         output — only NEW or CHANGED turns re-extract (the 100-TB
         property: work scales with the delta, not the corpus).
      2. Write changed turns into their buckets via dynamic partition
         overwrite... except buckets are coarse: a bucket rewrite must
         carry its UNCHANGED rows too, so changed buckets are rebuilt
         from (previous kept rows) ∪ (fresh extractions) — the same
         partition-scoped copy-on-write shape as apply_deletes/Iceberg.
      3. J2 deletion detection: keys in the previous output but absent
         from the current input are removed (staged bucket swap).
      4. Metrics rows appended for the touched buckets.

    Returns counts {changed, deleted, touched_buckets}. Requires a
    completed prior run_extraction_job at output_dir.

    ``settings.remove_deleted=False`` (reference remove_deleted knob,
    settings/Fs.java) keeps rows whose input keys vanished: the
    deletion step is skipped entirely. ``dry_run=True`` computes the
    SAME delta the tick would act on (changed/deleted counts, touched
    buckets) but writes nothing and leaves the manifest untouched.

    ``layout="bucketed"`` routes the corpus-scale diff through the
    co-located snapshot index (plans/bucketed.py): ONE full-outer join
    between the input and a narrow (keys, checksum, attrs) managed table
    bucketed on (conv_id, turn_idx) yields BOTH the changed and the
    deleted key sets — with ZERO Exchange on either side when the input
    is itself a bucketed table (``input_path="table:NAME"``), and zero
    Exchange on the corpus side even for a plain-path input (only the
    input re-shuffles). The parquet layout instead anti-joins the full
    docs table — fine at fixture scale, a corpus-sized shuffle per tick
    at 10^12 turns. Delta application (bucket swaps, deletes, lineage)
    is identical in both layouts; the index is refreshed
    partition-scoped after the swaps and rebuilt from the docs parquet
    whenever its crash marker can't be trusted.

    ``layout=None`` (the default) is SELF-SELECTING — the scale-correct
    plan must not hide behind a flag the operator has to remember
    (round-5 close of the r4 "opt-in layout" finding):

      1. the layout recorded in the checkpoint manifest (what this
         table's ticks ran with before) wins;
      2. else a valid snapshot index on disk ⇒ ``bucketed`` (someone
         bootstrapped the index; keep using it);
      3. else ``parquet``, with a logged warning that the diff will
         shuffle the corpus — at fixture scale that's fine, at 10^12
         turns run one explicit ``layout="bucketed"`` tick to bootstrap.

    A real (non-dry-run) tick persists the resolved layout in the
    manifest, so one explicit choice is sticky for the table's lifetime;
    an explicit ``layout=`` always wins over the stored value and
    re-records it. ``dry_run`` resolves identically but never persists.
    The result dict reports the layout used under ``"layout"``.

    ``snap:ROOT`` inputs (plans/snapshot_table.py) unlock the
    **manifest-diff tick** — the O(changed-files) steady state. When the
    checkpoint manifest records which input snapshot the output equals
    (``input_snapshot``, set by a virgin full run or a previous tick over
    the same table), the delta comes from diffing the two snapshot
    MANIFESTS: only the data files added/removed between them are read,
    and one delta-sized full-outer join (snapshot_file_delta) yields the
    changed AND deleted keys. The corpus is never scanned, joined, or
    shuffled — tick cost is O(changed files), independent of table size,
    which neither join layout achieves (both scan the full corpus even
    with zero Exchange). Falls back to the layout-resolved full diff when
    no base is recorded (then records one, so the NEXT tick fast-paths),
    or when the base snapshot has been expired. Reported as
    ``layout="snapshot-diff"`` + ``input_files_read``; the resolved join
    layout still applies to fallback ticks. Correspondence is guarded:
    any non-snapshot mutation path (a non-snap tick, a non-virgin full
    run) CLEARS the recorded base rather than risk a stale diff.

    Measured wall-clock crossover (local[32], 32 buckets, ~1% delta,
    round 5): parquet wins below ~350k turns (120k: 6.4s vs 7.9s —
    the gap is the index refresh, a corpus-INDEPENDENT ~2s floor of
    touched_buckets x num_buckets small bucket files), the layouts tie
    at ~400k (8.7s vs 8.5s), bucketed wins from there up (1.2M: 13.0s
    vs 11.4s, and its shuffle stays O(delta) while parquet's grows with
    the corpus — 127 MiB vs 55 MiB already at 120k). Auto-selection
    deliberately does NOT gate on corpus size: the sub-second penalty
    per tick at toy scale is noise, while silently refusing a
    bootstrapped index at scale would reintroduce the corpus shuffle.
    """
    from fscrawler_spark.operators.deletes import (
        apply_deletes,
        recover_stale_stage,
        stage_and_swap_buckets,
    )
    from fscrawler_spark.operators.extract import salted_bucket
    from fscrawler_spark.operators.incremental import (
        changed_vs_snapshot,
        deleted_keys,
        snapshot_file_delta,
    )
    from fscrawler_spark.plans import bucketed as snap

    if layout not in (None, "parquet", "bucketed"):
        raise ValueError(f"layout must be None, 'parquet' or 'bucketed', got {layout!r}")
    settings = settings or ExtractSettings()
    _refuse_mid_restart(output_dir)
    out_data = os.path.join(output_dir, "docs")
    out_metrics = os.path.join(output_dir, "metrics")
    if not _dir_exists(spark, out_data):
        # scheme-agnostic probe: os.path.isdir is always False for
        # s3a://hdfs:// paths and would refuse a real remote table
        raise FileNotFoundError(
            f"{out_data} does not exist — run run_extraction_job first (full scan)"
        )
    # settings drift would silently corrupt the table (changed num_buckets
    # shifts every salted_bucket; changed filters change content) — the
    # manifest fingerprint guard applies to ticks exactly as to resumes,
    # and a half-complete table cannot be incrementally updated
    manifest = CheckpointManifest.load_or_create(
        os.path.join(output_dir, "_checkpoint.json"),
        num_buckets=settings.num_buckets,
        settings_fingerprint=settings.fingerprint(),
    )
    still_pending = manifest.pending(settings.num_buckets)
    if still_pending:
        raise RuntimeError(
            "incremental update requires a COMPLETED full run; "
            f"{len(still_pending)} buckets are pending — finish run_extraction_job first"
        )
    # finish interrupted swaps BEFORE reading the table: a crashed bucket's
    # rows live only in the stage dir and must be visible to prev/gone.
    # (Skipped in dry_run — a preview must not mutate; counts over a
    # table with an interrupted swap may differ from the real tick's.)
    if not dry_run:
        recover_stale_stage(spark, out_data)
    run_id = f"incr-{uuid.uuid4().hex[:12]}"

    # snapshot-table input: pin the tick to one snapshot id and remember
    # the diff base (the snapshot the output is known to equal) — when
    # both exist the tick can manifest-diff: read ONLY the files that
    # changed between the two snapshots, never the corpus
    snap_tbl = None
    snap_from = snap_to = None
    if input_path.startswith(SNAP_INPUT_PREFIX):
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        snap_root, _sid = parse_snap_input(input_path)
        snap_tbl = SnapshotTable(snap_root)
        snap_to = _sid if _sid is not None else snap_tbl.current_id()
        input_path = f"{SNAP_INPUT_PREFIX}{snap_root}@{snap_to}"
        # the recorded base counts ONLY for this exact table LINEAGE:
        # snapshot ids are table-local (every table numbers from 1), so a
        # base recorded against a different snap: root — or this root
        # after a drop-and-recreate, which the table_uuid detects — would
        # happily diff the WRONG manifests and silently corrupt the
        # output. Mismatch ⇒ full diff, and the correspondence re-records
        # below against the new root/lineage. A record or table without a
        # uuid (legacy) keeps the root-only check.
        _rec = manifest.input_snapshot
        _cur_uuid = snap_tbl.table_uuid()
        if (
            isinstance(_rec, dict)
            and _rec.get("root") == os.path.abspath(snap_root)
            and (
                _rec.get("table_uuid") is None
                or _cur_uuid is None
                or _rec.get("table_uuid") == _cur_uuid
            )
        ):
            snap_from = _rec["snapshot_id"]
        else:
            snap_from = None
            if _rec is not None:
                logging.getLogger(__name__).warning(
                    "recorded diff base %s belongs to a different table "
                    "(or lineage) than %s; full-diffing this tick and "
                    "re-recording",
                    _rec, os.path.abspath(snap_root),
                )
    src = read_transcripts(spark, input_path)
    if _has_parquet_files(spark, out_data):
        prev = spark.read.parquet(out_data)
    else:
        # a prior tick emptied the whole table (documented no-op state in
        # apply_deletes): everything in the input is NEW. An empty prev
        # with the real docs schema keeps every join/anti-join valid —
        # reading the footer-less dir would AnalysisException instead.
        prev = spark.createDataFrame(
            [], extract_transcripts(src.limit(0), settings).schema
        )

    # 1. raw delta: input rows that differ from the snapshot — checksum
    # plus attribute columns (a metadata-only role/tool/ts edit
    # re-extracts, like the reference's ACL-hash comparison). Computed on
    # the RAW input so a changed turn that no longer passes a filter can
    # still purge its stale row.
    fp = settings.fingerprint()
    # manifest-diff fast path (``snap:`` input with a recorded diff base):
    # the tick's delta comes from the files that changed between the two
    # snapshots — O(changed files), never a corpus scan or corpus join.
    # Supersedes BOTH join layouts for the diff; the resolved layout still
    # governs fallback ticks and stays recorded.
    use_snapdiff = False
    file_delta = None
    if snap_tbl is not None and snap_from is not None:
        from fscrawler_spark.plans.snapshot_table import SnapshotIntegrityError

        try:
            file_delta = snap_tbl.diff(snap_from, snap_to)
            use_snapdiff = True
        except (FileNotFoundError, SnapshotIntegrityError) as e:
            logging.getLogger(__name__).warning(
                "snapshot diff %s->%s at %s unavailable (%s); falling back "
                "to a full diff for this tick",
                snap_from, snap_to, snap_tbl.root, e,
            )
    if layout is None and use_snapdiff:
        # nothing to resolve: the join layouts are bypassed this tick, and
        # recording one the operator never chose would pin fallbacks
        pass
    elif layout is None:
        # self-selection (docstring order): stored > index-on-disk > parquet
        if manifest.tick_layout in ("parquet", "bucketed"):
            layout = manifest.tick_layout
        elif snap.snapshot_is_valid(spark, output_dir, settings.num_buckets, fp):
            layout = "bucketed"
        else:
            layout = "parquet"
            logging.getLogger(__name__).warning(
                "incremental tick at %s defaulting to layout='parquet' (no "
                "recorded layout, no snapshot index): the diff anti-joins "
                "the full docs table — corpus-sized shuffle per tick. At "
                "scale, bootstrap the co-located index once with "
                "layout='bucketed' and it becomes this table's default.",
                output_dir,
            )
    if not dry_run and layout in ("parquet", "bucketed") and manifest.tick_layout != layout:
        manifest.set_tick_layout(layout)
    use_bucketed = layout == "bucketed" and not use_snapdiff
    if use_bucketed and dry_run and not snap.snapshot_is_valid(
        spark, output_dir, settings.num_buckets, fp
    ):
        # a preview must not build/mutate the index; the parquet diff
        # yields the identical counts
        use_bucketed = False
    delta = None
    sdelta = None
    if use_snapdiff:
        from fscrawler_spark.sources.transcripts import validate_schema

        old_rows = validate_schema(
            snap_tbl.read_entries(spark, file_delta["removed"], snap_from)
        )
        new_rows = validate_schema(
            snap_tbl.read_entries(spark, file_delta["added"], snap_to)
        )
        # ONE delta-sized full-outer join over ONLY the changed files'
        # rows (operators/incremental.snapshot_file_delta); materialized —
        # keys, counts, deletions and the extraction all re-consume it
        sdelta = materialize(
            snapshot_file_delta(
                old_rows,
                new_rows,
                checksum_algo=settings.checksum_algo,
                attr_cols=snap.SNAPSHOT_ATTRS,
            )
        )
        changed_raw = sdelta.filter(F.col("changed")).select(*src.columns)
        # purge hint: prior-version presence in the OLD files is the
        # delta-local proxy for membership in prev — a filtered-out row
        # costs one no-op bucket rebuild per ACTUAL input change (unlike
        # the full diff, where only the prev probe keeps it from
        # rewriting its bucket on every tick), and the corpus-side
        # semi-join disappears entirely
        changed_in_prev = sdelta.filter(F.col("changed") & F.col("in_old")).select(
            "conv_id", "turn_idx"
        )
    elif use_bucketed:
        if dry_run:
            # READ-ONLY preview: validity was pre-checked above, and
            # ensure_snapshot must not run — its rebuild path WRITES, and
            # a lock-free preview racing a locked real tick could rebuild
            # from mid-swap docs and commit a wrong-but-trusted marker
            snap_table = snap.snapshot_table_name(output_dir)
        else:
            snap_table, _rebuilt = snap.ensure_snapshot(
                spark,
                output_dir,
                out_data,
                settings.num_buckets,
                fp,
                _has_parquet_files(spark, out_data),
            )
        # ONE co-located corpus join; materialized so every later consumer
        # (keys, counts, deletes) reads the checkpointed delta — including
        # after the index partitions are dropped during the refresh
        delta = materialize(
            snap.colocated_tick_delta(
                spark, src, snap_table, checksum_algo=settings.checksum_algo
            )
        )
        # input rows to re-extract. The materialized delta advertises
        # defaultSize to the planner (same fact the rebuild handles
        # below), so broadcast it EXPLICITLY when its exact count is
        # small — otherwise this semi-join would sort-merge and shuffle
        # the whole input, the very exchange this layout exists to kill.
        changed_delta_keys = delta.filter(F.col("changed")).select("conv_id", "turn_idx")
        if delta.count() <= BROADCAST_KEYS_MAX:
            changed_delta_keys = F.broadcast(changed_delta_keys)
        changed_raw = src.join(
            changed_delta_keys, ["conv_id", "turn_idx"], "left_semi"
        )
        # stale copies to purge: known from the SAME join, no second
        # corpus-scale semi-join against prev
        changed_in_prev = delta.filter(F.col("changed") & F.col("in_prev")).select(
            "conv_id", "turn_idx"
        )
    else:
        changed_raw = changed_vs_snapshot(
            src, prev, checksum_algo=settings.checksum_algo,
            # ONE spelling of the compared attrs for BOTH layouts — drift
            # here would make the two layouts classify metadata-only
            # edits differently
            attr_cols=snap.SNAPSHOT_ATTRS,
        )
        changed_in_prev = changed_raw.join(
            prev.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_semi"
        ).select("conv_id", "turn_idx")
    # materialize the extracted delta ONCE: the rebuild, the key set, and
    # the counts all consume it, and re-deriving would re-run the big
    # anti-join + extraction (bounded by the delta size)
    fresh = materialize(extract_transcripts(changed_raw, settings))
    would_fail_fast = 0
    if not settings.continue_on_error:
        # reference fail-fast applies to the tick too — and BEFORE any
        # swap, so a failing tick mutates nothing and can simply be
        # re-run once the input is fixed (fresh is materialized: the agg
        # is a cheap local scan, not a recompute). In dry_run the count
        # is computed READ-ONLY and surfaced in the preview so it
        # predicts the real tick's refusal instead of mispredicting a
        # write — but never raises and never touches the manifest.
        failures = int(fresh.agg(F.sum(parse_failure_flag())).first()[0] or 0)
        if failures > 0:
            if dry_run:
                would_fail_fast = failures
            else:
                manifest.record_error(
                    f"FAIL_FAST: {failures} parse failure(s) in the tick delta "
                    "with continue_on_error=False"
                )
                raise RuntimeError(
                    f"{failures} parse failure(s) in the incremental delta "
                    "with continue_on_error=False; nothing was written — fix "
                    "the input and re-run the tick"
                )
    # the key set that must be REPLACED/PURGED in the table:
    #   (changed rows that exist in prev)   — stale copies to remove
    # ∪ (fresh extraction keys)             — rows to (re)insert.
    # NOT all of changed_raw: a row the filters have ALWAYS excluded is
    # "changed vs prev" on every tick (it is never IN prev) but demands no
    # work — including it would rewrite its bucket forever.
    bucket_col = salted_bucket(settings.num_buckets, settings.skew_salt)
    changed_keys = (
        changed_in_prev
        .select("conv_id", "turn_idx", bucket_col.alias("part_bucket"))
        .unionByName(fresh.select("conv_id", "turn_idx", "part_bucket"))
        .distinct()
    )
    changed_keys = materialize(changed_keys)
    changed = changed_keys.count()
    # deletion keys materialize before any rewrite: their lazy plan reads
    # the CURRENT output files, which the swaps below replace.
    # remove_deleted=False (reference knob): vanished keys stay — empty set.
    if not settings.remove_deleted:
        gone = spark.createDataFrame([], "conv_id string, turn_idx int")
    elif use_snapdiff:
        # J2 rides the same delta-sized join — already materialized
        gone = sdelta.filter(F.col("deleted")).select("conv_id", "turn_idx")
    elif use_bucketed:
        # J2 rides the same co-located join — already materialized
        gone = delta.filter(F.col("deleted")).select("conv_id", "turn_idx")
    else:
        gone = materialize(deleted_keys(prev.select("conv_id", "turn_idx"), src))

    # touched = buckets of every changed KEY (bucket is a pure function of
    # the key, so a filtered-out row's stale bucket is still covered)
    touched = [r["part_bucket"] for r in changed_keys.select("part_bucket").distinct().collect()]

    if dry_run:
        # the real tick mutates touched ∪ delete-only buckets (both get
        # swaps + lineage rows) — the preview must list the same set
        del_buckets = {
            r["part_bucket"]
            for r in prev.join(gone, ["conv_id", "turn_idx"], "left_semi")
            .select("part_bucket")
            .distinct()
            .collect()
        }
        return {
            "dry_run": True,
            "run_id": run_id,
            "changed": changed,
            "deleted": gone.count(),
            "touched_buckets": sorted(set(touched) | del_buckets),
            # >0 = the REAL tick would refuse with continue_on_error=False
            "would_fail_fast": would_fail_fast,
            # NOTE: "bucketed" here means the preview USED the index; a
            # dry_run with an invalid index reports the parquet fallback
            "layout": "snapshot-diff"
            if use_snapdiff
            else ("bucketed" if use_bucketed else "parquet"),
            **_snap_result_fields(snap_tbl, snap_to, file_delta, use_snapdiff),
        }

    # mutations begin: the snapshot index (if any) can no longer be
    # trusted until the post-swap refresh re-commits its marker. A no-op
    # tick keeps the marker (nothing below mutates). Applies to BOTH
    # layouts — a parquet-layout tick also stales any existing index.
    #
    # The published-table correspondence is cleared HERE, durably, for the
    # same crash-consistency reason the full run clears it before its
    # first write (see run_extraction_job): once the output mutates, a
    # crash before _publish_to_table would otherwise leave a stale record
    # whose snapshot id still matches the table — the re-run tick then
    # computes an EMPTY delta vs the already-mutated output and the
    # crashed tick's rows never reach the table. The pre-mutation record
    # is captured first so THIS tick's publish can still run delta mode
    # (the delta below is exactly pre-tick-output → post-tick-output, and
    # the table is validated against the captured id at publish time);
    # only a crash in between pays the bootstrap.
    pub_before = manifest.published
    # capture BEFORE invalidating: a valid index must be refreshed after
    # the mutation (partition-scoped) no matter which layout produced the
    # diff — a snapdiff or parquet tick that only invalidates would leave
    # a bootstrapped index permanently stale, and the next bucketed
    # (fallback) tick would pay an O(corpus) rebuild instead of the
    # O(touched-buckets) refresh this path exists to provide. Never
    # True when no index was ever bootstrapped (refresh would otherwise
    # mint a partial index with a valid marker).
    refresh_index = use_bucketed or snap.snapshot_is_valid(
        spark, output_dir, settings.num_buckets, fp
    )
    if touched or (settings.remove_deleted and not gone.isEmpty()):
        snap.invalidate_snapshot(output_dir)
        if pub_before is not None:
            manifest.set_published(None)
        # ANN bits-sizing counts cached per (session, plan) are stale the
        # moment the table mutates — same lifecycle as the snapshot marker
        from fscrawler_spark.functions.embeddings import clear_count_cache

        clear_count_cache()

    deleted_in_rebuild = 0
    if touched:
        # 2. rebuild ONLY the touched buckets: previous rows minus changed
        # keys minus deleted keys, plus the fresh extractions. Deletions
        # hitting touched buckets are folded into this single swap so no
        # bucket is staged twice in one tick.
        #
        # The key sets are materialized (their stats are opaque to the
        # planner — a localCheckpoint/checkpoint advertises defaultSize,
        # so Catalyst would SMJ and SHUFFLE the whole touched-bucket scan
        # for each anti-join: measured ~half the tick's shuffle bytes).
        # We hold their exact counts, so broadcast them below the limit —
        # the scan then flows shuffle-free into the staging write's
        # repartition, the tick's one remaining (and write-required)
        # exchange. Past the limit (a delta too big to ship to every
        # executor) the planner's SMJ is the right call anyway.
        gone_n = gone.count()
        ck_keys = changed_keys.select("conv_id", "turn_idx")
        gone_keys = gone
        if changed <= BROADCAST_KEYS_MAX:
            ck_keys = F.broadcast(ck_keys)
        if gone_n <= BROADCAST_KEYS_MAX:
            gone_keys = F.broadcast(gone)
        prev_touched = prev.filter(F.col("part_bucket").isin(touched))
        deleted_in_rebuild = prev_touched.join(gone_keys, ["conv_id", "turn_idx"], "left_semi").count()
        prev_keep = prev_touched.join(
            ck_keys, ["conv_id", "turn_idx"], "left_anti"
        ).join(gone_keys, ["conv_id", "turn_idx"], "left_anti")
        rebuilt = prev_keep.unionByName(fresh)
        stage_and_swap_buckets(spark, out_data, rebuilt, touched)

    # 3. remaining deletions (buckets not touched by the rebuild)
    del_res = apply_deletes(spark, out_data, gone, return_details=True)
    deleted = deleted_in_rebuild + del_res["deleted"]

    # 4. lineage for every mutated bucket — including delete-only ones,
    # so the latest metrics row always reconciles with the table. A tick
    # that deleted the LAST remaining rows leaves no parquet to read back:
    # emit explicit zero rows (same guard as run_extraction_job).
    targets = sorted(set(touched) | set(del_res["buckets"]))
    _write_lineage(spark, out_data, out_metrics, run_id, targets)

    # 5. bring the snapshot index back in sync — partition-scoped
    # (O(touched buckets)), marker re-committed LAST so a crash anywhere
    # above forces a rebuild instead of a stale diff. Runs for ANY diff
    # layout while an index exists (see refresh_index above): the index
    # is table state, not bucketed-tick state.
    if refresh_index:
        snap.refresh_snapshot_buckets(
            spark,
            output_dir,
            out_data,
            settings.num_buckets,
            fp,
            targets,
            _has_parquet_files(spark, out_data),
        )

    # counter semantics match the full job: rows actually WRITTEN this
    # tick (fresh extractions) — changed_keys also holds purge-only keys
    # (rows removed, nothing written), which must not inflate it
    manifest.add_processed(fresh.count())
    # retry_count counts CONSECUTIVE failures (reference semantics): a
    # successful tick after a fail-fast must clear it, like the full
    # job's per-wave reset
    manifest.reset_retries()
    if snap_tbl is not None:
        # the output is now synced to snapshot snap_to — by manifest diff
        # (the delta applied on top of the recorded base) or by full diff
        # (output forced to match src == snapshot snap_to): either way the
        # NEXT tick may manifest-diff from here
        manifest.set_input_snapshot(
            os.path.abspath(snap_root), snap_to, snap_tbl.table_uuid()
        )
    elif manifest.input_snapshot is not None:
        # a non-snapshot tick re-synced the output to some other input:
        # the recorded correspondence no longer holds
        manifest.set_input_snapshot(None)
    # publish: mirror this tick's delta onto the snapshot table (or
    # bootstrap it) — see _publish_to_table. Rows to MERGE are exactly
    # the fresh extractions; rows to DELETE are the vanished keys (gone)
    # plus the PURGED keys (changed but filtered out of the output —
    # in changed_keys yet absent from fresh). A mutating tick that skips
    # publishing breaks the table==output correspondence: clear it so
    # the next publish bootstraps instead of silently missing this delta.
    mutated = bool(targets)
    published = None
    if publish_table is not None:
        purged = changed_keys.select("conv_id", "turn_idx").join(
            fresh.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
        )
        published = _publish_to_table(
            spark,
            out_data,
            manifest,
            publish_table,
            run_id,
            upsert_df=fresh,
            delete_df=gone.unionByName(purged).distinct(),
            counters={"changed": changed, "deleted": deleted},
            mutated=mutated,
            pub=pub_before,
        )
    # (no publish_table + mutated needs no clear here: mutated implies the
    # pre-mutation block above already durably cleared the record)
    elif not mutated and pub_before is not None and manifest.published is None:
        # the pre-mutation clear fired but nothing actually mutated (e.g.
        # vanished keys that hit no stored rows): the correspondence still
        # holds — restore it so the next publish keeps delta mode
        manifest.set_published(
            pub_before["root"],
            pub_before["snapshot_id"],
            pub_before.get("table_uuid"),
        )
    return {
        "run_id": run_id,
        "changed": changed,
        "deleted": deleted,
        "touched_buckets": targets,
        "layout": "snapshot-diff" if use_snapdiff else layout,
        "published": published,
        **_snap_result_fields(snap_tbl, snap_to, file_delta, use_snapdiff),
    }


def restart_clean(output_dir: str, spark: SparkSession | None = None) -> None:
    """Public restart entry: holds the per-output job lock — a restart
    racing a live job would delete files mid-swap. Semantics below."""
    with _JobLock(output_dir, "restart-clean"):
        _restart_clean_impl(output_dir, spark)


def _restart_clean_impl(output_dir: str, spark: SparkSession | None = None) -> None:
    """Full re-index semantics (FsCrawlerCli --restart): drop checkpoint,
    pause marker, docs AND metrics — including crashed-swap stage dirs
    (docs__delete_stage_*, SIBLINGS of docs/): left behind, a later
    recover_stale_stage would "recover" pre-restart bucket data into the
    fresh table. Stage dirs go FIRST: a restart interrupted after the
    docs rmtree but before the sweep must not leave resurrectable
    pre-restart buckets behind. Clearing only the checkpoint is not
    enough — dynamic partition overwrite replaces only buckets present
    in the new data, so rows from conversations removed from the input
    (and stale metrics rows) would survive a rerun.

    Pass ``spark`` for non-local outputs (s3a://, hdfs://): the data/
    stage removals then go through the Hadoop FileSystem API. Without a
    session only local paths can be cleaned — a remote output_dir raises
    instead of silently removing nothing.

    Crash safety: a ``_restarting`` marker is written FIRST and removed
    LAST. Any job entry point that finds the marker refuses to run until
    restart_clean completes — without it, a kill between the data
    removal and the checkpoint removal would leave a COMPLETED manifest
    over an empty table (a plain rerun would then report success over
    lost data)."""
    import shutil

    from fscrawler_spark.operators.deletes import _STAGE_MARK, _fs_for

    os.makedirs(output_dir, exist_ok=True)
    marker = os.path.join(output_dir, "_restarting")
    with open(marker, "w") as f:
        f.write("restart_clean in progress\n")
    if spark is not None:
        HPath, fs = _fs_for(spark, output_dir)
        root = HPath(output_dir)
        if fs.exists(root):
            # stage dirs FIRST (they can resurrect buckets), then data.
            # Hadoop delete() signals failure by BOOLEAN — an unchecked
            # false would fall through to the checkpoint removal and
            # resurrect pre-restart rows on the rerun.
            for st in fs.listStatus(root):
                if st.getPath().getName().startswith("docs" + _STAGE_MARK):
                    if not fs.delete(st.getPath(), True):
                        raise IOError(f"restart_clean: failed to delete {st.getPath()}")
            for name in ("docs", "metrics"):
                p = HPath(f"{output_dir}/{name}")
                if fs.exists(p) and not fs.delete(p, True):
                    raise IOError(f"restart_clean: failed to delete {p}")
    elif "://" in output_dir:
        raise ValueError(
            f"restart_clean on a non-local output ({output_dir}) needs a "
            "SparkSession (Hadoop FS) — os-level removal would silently "
            "delete nothing"
        )
    else:
        for name in os.listdir(output_dir):
            if name.startswith("docs" + _STAGE_MARK):
                shutil.rmtree(os.path.join(output_dir, name))
        for d in ("docs", "metrics"):
            p = os.path.join(output_dir, d)
            if os.path.isdir(p):
                shutil.rmtree(p)
    # the manifest + pause marker are driver-local files in every mode;
    # the snapshot index (bucketed-layout ticks) dies with the table —
    # marker always, the catalog table when a session is available (a
    # marker-less table is never trusted, so session-less cleanup is safe)
    from fscrawler_spark.functions.embeddings import clear_count_cache
    from fscrawler_spark.plans.bucketed import drop_snapshot, invalidate_snapshot

    if spark is not None:
        drop_snapshot(spark, output_dir)
    else:
        invalidate_snapshot(output_dir)
    clear_count_cache()
    for f in ("_checkpoint.json", "_pause"):
        p = os.path.join(output_dir, f)
        if os.path.exists(p):
            os.remove(p)
    os.remove(marker)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else


def _read_lock_holder(lock_path: str) -> dict:
    """Tolerant read of a _job.lock payload: returns {} for missing /
    torn / non-dict content, and guarantees an int ``pid`` key (-1 when
    absent or malformed). ONE implementation for _JobLock and the
    doctor so their staleness verdicts can never drift."""
    import json as _json

    holder: dict = {}
    try:
        with open(lock_path) as f:
            loaded = _json.load(f)
        if isinstance(loaded, dict):
            holder = dict(loaded)
    except (OSError, ValueError):
        pass
    try:
        holder["pid"] = int(holder.get("pid", -1))
    except (TypeError, ValueError):
        holder["pid"] = -1
    return holder


# process-local registry of held lock paths: the pid in the lock FILE
# cannot distinguish two THREADS of one driver (rest.py already runs a
# thread pool), so same-pid contention is arbitrated here, under a real
# threading.Lock
_HELD_LOCKS: set[str] = set()
_HELD_LOCKS_MU = threading.Lock()


class _JobLock:
    """Single-writer guard per output dir — the reference runs exactly one
    thread per job (FsCrawlerImpl.java:114); two concurrent mutators here
    would interleave bucket swaps / manifest writes and corrupt the table.

    Three layers, smallest scope first:
      * in-process: a registry under a threading.Lock — a second THREAD
        of this driver is refused immediately (the pid file can't see
        threads).
      * on disk: O_EXCL create of ``_job.lock`` holding {pid, token,
        what, started}. A live foreign holder raises with its age.
      * stale break: a DEAD holder's lock is claimed via atomic
        ``rename`` (exactly one contender wins the inode) and then
        re-created O_EXCL — remove-then-create would let two breakers
        both "win". Breaks are logged loudly.

    release() removes the file only if its token is OURS — a lock broken
    out from under us (operator error) must not cascade into deleting
    the NEXT holder's lock. Known limitation (documented): a recycled
    pid makes a genuinely dead lock look live; the error message carries
    the holder age so an operator can judge, and removal is manual.
    Like the manifest, this protects the single-driver deployment shape —
    on a multi-driver cluster the catalog/Iceberg commit protocol is the
    real lock. dry_run paths never take it."""

    def __init__(self, output_dir: str, what: str):
        import json as _json
        import logging as _logging
        import shutil as _shutil
        import time as _time

        os.makedirs(output_dir, exist_ok=True)
        # realpath: two threads addressing one dir via different spellings
        # ('out' vs './out' vs abspath) MUST collide in the registry — a
        # miss there would reach the same-pid-is-stale rule below and
        # break a live sibling's lock
        self.path = os.path.join(os.path.realpath(output_dir), "_job.lock")
        self.token = uuid.uuid4().hex
        self._registered = False
        with _HELD_LOCKS_MU:
            if self.path in _HELD_LOCKS:
                raise RuntimeError(
                    f"another job in THIS process already holds {self.path}; "
                    "concurrent mutators on one output would interleave "
                    "bucket swaps"
                )
            _HELD_LOCKS.add(self.path)
            self._registered = True
        try:
            # atomic create-WITH-content: payload written to a private tmp,
            # then hard-linked into place — a contender can never observe
            # an empty lock file and misread a live holder as torn/stale
            tmp = f"{self.path}.claim-{self.token[:8]}"
            with open(tmp, "w") as f:
                _json.dump(
                    {"pid": os.getpid(), "token": self.token, "what": what,
                     "started": _time.time()},
                    f,
                )
                f.flush()
                os.fsync(f.fileno())
            try:
                for _attempt in range(3):
                    try:
                        os.link(tmp, self.path)
                        return
                    except FileExistsError:
                        holder = _read_lock_holder(self.path)
                        pid = holder["pid"]  # -1 = unreadable/torn -> stale
                        # same-pid holders are arbitrated by the registry
                        # above; reaching here with our own pid means a
                        # PREVIOUS process-life (recycled pid) -> stale
                        if pid > 0 and pid != os.getpid() and _pid_alive(pid):
                            try:
                                age = _time.time() - float(holder.get("started") or 0)
                            except (TypeError, ValueError):
                                age = 0.0
                            raise RuntimeError(
                                f"another job (pid {pid}, {holder.get('what', '?')}, "
                                f"held {age:.0f}s) is running on "
                                f"{os.path.dirname(self.path)}; concurrent mutators "
                                "would interleave bucket swaps — wait for it or "
                                "remove _job.lock if it is known dead"
                            )
                        # stale: claim via atomic rename (one winner per
                        # inode), then retry the exclusive link
                        claimed = f"{self.path}.stale-{uuid.uuid4().hex[:8]}"
                        try:
                            os.rename(self.path, claimed)
                        except FileNotFoundError:
                            continue  # another contender claimed it; retry
                        _logging.getLogger(__name__).warning(
                            "breaking stale job lock %s (holder pid %s dead)",
                            self.path, pid,
                        )
                        try:
                            os.remove(claimed)
                        except OSError:
                            # e.g. the "lock" was a directory: clear it too;
                            # leftover stale-* claims are swept on release
                            _shutil.rmtree(claimed, ignore_errors=True)
                raise RuntimeError(
                    f"could not acquire {self.path}: lost the lock race 3 times "
                    "(another live job keeps acquiring it)"
                )
            finally:
                try:
                    os.remove(tmp)
                except OSError:
                    pass
        except BaseException:
            self._unregister()
            raise

    def _unregister(self) -> None:
        if self._registered:
            with _HELD_LOCKS_MU:
                _HELD_LOCKS.discard(self.path)
            self._registered = False

    def release(self) -> None:
        import glob as _glob
        import json as _json

        try:
            # remove only OUR lock: if an operator broke it and another job
            # re-acquired, deleting here would cascade the corruption
            with open(self.path) as f:
                loaded = _json.load(f)
            if isinstance(loaded, dict) and loaded.get("token") == self.token:
                os.remove(self.path)
                # best-effort sweep of orphaned stale-claims (a breaker
                # killed between rename and remove) — uniquely named, and
                # their owners tolerate a concurrent removal. claim-* tmp
                # files are deliberately NOT swept: a live acquirer's tmp
                # vanishing mid-link would crash its acquisition.
                for junk in _glob.glob(f"{self.path}.stale-*"):
                    try:
                        os.remove(junk)
                    except OSError:
                        pass
        except (OSError, ValueError):
            pass
        finally:
            self._unregister()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.release()


def _refuse_mid_restart(output_dir: str) -> None:
    """Job entry points call this first: an interrupted restart_clean
    (marker present) must complete before any run — the on-disk state is
    a torn mix of pre- and post-restart artifacts."""
    if os.path.exists(os.path.join(output_dir, "_restarting")):
        raise RuntimeError(
            f"{output_dir} has an interrupted restart (_restarting marker "
            "present); run restart_clean (CLI --restart) to finish it "
            "before extracting"
        )


def clear_pause(output_dir: str) -> None:
    """Clear the pause request (POST /_crawler/resume analog); the next
    run_extraction_job call resumes pending waves."""
    CheckpointManifest(os.path.join(output_dir, "_checkpoint.json")).clear_pause()


def run_extraction_job(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    settings: ExtractSettings | None = None,
    resume: bool = True,
    fail_after_buckets: int | None = None,
    wave_hook: Callable[[int, list[int]], None] | None = None,
    publish_table: str | None = None,
) -> dict:
    """Public full-run entry: holds the per-output job lock for the whole
    run (single mutator per table; see _JobLock). Full semantics below."""
    with _JobLock(output_dir, "extraction-job"):
        return _run_extraction_job_impl(
            spark, input_path, output_dir, settings, resume, fail_after_buckets,
            wave_hook, publish_table,
        )


def _run_extraction_job_impl(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    settings: ExtractSettings | None = None,
    resume: bool = True,
    fail_after_buckets: int | None = None,
    wave_hook: Callable[[int, list[int]], None] | None = None,
    publish_table: str | None = None,
) -> dict:
    """One crawl "run": extract all pending buckets, write output
    partitioned by part_bucket, append lineage metrics, maintain the
    checkpoint manifest.

    fail_after_buckets: test hook — abort after K bucket-groups to
    exercise resume (the reference's kill-and-restart IT scenario).
    wave_hook: test hook called before each wave attempt (wi, wave);
    raising from it exercises the bounded re-drive path.
    """
    settings = settings or ExtractSettings()
    _refuse_mid_restart(output_dir)
    out_data = os.path.join(output_dir, "docs")
    out_metrics = os.path.join(output_dir, "metrics")
    ckpt_path = os.path.join(output_dir, "_checkpoint.json")

    fp = settings.fingerprint()
    if resume:
        manifest = CheckpointManifest.load_or_create(
            ckpt_path, num_buckets=settings.num_buckets, settings_fingerprint=fp
        )
    else:
        # resume=False restarts the WAVE bookkeeping, not the settings
        # contract: the existing table keeps buckets the new data does
        # not overwrite, so drifted num_buckets/fingerprint would mix
        # incompatible bucketings (the same corruption the resume path
        # refuses). Validate against the on-disk manifest first; a true
        # settings change needs restart_clean.
        if os.path.exists(ckpt_path):
            CheckpointManifest.load_or_create(
                ckpt_path, num_buckets=settings.num_buckets, settings_fingerprint=fp
            )
        manifest = CheckpointManifest(
            ckpt_path, num_buckets=settings.num_buckets, settings_fingerprint=fp
        )
    pending = manifest.pending(settings.num_buckets)
    run_id = f"run-{uuid.uuid4().hex[:12]}"
    if not pending:
        # still backfill lineage rows for any completed bucket whose
        # metrics write was lost to a crash (shared helper: zero rows
        # when the table exists but holds no parquet — a crash-recovery
        # rerun over an emptied table must not AnalysisException)
        missing = sorted(manifest.completed - _already_metered(spark, out_metrics))
        _write_lineage(spark, out_data, out_metrics, run_id, missing)
        if not settings.continue_on_error and _has_parquet_files(spark, out_data):
            # fail-fast must be STICKY: the failing run marked its
            # buckets completed before raising, so a rerun lands here.
            # Re-derive the failure count from the TABLE itself (one
            # pruned error-column scan) — self-healing once a tick or
            # restart cleans the rows, unlike any recorded marker
            failures = (
                spark.read.parquet(out_data).agg(F.sum(parse_failure_flag())).first()[0]
                or 0
            )
            if failures > 0:
                raise RuntimeError(
                    f"{int(failures)} parse failure(s) in the completed table "
                    "with continue_on_error=False; fix the input and re-run "
                    "(--restart or an incremental tick), or set "
                    "continue_on_error=True"
                )
        published = None
        if publish_table is not None:
            # nothing mutated: noop if the table is already in sync,
            # bootstrap otherwise (first publish of an existing output)
            published = _publish_to_table(
                spark, out_data, manifest, publish_table, run_id, mutated=False
            )
        manifest.finish()
        return {
            "run_id": run_id,
            "status": "completed",
            "written_buckets": [],
            "skipped_buckets": sorted(manifest.completed),
            "published": published,
        }

    # snapshot-table input: pin the WHOLE run (every wave in this call)
    # to one snapshot id captured up front, and remember whether the
    # output started from scratch — only a virgin full run PROVES
    # output == extraction(snapshot), the precondition for recording
    # input_snapshot (the tick's O(changed-files) diff base)
    snap_to = None
    if input_path.startswith(SNAP_INPUT_PREFIX):
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        root, sid = parse_snap_input(input_path)
        snap_to = sid if sid is not None else SnapshotTable(root).current_id()
        input_path = f"{SNAP_INPUT_PREFIX}{root}@{snap_to}"
    virgin = not _dir_exists(spark, out_data)

    src = read_transcripts(spark, input_path)
    docs = extract_transcripts(src, settings)

    # Group pending buckets into write waves so a mid-job failure leaves
    # completed waves durable (checkpoint cadence analog of "every 100
    # files", FsParser.java:105). One wave == one Spark job; granularity
    # is settings.checkpoint_waves.
    wave_size = max(1, settings.num_buckets // max(1, settings.checkpoint_waves))
    waves = [pending[i : i + wave_size] for i in range(0, len(pending), wave_size)]

    written: list[int] = []
    paused = False
    manifest.resume_running()
    for wi, wave in enumerate(waves):
        if fail_after_buckets is not None and len(written) >= fail_after_buckets:
            raise RuntimeError("injected failure for resume test")
        if manifest.pause_requested():
            # honored between waves, like the reference's pause-between-
            # files (FsParser.java:186-307); completed waves stay durable
            manifest.mark_paused()
            paused = True
            break
        if not written:
            # first ACTUAL write mutates the docs table: any snapshot
            # index (layout="bucketed" ticks) is stale until a tick
            # refreshes it. Deliberately NOT at function entry: a run
            # that pauses/crashes before writing anything must not cost
            # the next bucketed tick an O(corpus) index rebuild.
            from fscrawler_spark.functions.embeddings import clear_count_cache
            from fscrawler_spark.plans.bucketed import invalidate_snapshot

            invalidate_snapshot(output_dir)
            clear_count_cache()  # cached plan counts are stale once we write
            # the published-table correspondence (if any) refers to the
            # PRE-run output: broken by this write. Cleared BEFORE the
            # write (persisted immediately) so a crash mid-run can never
            # leave a later delta-publish skipping this run's mutations.
            if manifest.published is not None:
                manifest.set_published(None)
        attempt = 0
        while True:
            try:
                if wave_hook is not None:
                    wave_hook(wi, wave)
                wave_df = docs.filter(F.col("part_bucket").isin(wave))
                # stable turn ordering inside each output partition (north_rule O1)
                with dynamic_partition_overwrite(spark):
                    (
                        wave_df.repartition(len(wave), "part_bucket")
                        .sortWithinPartitions("part_bucket", "conv_id", "turn_idx")
                        .write.mode("overwrite")
                        .partitionBy("part_bucket")
                        .parquet(out_data)
                    )
                break
            except Exception as e:
                # bounded driver re-drive of a failed wave (S8/W3; the
                # reference's network retry x10, FsParser.java:811-850).
                # Bucket writes are idempotent so a retry is safe.
                manifest.record_error(repr(e))
                attempt += 1
                if attempt > settings.max_wave_retries:
                    raise
        manifest.mark_completed(wave)
        manifest.reset_retries()  # consecutive-failure counter, reference semantics
        written.extend(wave)

    # lineage/metrics: read back only the cheap columns (column pruning).
    # Targets = buckets written THIS run plus any completed bucket whose
    # metrics never landed (a prior run that died between its bucket
    # write and its metrics write) — keeps the every-bucket-has-a-
    # lineage-row invariant across crash/resume.
    targets = sorted(set(written) | (manifest.completed - _already_metered(spark, out_metrics)))
    if targets:
        mrows = _write_lineage(spark, out_data, out_metrics, run_id, targets)
        if written:
            wset = set(written)
            rows_written = sum(r["turn_count"] for r in mrows if r["part_bucket"] in wset)
            failures = sum(r["parse_failures"] for r in mrows if r["part_bucket"] in wset)
            # files_processed (FsCrawlerCheckpoint counter): rows
            # actually written THIS run (backfilled buckets excluded)
            manifest.add_processed(rows_written)
            if not settings.continue_on_error and failures > 0:
                # reference continue_on_error=false: stop the crawl on
                # parser errors (needs_ocr/encrypted rows are NOT parse
                # failures — parse_failure_flag partitions the space).
                # Buckets already written stay durable; the job reports
                # failure instead of completed, the manifest records it,
                # and the not-pending rerun path re-derives the failure
                # from the table so the error stays sticky-but-self-healing.
                manifest.record_error(
                    f"FAIL_FAST: {failures} parse failure(s) with continue_on_error=False"
                )
                raise RuntimeError(
                    f"{failures} parse failure(s) with "
                    "continue_on_error=False; failing rows carry the error "
                    "column in the output"
                )

    if paused:
        return {
            "run_id": run_id,
            "status": "paused",
            "written_buckets": written,
            "skipped_buckets": sorted(set(manifest.completed) - set(written)),
            "output": out_data,
            "metrics": out_metrics,
        }
    if snap_to is not None and virgin:
        # a from-scratch full run over snapshot S completed every bucket:
        # the output IS extraction(S) — record it so the first tick can
        # manifest-diff instead of full-diffing
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        manifest.set_input_snapshot(
            os.path.abspath(root), snap_to, SnapshotTable(root).table_uuid()
        )
    elif manifest.input_snapshot is not None:
        # a non-virgin full run (resume over an existing table, or a
        # non-snapshot input) may leave rows the recorded snapshot never
        # produced (dynamic overwrite keeps buckets absent from the new
        # data): the correspondence is broken — clear, the next tick
        # full-diffs and re-records
        manifest.set_input_snapshot(None)
    published = None
    if publish_table is not None:
        # a full run has no tracked delta — the first-write clear above
        # guarantees the helper bootstraps (full clustered overwrite)
        published = _publish_to_table(
            spark, out_data, manifest, publish_table, run_id,
            mutated=bool(written),
        )
    manifest.finish()
    return {
        "run_id": run_id,
        "status": "completed",
        "written_buckets": written,
        "skipped_buckets": sorted(set(manifest.completed) - set(written)),
        "output": out_data,
        "metrics": out_metrics,
        "published": published,
    }
