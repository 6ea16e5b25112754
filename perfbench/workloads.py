"""The two workloads. Each drives the engine only through its public
functions, as one client in a closed loop: every call waits for the one
before it. Each fills its ``Run`` with the timings behind the end-to-end
metrics, the per-layer counters of a traced run, and a record of every
correctness check.

* ``delta_tick`` — steady-state maintenance of an extracted corpus kept
  in a 32-file input snapshot table. One cycle = the generator commits an
  edit, then: snapshot-diff tick with delta publish, ``read_changes``,
  derived-view sync, assembly-store tick, dedup-store tick, no-op tick.
* ``curate`` — the curation kernels over extracted docs with planted
  near-duplicates. One pass = ``near_dup_pipeline``,
  ``duplicate_span_flags(min_len=50)``, ``train_word_lm`` +
  ``perplexity_buckets``.

``cycle_s`` times the calls named in ``run.cycle_ops``; everything else a
run does (generation, bootstraps, checks) is outside it.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import harness
import loadgen

DELTA_TURNS = 2_000
INPUT_FILES = 32
CURATE_TURNS = 2_000
CURATE_PLANTED = 40
KERNEL_SAMPLE = 2_000  # turns fed to the in-process extraction kernel probe


class Run:
    """State of one benchmark run: timings per operation name, checks,
    and the per-layer counters of a traced run."""

    def __init__(self, spark, tracer, work: str, seed: int, seconds: float):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.samples: dict[str, list[float]] = {}
        self.checks: list[dict] = []
        self.layer: dict[str, float] = {}
        self.info: dict = {}
        self.cycle_ops: tuple[str, ...] = ()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def timed(self, name: str, layer: str, fn):
        """Run ``fn`` inside a span; record its wall time under ``name``."""
        t0 = time.perf_counter()
        with self.tracer.span(name, layer):
            out = fn()
        self.samples.setdefault(name, []).append(time.perf_counter() - t0)
        return out

    def check(self, op: str, ok: bool, detail) -> None:
        self.checks.append({"op": op, "ok": bool(ok), "detail": detail})


def _settings():
    from fscrawler_spark.config import ExtractSettings

    return ExtractSettings()  # the production defaults, as the CLI runs them


def _check_docs(run: Run, out_dir: str, expected: str) -> None:
    """Per-turn equality of mime, extracted, spans and error with the
    generator's golden table (the project's own pipeline test idiom)."""
    from pyspark.sql import functions as F

    from fscrawler_spark.functions.udfs import spans_to_structs

    got = run.spark.read.parquet(os.path.join(out_dir, "docs"))
    exp = run.spark.read.parquet(expected)
    j = got.alias("g").join(exp.alias("e"), ["conv_id", "turn_idx"], "full_outer")
    same = (
        F.col("g.extracted").eqNullSafe(F.col("e.expected_text"))
        & F.col("g.mime").eqNullSafe(F.col("e.expected_mime"))
        & F.col("g.error").eqNullSafe(F.col("e.expected_error"))
        & spans_to_structs(F.col("g.spans")).eqNullSafe(F.col("e.expected_spans"))
    )
    row = j.agg(
        F.count(F.lit(1)).alias("n"), F.sum(F.when(same, 0).otherwise(1)).alias("bad")
    ).first()
    run.check("extract_job", row["bad"] == 0, {"turns": row["n"], "mismatched": row["bad"]})


def _kernel_probes(run: Run, transcripts: str) -> None:
    """functions layer without Spark: the extraction kernel in this
    process, and the per-batch body of the extraction UDF —
    ``build_extract_batch`` over ``extract`` — on Arrow batches of the
    session's batch size."""
    import pyarrow.parquet as pq

    from fscrawler_spark.functions.extractors import extract
    from fscrawler_spark.functions.udfs import build_extract_batch, limit_for

    texts = pq.read_table(transcripts, columns=["text"]).column("text").to_pylist()[:KERNEL_SAMPLE]
    settings = _settings()
    with run.tracer.span("extract_kernel", "functions"):
        t0 = time.perf_counter()
        for t in texts:
            extract(t, limit_for(settings, t))
        kernel_s = time.perf_counter() - t0
    batch_rows = 2_000  # get_spark's default spark.sql.execution.arrow.maxRecordsPerBatch
    batch_s = []
    with run.tracer.span("extract_batch", "functions"):
        for i in range(0, len(texts), batch_rows):
            batch = texts[i : i + batch_rows]
            t0 = time.perf_counter()
            build_extract_batch(((t, extract(t, limit_for(settings, t))) for t in batch), settings)
            batch_s.append(time.perf_counter() - t0)
    run.layer["functions.extract_kernel_turns_per_s"] = len(texts) / kernel_s
    run.layer["functions.extract_batch_s"] = statistics.median(batch_s)


def extract_job(run: Run, input_path: str, n_turns: int, out_dir: str, expected: str) -> None:
    """The full extraction job into a fresh output. Untraced, it is the
    timed call behind the report's ``extract_turns_per_s``. Traced, the same call runs
    inside a parent span with the sub-calls the benchmark can make
    itself: the validated read, the extraction plan through a noop sink,
    the job, and a rerun over the completed output."""
    from fscrawler_spark.operators.extract import extract_transcripts
    from fscrawler_spark.plans.pipeline import run_extraction_job
    from fscrawler_spark.sources.transcripts import read_transcripts

    spark, settings, tr = run.spark, _settings(), run.tracer
    if not tr.enabled:
        run.timed("extract_job", "plans.pipeline", lambda: run_extraction_job(spark, input_path, out_dir, settings))
        run.info["extract_turns_per_s"] = n_turns / run.samples["extract_job"][0]
        _check_docs(run, out_dir, expected)
        return
    with tr.span("extract", "plans.pipeline"):
        with tr.span("read", "sources") as sp_read:
            read_transcripts(spark, input_path).count()
        with tr.span("plan", "operators") as sp_plan:
            extract_transcripts(read_transcripts(spark, input_path), settings).write.format(
                "noop"
            ).mode("overwrite").save()
        with tr.span("job", "plans.pipeline") as sp_job:
            run_extraction_job(spark, input_path, out_dir, settings)
        with tr.span("rerun", "plans.checkpoint") as sp_rerun:
            rerun = run_extraction_job(spark, input_path, out_dir, settings)
    run.check("rerun", rerun["written_buckets"] == [], {"written_buckets": rerun["written_buckets"]})
    _check_docs(run, out_dir, expected)
    dur = {s["name"]: s["end"] - s["start"] for s in (sp_read, sp_plan, sp_job, sp_rerun)}
    files, size = harness.parquet_size(os.path.join(out_dir, "docs"))
    run.layer.update(
        {
            "sources.read_validate_s": dur["read"],
            "operators.extract_plan_s": dur["plan"],
            "operators.extract_shuffle_bytes": sp_plan["shuffle_write_bytes"],
            "operators.extract_task_skew": sp_plan["task_skew"],
            "plans.pipeline.job_jobs": sp_job["jobs"],
            "plans.pipeline.write_overhead_s": dur["job"] - dur["plan"],
            "plans.pipeline.files_written": files,
            "plans.pipeline.bytes_written": size,
            "plans.checkpoint.rerun_noop_s": dur["rerun"],
        }
    )


def _input(run: Run, n_turns: int):
    """Generate the corpus and commit it as a range-clustered snapshot
    table; the full job then reads it as ``snap:`` input. The commit is
    also the process's first Spark write, so the job after it runs on a
    JVM past its first-job JIT."""
    corpus = loadgen.make_corpus(run.path("corpus"), n_turns, run.seed)
    tbl = run.timed("input_commit", "plans.snapshot_table", lambda: loadgen.make_input_table(
        run.spark, corpus["transcripts"], run.path("input_tbl"), INPUT_FILES))
    return corpus, tbl


def _until_spent(run: Run, body) -> None:
    """Closed loop: run ``body(i)`` again and again until ``run.seconds``
    of measured time have passed, at least once."""
    t0 = time.perf_counter()
    i = 0
    while i < 1 or time.perf_counter() - t0 < run.seconds:
        body(i)
        i += 1


# -- delta_tick ---------------------------------------------------------------


def _view(df):
    from pyspark.sql import functions as F

    return df.filter(F.col("error").isNull()).select(
        "conv_id", "turn_idx", F.length("extracted").alias("n_chars")
    )


def delta_tick(run: Run) -> None:
    from fscrawler_spark.plans.assembly_store import assembly_tick
    from fscrawler_spark.plans.dedup_store import dedup_tick
    from fscrawler_spark.plans.derived import sync_derived_table
    from fscrawler_spark.plans.pipeline import run_incremental_update
    from fscrawler_spark.plans.snapshot_table import SnapshotTable

    spark, settings, tr = run.spark, _settings(), run.tracer
    corpus, inp = _input(run, DELTA_TURNS)
    snap = f"snap:{inp.root}"
    out, pub_root, view_root = run.path("out"), run.path("published"), run.path("view")
    extract_job(run, snap, DELTA_TURNS, out, corpus["expected"])
    if tr.enabled:
        _kernel_probes(run, corpus["transcripts"])

    # bootstraps: the publish, the view and both stores start in sync
    with tr.op("bootstrap"):
        boot = run.timed("publish_bootstrap", "plans.pipeline", lambda: run_incremental_update(
            spark, snap, out, settings, publish_table=pub_root))
        pub = SnapshotTable(pub_root)
        run.timed("view_bootstrap", "plans.derived",
                  lambda: sync_derived_table(spark, pub, view_root, _view))
        run.timed("assembly_bootstrap", "plans.assembly_store",
                  lambda: assembly_tick(spark, out))
        dboot = run.timed("dedup_bootstrap", "plans.dedup_store",
                          lambda: dedup_tick(spark, out))
    run.check("publish_bootstrap", boot["published"]["mode"] == "bootstrap", boot["published"])
    view = SnapshotTable(view_root)
    docs_total = dboot["delta_docs"]

    def cycle(i: int) -> None:
        with tr.op(f"cycle-{i}"):
            edit = loadgen.commit_edit(spark, inp, run.seed, i, tr.span)
            run.samples.setdefault("commit", []).append(edit["commit_s"])
            s0 = pub.current_id()
            t_commit = time.perf_counter()
            tick = run.timed("tick", "plans.pipeline", lambda: run_incremental_update(
                spark, snap, out, settings, publish_table=pub_root))
            s1 = pub.current_id()
            counts = run.timed("changelog", "plans.snapshot_table", lambda: {
                r["_change_type"]: r["count"]
                for r in pub.read_changes(spark, s0, s1).groupBy("_change_type").count().collect()
            })
            vs = run.timed("view_sync", "plans.derived",
                           lambda: sync_derived_table(spark, pub, view_root, _view))
            asm = run.timed("assembly_tick", "plans.assembly_store", lambda: assembly_tick(spark, out))
            ded = run.timed("dedup_tick", "plans.dedup_store", lambda: dedup_tick(spark, out))
            run.samples.setdefault("freshness", []).append(time.perf_counter() - t_commit)
            noop = run.timed("noop_tick", "plans.pipeline", lambda: run_incremental_update(
                spark, snap, out, settings, publish_table=pub_root))
        _check_cycle(run, edit, tick, counts, vs, asm, ded, noop, pub, view, out)
        if tr.enabled:
            _delta_layers(run, tick, vs, asm, ded, inp, pub, view, s0, s1, docs_total)

    _until_spent(run, cycle)
    run.cycle_ops = DELTA_CYCLE


DELTA_CYCLE = ("tick", "changelog", "view_sync", "assembly_tick", "dedup_tick", "noop_tick")


def _check_cycle(run, edit, tick, counts, vs, asm, ded, noop, pub, view, out) -> None:
    spark = run.spark
    run.check("tick", tick["changed"] == edit["updates"] + edit["inserts"]
              and tick["deleted"] == edit["deletes"]
              and tick["published"]["mode"] == "delta",
              {"changed": tick["changed"], "deleted": tick["deleted"], "edit": edit,
               "publish": tick["published"]["mode"]})
    want = {"update_preimage": edit["updates"], "update_postimage": edit["updates"],
            "delete": edit["deletes"], "insert": edit["inserts"]}
    run.check("changelog", {k: v for k, v in counts.items() if v} == {k: v for k, v in want.items() if v},
              {"got": counts, "want": want})
    docs = spark.read.parquet(os.path.join(out, "docs"))
    cols = [c for c in docs.columns if c in set(pub.read(spark).columns)]
    run.check("publish", harness.fingerprint(pub.read(spark), cols) == harness.fingerprint(docs, cols),
              "published table equals out/docs")
    run.check("view_sync", vs["mode"] == "delta"
              and harness.fingerprint(view.read(spark)) == harness.fingerprint(_view(pub.read(spark))),
              {"mode": vs["mode"]})
    run.check("assembly_tick", asm["changed_convs"] == edit["changed_convs"]
              and asm["removed_convs"] == edit["removed_convs"],
              {"changed": asm["changed_convs"], "removed": asm["removed_convs"],
               "want": [edit["changed_convs"], edit["removed_convs"]]})
    run.check("dedup_tick", ded["delta_docs"] == edit["text_changed"] + edit["inserts"]
              and ded["removed_docs"] == edit["deletes"],
              {"delta": ded["delta_docs"], "removed": ded["removed_docs"]})
    run.check("noop_tick", noop["changed"] == 0 and noop["deleted"] == 0,
              {"changed": noop["changed"], "deleted": noop["deleted"]})


def _delta_layers(run, tick, vs, asm, ded, inp, pub, view, s0, s1, docs_total) -> None:
    tr = run.tracer
    last = {n: tr.inclusive(tr.named(n)[-1]) for n in
            ("tick", "noop_tick", "changelog", "view_sync", "assembly_tick", "dedup_tick")}
    diff = pub.diff(s0, s1)
    run.layer.update(
        {
            "plans.pipeline.tick_jobs": last["tick"]["jobs"],
            "plans.pipeline.tick_shuffle_bytes": last["tick"]["shuffle_write_bytes"],
            "plans.pipeline.tick_files_read_frac": tick["input_files_read"] / len(inp.files()),
            "plans.pipeline.publish_files_rewritten_frac":
                tick["published"]["files_rewritten"] / len(pub.files()),
            "plans.pipeline.noop_tick_jobs": last["noop_tick"]["jobs"],
            "plans.snapshot_table.changelog_jobs": last["changelog"]["jobs"],
            "plans.snapshot_table.changelog_files_read": len(diff["added"]) + len(diff["removed"]),
            "plans.snapshot_table.commit_s": statistics.median(run.samples["commit"]),
            "plans.derived.view_sync_jobs": last["view_sync"]["jobs"],
            "plans.derived.view_files_rewritten_frac": vs["files_rewritten"] / len(view.files()),
            "plans.assembly_store.tick_jobs": last["assembly_tick"]["jobs"],
            "plans.assembly_store.changed_convs_frac":
                (asm["changed_convs"] + asm["removed_convs"]) / asm["convs_total"],
            "plans.dedup_store.tick_jobs": last["dedup_tick"]["jobs"],
            "plans.dedup_store.delta_docs_frac": ded["delta_docs"] / docs_total,
            "plans.dedup_store.shuffle_bytes": last["dedup_tick"]["shuffle_write_bytes"],
        }
    )


# -- curate -------------------------------------------------------------------


def _rows_hash(rows) -> str:
    return hashlib.sha256(repr(sorted(tuple(r) for r in rows)).encode()).hexdigest()


CURATE_PASS = ("near_dup", "exact_substr", "ppl_word")


def curate(run: Run) -> None:
    from fscrawler_spark.functions.dedup import near_dup_pipeline
    from fscrawler_spark.functions.exact_substr import duplicate_span_flags
    from fscrawler_spark.functions.lm_quality import perplexity_buckets, train_word_lm

    spark, tr = run.spark, run.tracer
    gen = loadgen.make_docs(run.path("corpus"), CURATE_TURNS, run.seed, planted=CURATE_PLANTED)
    docs = spark.read.parquet(gen["docs"])
    pairs = gen["planted_pairs"]
    copies = {c for _, c in pairs}
    first_hash: dict[str, str] = run.info.setdefault("row_hashes", {})

    def kernel(name, fn):
        # the collect is the sink: every result is at most one small row
        # per doc, and the rows feed the checks and the repeatability hash
        rows = run.timed(name, "functions", fn)
        h = _rows_hash(rows)
        first_hash.setdefault(name, h)
        return rows, h == first_hash[name]

    def ppl():
        with tr.span("lm_train", "functions"):
            lm = train_word_lm(docs, "text")
        with tr.span("lm_score", "functions"):
            return perplexity_buckets(docs, lm, "text").select("doc_id", "ppl", "ppl_bucket").collect()

    def one_pass(i: int) -> None:
        with tr.op(f"pass-{i}"):
            nd, nd_same = kernel("near_dup", lambda: near_dup_pipeline(
                docs, id_col="doc_id", text_col="text").collect())
            es, es_same = kernel("exact_substr", lambda: duplicate_span_flags(
                docs, id_col="doc_id", text_col="text", min_len=50
            ).select("doc_id", "dup_chars", "dup_spans").collect())
            pp, pp_same = kernel("ppl_word", ppl)
        cluster = {r["id"]: r["cluster_id"] for r in nd}
        split = [p for p in pairs if p[0] not in cluster or cluster[p[0]] != cluster.get(p[1])]
        run.check("near_dup", not split and nd_same,
                  {"planted": len(pairs), "split": len(split), "same_rows": nd_same})
        flagged = {r["doc_id"] for r in es}
        run.check("exact_substr", copies <= flagged and es_same,
                  {"planted_unflagged": len(copies - flagged), "same_rows": es_same})
        bucketed = sum(1 for r in pp if r["ppl_bucket"] is not None)
        run.check("ppl_word", len(pp) == gen["n_docs"] and bucketed > 0 and pp_same,
                  {"rows": len(pp), "bucketed": bucketed, "same_rows": pp_same})

    # the first pass pays the kernels' start-up in a fresh process (Python
    # workers and their imports, JVM JIT: near_dup runs ~3x slower). It is
    # checked but not measured: how long JIT takes swings with the host's
    # load far more than the kernels' own work does
    one_pass(0)
    for op in CURATE_PASS:
        run.samples[op].clear()
    _until_spent(run, lambda i: one_pass(i + 1))
    run.cycle_ops = CURATE_PASS
    if tr.enabled:
        _curate_layers(run, docs)


def _curate_layers(run: Run, docs) -> None:
    """functions-layer counters for the curation kernels: the near-dup
    stages the benchmark can call one by one, and the kernels' shuffle
    bytes and task skew from their last traced pass."""
    from fscrawler_spark.functions.dedup import (
        lsh_candidate_pairs,
        minhash_signatures_fast,
        verify_candidates,
    )
    from fscrawler_spark.session import materialize

    tr = run.tracer
    with tr.span("minhash", "functions") as sp:
        sigs = materialize(minhash_signatures_fast(docs, id_col="doc_id", text_col="text"))
    with tr.span("lsh_verify", "functions"):
        cands = materialize(lsh_candidate_pairs(sigs))
        n_cands = cands.count()
        n_verified = verify_candidates(docs, cands, id_col="doc_id", text_col="text").count()
    nd = tr.inclusive(tr.named("near_dup")[-1])
    es = tr.inclusive(tr.named("exact_substr")[-1])
    train, score = tr.named("lm_train")[-1], tr.named("lm_score")[-1]
    run.layer.update(
        {
            "functions.dedup.minhash_s": sp["end"] - sp["start"],
            "functions.dedup.candidate_pairs": n_cands,
            "functions.dedup.verified_frac": n_verified / n_cands if n_cands else 0.0,
            "functions.dedup.shuffle_bytes": nd["shuffle_write_bytes"],
            "functions.exact_substr.shuffle_bytes": es["shuffle_write_bytes"],
            "functions.exact_substr.task_skew": es["task_skew"],
            "functions.lm_quality.train_s": train["end"] - train["start"],
            "functions.lm_quality.score_s": score["end"] - score["start"],
        }
    )
