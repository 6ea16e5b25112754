"""Seeded load generator: every input the benchmark feeds the engine, and
every mutation of it, comes from here and from the run's ``--seed``.

The corpus itself is ``fscrawler_spark.datagen`` (the project's own
seeded transcript generator, with its 8% ``megaconv-0`` skew and its
golden ``expected.parquet``); this module adds the two things the
workloads need on top of it:

* planted near-duplicate turns for ``curate`` — copies of long plain-text
  turns with one word appended, so each pair's shingle Jaccard stays
  above 0.98 and MinHash-LSH must put both in one cluster;
* the edit a ``delta_tick`` cycle commits to the input snapshot table
  through the public ``SnapshotTable.replace``/``append`` API — about 1%
  of one file's turns edited, one conversation dropped, five new turns —
  together with the counts every maintained table must show for it.

Nothing here is timed as part of an end-to-end metric.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
import time

import pyarrow as pa
import pyarrow.parquet as pq

NEW_TURNS = 5
PLANT_SUFFIX = " planted"
TURN_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def doc_id(conv_id: str, turn_idx: int) -> str:
    """The engine's doc_id: sha256 of ``conv_id/turn_idx`` (operators/extract.py)."""
    return hashlib.sha256(f"{conv_id}/{turn_idx}".encode()).hexdigest()


def make_corpus(out_dir: str, n_turns: int, seed: int, planted: int = 0) -> dict:
    """Write ``transcripts.parquet`` + ``expected.parquet`` for ``seed``;
    with ``planted > 0`` also append that many near-duplicate turns (one
    per new conversation ``planted-<k>``) to both. Returns the paths and
    the planted ``(source doc_id, copy doc_id)`` pairs."""
    from fscrawler_spark.datagen import generate_transcripts
    from fscrawler_spark.functions.extractors import extract

    paths = generate_transcripts(out_dir, n_turns=n_turns, seed=seed)
    pairs: list[tuple[str, str]] = []
    if planted:
        src = pq.read_table(paths["transcripts"])
        exp = pq.read_table(paths["expected"])
        texts = src.column("text").to_pylist()
        mimes = exp.column("expected_mime").to_pylist()
        outs = exp.column("expected_text").to_pylist()
        long_plain = [
            i for i, (m, o) in enumerate(zip(mimes, outs))
            if m == "text/plain" and o is not None and len(o.split()) >= 80
        ]
        if len(long_plain) < planted:
            raise ValueError(f"corpus has {len(long_plain)} long plain turns, need {planted}")
        picks = sorted(random.Random(seed).sample(long_plain, planted))
        convs = src.column("conv_id").to_pylist()
        idxs = src.column("turn_idx").to_pylist()
        rows, exp_rows = [], []
        for k, i in enumerate(picks):
            conv = f"planted-{k}"
            text = texts[i] + PLANT_SUFFIX
            r = extract(text)
            rows.append(
                {
                    "conv_id": conv, "turn_idx": 0, "role": "user", "text": text,
                    "tool": None, "ts": src.column("ts")[i].as_py(),
                }
            )
            exp_rows.append(
                {
                    "conv_id": conv, "turn_idx": 0, "expected_text": r.extracted,
                    "expected_spans": [{"start": s, "end": e} for s, e in r.spans],
                    "expected_mime": r.mime, "expected_error": r.error,
                }
            )
            pairs.append((doc_id(convs[i], idxs[i]), doc_id(conv, 0)))
        pq.write_table(
            pa.concat_tables([src, pa.Table.from_pylist(rows, schema=src.schema)]),
            paths["transcripts"],
            row_group_size=10_000,
        )
        pq.write_table(
            pa.concat_tables([exp, pa.Table.from_pylist(exp_rows, schema=exp.schema)]),
            paths["expected"],
        )
    return {**paths, "planted_pairs": pairs}


def make_docs(out_dir: str, n_turns: int, seed: int, planted: int) -> dict:
    """The extracted docs the curation kernels read: ``(doc_id, text)``
    for every turn of a seeded corpus (planted pairs included) whose
    extraction yields text, written as ``docs.parquet``. The text is the
    golden extraction ``make_corpus`` records — the engine's own kernel,
    so these are the rows ``run_extraction_job`` writes to ``docs/``."""
    corpus = make_corpus(out_dir, n_turns, seed, planted=planted)
    exp = pq.read_table(corpus["expected"], columns=["conv_id", "turn_idx", "expected_text"])
    rows = [
        (doc_id(c, i), t)
        for c, i, t in zip(*(exp.column(k).to_pylist() for k in exp.column_names))
        if t is not None
    ]
    path = os.path.join(out_dir, "docs.parquet")
    pq.write_table(
        pa.table({"doc_id": [d for d, _ in rows], "text": [t for _, t in rows]}), path
    )
    return {"docs": path, "n_docs": len(rows), "planted_pairs": corpus["planted_pairs"]}


def make_input_table(spark, transcripts: str, root: str, files: int):
    """Commit the corpus as a ``files``-file snapshot table, range-clustered
    on the turn key so an edit touches one file."""
    from fscrawler_spark.plans.snapshot_table import SnapshotTable

    tbl = SnapshotTable(root)
    tbl.overwrite(spark, spark.read.parquet(transcripts).repartitionByRange(files, "conv_id", "turn_idx"))
    return tbl


def commit_edit(spark, tbl, seed: int, cycle: int, span) -> dict:
    """Commit one seeded edit to the input table: in one file, drop one
    conversation's turns and append a marker to ~1% of the rest (at least
    two), replacing that file; then append ``NEW_TURNS`` turns of a new
    conversation. Returns what the edit did, for the correctness checks:
    ``updates``/``deletes``/``inserts`` row counts, plus the turns whose
    extracted text changed and the conversations the edit touched, and
    ``commit_s``, the wall time of the two commits. ``span(name, layer)``
    is the tracer's span factory; the commits run inside one."""

    from pyspark.sql import functions as F

    from fscrawler_spark.functions.extractors import extract

    rng = random.Random(seed * 1_000_003 + cycle)
    entries = tbl.files()
    rng.shuffle(entries)
    for victim in entries:
        old = tbl.read_entries(spark, [victim])
        rows = old.select("conv_id", "turn_idx", "text").collect()
        convs = sorted({r["conv_id"] for r in rows} - {"megaconv-0"})
        if len(convs) >= 2:
            break
    else:
        raise RuntimeError("no input file holds two droppable conversations")
    drop = rng.choice(convs)
    kept = [r for r in rows if r["conv_id"] != drop]
    n_edit = max(2, round(0.01 * len(rows)))
    edits = rng.sample(kept, n_edit)
    marker = f" edit-{seed}-{cycle}"
    edit_keys = functools.reduce(
        lambda a, b: a | b,
        [(F.col("conv_id") == r["conv_id"]) & (F.col("turn_idx") == r["turn_idx"]) for r in edits],
    )
    new_file = old.filter(F.col("conv_id") != drop).withColumn(
        "text", F.when(edit_keys, F.concat(F.col("text"), F.lit(marker))).otherwise(F.col("text"))
    )
    # a dropped conversation can continue in a neighbouring file; then it
    # is changed, not removed, for the conversation-level store
    drop_elsewhere = tbl.read(spark).filter(F.col("conv_id") == drop).count() > sum(
        1 for r in rows if r["conv_id"] == drop
    )
    new_conv = f"new-{seed}-{cycle}"
    ts = 1_700_000_000 + cycle
    fresh = spark.createDataFrame(
        [(new_conv, i, "user", f"new turn {i} of cycle {cycle}", None, None) for i in range(NEW_TURNS)],
        TURN_SCHEMA,
    ).withColumn("ts", F.timestamp_seconds(F.lit(ts)))
    t0 = time.perf_counter()
    with span("commit", "plans.snapshot_table"):
        tbl.replace(spark, [victim.path], new_file.coalesce(1))
        tbl.append(spark, fresh.coalesce(1))
    commit_s = time.perf_counter() - t0
    text_changed = [
        r for r in edits
        if extract(r["text"]).extracted != extract(r["text"] + marker).extracted
    ]
    changed_convs = {r["conv_id"] for r in text_changed} | {new_conv}
    if drop_elsewhere:
        changed_convs.add(drop)
    return {
        "file": victim.path,
        "updates": n_edit,
        "deletes": len(rows) - len(kept),
        "inserts": NEW_TURNS,
        "text_changed": len(text_changed),
        "changed_convs": len(changed_convs),
        "removed_convs": 0 if drop_elsewhere else 1,
        "commit_s": commit_s,
    }

