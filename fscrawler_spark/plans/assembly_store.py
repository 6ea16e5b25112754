"""Persisted conversation-assembly store under an extraction output —
the steady-state tick for the assembly tier: each call diffs
per-CONVERSATION content fingerprints against what was assembled last,
re-assembles ONLY the changed conversations, and commits them to one
keyed snapshot table. At 10^12 turns a tick's assembly work scales with
the changed-conversation set, never the corpus — the same delta-shaped
contract as the extraction tick (plans/pipeline.run_incremental_update)
and the dedup store (plans/dedup_store), applied to the derived
training-document table.

Layout: ``<output_dir>/assembled/`` is a SnapshotTable
(plans/snapshot_table) with one row per conversation, keyed by
``conv_id``:

  (conv_id, conv_sha, doc, n_turns, n_chars)

Read it with ``SnapshotTable(<out>/assembled).read(spark)``; like any
snapshot table it time-travels, serves ``--table-changes``
(``--table-keys conv_id``), and keeps old snapshots on disk until
``--table-history --table-expire N --output <out>/assembled`` reclaims
them. The first tick bootstraps with a clustered ``overwrite``; every
later tick is ONE ``apply_delta`` (changed conversations upserted,
vanished ones deleted), so a crash before that commit leaves the
previous snapshot current and the next tick redoes the same delta.

The per-conv fingerprint is a sha256 over the SORTED (turn_idx, role,
sha(text)) lines of the conversation — order- and partition-independent,
and sensitive to exactly what assembly renders (a role or text edit, a
new/removed turn). Computing it is one corpus-scale scan + one shuffle
of a single short row per conversation — the same
"one content-diff pass per tick" budget as dedup_store's sha diff; the
expensive part (building the documents) runs on the delta only.

Safety contract (shared with dedup_store): the params fingerprint rides
the commit summary and drift refuses; the per-output job lock serializes
ticks. First call auto-bootstraps (everything is a delta).
``asm_version`` rides the fingerprint — bump it when the render template
changes, so stores assembled under old markup refuse loudly.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fscrawler_spark.functions.assembly import assemble_conversations
from fscrawler_spark.plans.dedup_store import (
    _commit,
    _content_diff,
    _docs_table,
    _open_store,
    _rows,
    _small,
)
from fscrawler_spark.session import materialize

STORE_DIR = "assembled"
# bump when the render template (assembly.ROLE_OPEN/CLOSE/TURN_SEP) or
# the fingerprint recipe changes: stored docs become incomparable
_ASM_VERSION = 1


def conversation_fingerprints(
    turns: DataFrame,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    tool_col: str | None = None,
) -> DataFrame:
    """(conv_id, conv_sha): a deterministic per-conversation content
    fingerprint over exactly the fields assembly renders. Turn lines
    hash map-side (short strings ride the shuffle, never the text);
    sort_array makes the digest independent of partitioning and task
    order — same stability argument as assemble_conversations itself."""
    # every variable-content field enters the line as a fixed-alphabet
    # token (decimal digits / hex sha / a 0|1 null flag), so neither the
    # \x1f field separator nor the \n line joiner can occur inside a
    # field — no crafted role/text can shift boundaries and collide two
    # different conversations. Null flags (not sentinel strings) keep
    # NULL distinct from any real value, and idx coalesces under its
    # flag because concat_ws would silently SKIP a NULL field.
    def _flagged(col):
        return F.when(col.isNull(), F.lit("0")).otherwise(F.lit("1"))

    line = F.concat_ws(
        "\x1f",
        _flagged(F.col(idx_col)),
        F.coalesce(F.col(idx_col).cast("string"), F.lit("")),
        _flagged(F.col(role_col)),
        F.sha2(F.coalesce(F.col(role_col), F.lit("")), 256),
        _flagged(F.col(text_col)),
        F.sha2(F.coalesce(F.col(text_col), F.lit("")), 256),
        *(
            [
                _flagged(F.col(tool_col)),
                F.sha2(F.coalesce(F.col(tool_col), F.lit("")), 256),
            ]
            if tool_col is not None
            else []
        ),
    )
    return (
        turns.select(F.col(conv_col).alias("conv_id"), line.alias("_l"))
        .groupBy("conv_id")
        .agg(
            F.sha2(F.array_join(F.sort_array(F.collect_list("_l")), "\n"), 256).alias(
                "conv_sha"
            )
        )
    )


def assembly_tick(
    spark: SparkSession,
    output_dir: str,
    corpus: DataFrame | None = None,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "extracted",
    tool_col: str | None = None,
    max_turns: int | None = None,
) -> dict:
    """One assembly tick over ``corpus`` (default: the docs table at
    ``output_dir``). Re-assembles only conversations whose fingerprint
    changed since the last tick; purges assembled rows of conversations
    that vanished. Returns ``{bootstrap, changed_convs, removed_convs,
    convs_total}``. The first call IS the bootstrap.

    Reference analog: the reference re-runs its folder rollup per scan
    (FsParser.java:214-260); this keeps the conversation-level rollup
    incremental instead."""
    from fscrawler_spark.plans.pipeline import _JobLock

    with _JobLock(output_dir, "assembly-tick"):
        return _assembly_tick_impl(
            spark, output_dir, corpus, conv_col, idx_col, role_col,
            text_col, tool_col, max_turns,
        )


def _assembly_tick_impl(
    spark: SparkSession,
    output_dir: str,
    corpus: DataFrame | None,
    conv_col: str,
    idx_col: str,
    role_col: str,
    text_col: str,
    tool_col: str | None,
    max_turns: int | None,
) -> dict:
    params = {"max_turns": max_turns, "tool_col": tool_col, "asm_version": _ASM_VERSION}
    table = _open_store(os.path.join(output_dir, STORE_DIR), params, "assembly")
    if corpus is None:
        corpus = _docs_table(spark, output_dir)
    needed = [conv_col, idx_col, role_col, text_col] + (
        [tool_col] if tool_col is not None else []
    )
    missing = [c for c in needed if c not in corpus.columns]
    if missing:
        # a clean library-level refusal (the CLI's except clause turns it
        # into exit 2), not an AnalysisException traceback mid-plan
        raise ValueError(
            f"assembly tick needs columns {needed} on the docs table; "
            f"missing {missing} (has {corpus.columns})"
        )

    cur = conversation_fingerprints(
        corpus, conv_col, idx_col, role_col, text_col, tool_col
    )
    stored = table.read(spark) if table.exists() else None
    changed, gone, n_changed, n_gone = _content_diff(cur, stored, "conv_id", "conv_sha")
    upserts = None
    if n_changed:
        # the delta-sized work: assemble ONLY the changed conversations.
        # Broadcast the key set when small so the semi-join never
        # shuffles the corpus (same shape as the extraction tick's
        # changed-keys join).
        changed = _small(changed, n_changed)
        assembled = assemble_conversations(
            corpus.join(
                changed.select(F.col("conv_id").alias(conv_col)), conv_col, "left_semi"
            ),
            conv_col=conv_col,
            idx_col=idx_col,
            role_col=role_col,
            text_col=text_col,
            tool_col=tool_col,
            max_turns=max_turns,
        ).withColumnRenamed(conv_col, "conv_id")
        # materialized once: the commit's key probes, touched-file
        # pruning and staging write all consume it
        upserts = materialize(
            assembled.join(changed, "conv_id").select(
                "conv_id", "conv_sha", "doc", "n_turns", "n_chars"
            )
        )
    if n_changed or n_gone:
        _commit(spark, table, upserts, gone, "conv_id", params)
    return {
        "bootstrap": stored is None,
        "changed_convs": n_changed,
        "removed_convs": n_gone,
        "convs_total": _rows(table),
    }
