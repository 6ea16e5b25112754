"""CLI entry point — the FsCrawlerCli analog.

Reference: /root/reference/cli/.../FsCrawlerCli.java:96-140 (--loop,
--restart, job dir). Here a crawl "job" is one spark-submit invocation:

    spark-submit --py-files fscrawler_spark.zip -m fscrawler_spark.cli \\
        --input /data/transcripts --output /data/extracted \\
        [--loop N] [--restart] [--indexed-chars 100000] ...

--restart clears the checkpoint manifest (full re-scan, the reference's
--restart semantics); --loop N repeats the scan N times (update_rate
analog; each loop is incremental via the checkpoint — already-completed
buckets are skipped unless --restart).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="fscrawler-spark", description=__doc__)
    # not required=True: the control verbs (--status/--pause/--resume-paused)
    # need only --output; crawl runs validate --input in main()
    p.add_argument("--input", default=None, help="transcripts parquet path")
    p.add_argument("--output", required=True, help="output table directory")
    p.add_argument("--loop", type=int, default=1, help="number of scan loops (default 1)")
    p.add_argument(
        "--update-rate",
        default=None,
        help="sleep between loops, reference TimeValue syntax ('15m', '30s'; "
        "default: no sleep) — fs.update_rate analog, settings/Fs.java:38",
    )
    p.add_argument("--restart", action="store_true", help="ignore checkpoint, full rescan")
    p.add_argument(
        "--incremental",
        action="store_true",
        help="steady-state tick over an existing output: re-extract only "
        "new/changed turns, apply deletions (the reference's recurring "
        "update_rate scan body, FsParser.java:488-556)",
    )
    p.add_argument(
        "--indexed-chars",
        default="100000",
        help="max extracted chars per turn; int, or a percentage of the "
        "source length like '30%%' (TikaDocParser.java:141-156)",
    )
    p.add_argument(
        "--ignore-above",
        default=None,
        help="skip turns larger than this; bytes or '2kb'/'1mb' "
        "(ByteSizeValue syntax, FsParser.java:960-974)",
    )
    p.add_argument("--includes", nargs="*", default=[])
    p.add_argument("--excludes", nargs="*", default=["*/~*"])
    p.add_argument("--filters", nargs="*", default=[], help="content regexes (all must match)")
    p.add_argument("--num-buckets", type=int, default=32)
    p.add_argument(
        "--layout",
        choices=["parquet", "bucketed"],
        default=None,
        help="incremental-tick diff layout: 'bucketed' routes the "
        "corpus-scale change/delete diff through the co-located snapshot "
        "index (zero-shuffle with a table: input; see plans/bucketed.py). "
        "Default: self-selecting — the layout recorded in the table's "
        "checkpoint manifest, else 'bucketed' when a valid snapshot index "
        "exists on disk, else 'parquet'",
    )
    p.add_argument(
        "--publish-table",
        default=None,
        metavar="ROOT",
        help="also publish the run's output to the snapshot table at ROOT "
        "(plans/snapshot_table.py): full runs bootstrap a clustered "
        "overwrite; --incremental ticks apply ONLY the tick's delta as "
        "one atomic stats-pruned MERGE+DELETE commit while the recorded "
        "correspondence holds (Iceberg write-back, north_star)",
    )
    p.add_argument("--skew-salt", type=int, default=8)
    p.add_argument("--lang-detect", action="store_true")
    p.add_argument("--store-source", action="store_true")
    p.add_argument("--master", default=None)
    p.add_argument(
        "--dry-run",
        action="store_true",
        help="simulate: print plan + would-write counts, write nothing "
        "(REST ?simulate analog, rest/DocumentApi.java:89-92)",
    )
    p.add_argument(
        "--status",
        action="store_true",
        help="print the job status snapshot and exit "
        "(GET /_crawler/status analog, rest/CrawlerApi.java:55-151)",
    )
    p.add_argument(
        "--pause",
        action="store_true",
        help="request a running/future job to pause between waves "
        "(POST /_crawler/pause analog)",
    )
    p.add_argument(
        "--resume-paused",
        action="store_true",
        help="clear a pause request; the next run continues pending waves "
        "(POST /_crawler/resume analog)",
    )
    p.add_argument(
        "--table-history",
        action="store_true",
        help="treat --output as a SNAPSHOT TABLE root (plans/snapshot_table.py) "
        "and print its commit log as JSON, then exit (no SparkSession; "
        "Iceberg table.history() analog)",
    )
    p.add_argument(
        "--table-expire",
        type=int,
        default=None,
        metavar="KEEP",
        help="with --table-history: first expire all but the newest KEEP "
        "snapshots of the --output table and GC data files no retained "
        "snapshot references (Iceberg expireSnapshots analog)",
    )
    p.add_argument(
        "--table-vacuum",
        type=float,
        nargs="?",
        const=3600.0,
        default=None,
        metavar="AGE_S",
        help="delete the --output snapshot table's ORPHAN data files — "
        "files no snapshot references (crash leftovers a staging rename "
        "left behind; Iceberg remove_orphan_files analog) — plus stale "
        "_stage-* scratch dirs, keeping anything younger than AGE_S "
        "seconds (default 3600, the in-flight-commit safety fence); "
        "print the removed paths, exit (no SparkSession)",
    )
    p.add_argument(
        "--table-upsert",
        metavar="DELTA",
        default=None,
        help="MERGE a parquet table of rows into the --output snapshot "
        "table by --table-keys: same-key rows replace, new keys insert, "
        "rewriting only the data files whose stats ranges can hold a "
        "delta key (snapshot_table.upsert)",
    )
    p.add_argument(
        "--table-delete",
        metavar="KEYS",
        default=None,
        help="delete rows of the --output snapshot table matching the "
        "keys in a parquet table (columns = --table-keys); same stats "
        "pruning as --table-upsert",
    )
    p.add_argument(
        "--table-keys",
        default="conv_id,turn_idx",
        help="comma-separated key columns for --table-upsert/--table-delete/"
        "--table-changes (default conv_id,turn_idx; --table-changes also "
        "accepts 'none' for the raw file-level stream)",
    )
    p.add_argument(
        "--table-changes",
        metavar="FROM[:TO]",
        default=None,
        help="read the --output snapshot table's row-level changelog "
        "between two snapshots (Iceberg incremental read / Delta CDF "
        "analog: _change_type in insert/delete/update_preimage/"
        "update_postimage, bystander rows of copy-on-write rewrites "
        "cancelled by --table-keys); FROM/TO are snapshot ids or TAG "
        "names (what changed between train-v2 and train-v3); TO "
        "defaults to current; print per-type counts as JSON, optionally "
        "writing rows to --changes-out",
    )
    p.add_argument(
        "--changes-out",
        metavar="DIR",
        default=None,
        help="with --table-changes: write the changelog rows as parquet "
        "here (sorted by key within partitions for stable listings)",
    )
    p.add_argument(
        "--sync-derived",
        metavar="UPSTREAM_ROOT",
        default=None,
        help="keep the --output snapshot table in sync with the UPSTREAM "
        "snapshot table as an identity mirror (materialized-view "
        "maintenance over the changelog: first run bootstraps, later "
        "runs consume read_changes O(delta) and apply ONE atomic "
        "MERGE+DELETE; the cursor rides the derived table's own commit "
        "summary); keyed by --table-keys; print the sync result as JSON "
        "(library callers pass a transform for non-identity views)",
    )
    p.add_argument(
        "--force-bootstrap",
        action="store_true",
        help="with --sync-derived: rebuild the derived table from "
        "upstream even if it exists without (or with a drifted) cursor",
    )
    p.add_argument(
        "--sync-dag",
        metavar="SPEC_JSON",
        default=None,
        help="maintain a whole DAG of derived views in one pass (the "
        "multi-view form of --sync-derived): SPEC_JSON is a file "
        '{"upstream": ROOT, "views": [{"name", "root", '
        '"upstream": view-name|null, "filter": SQL, '
        '"select": [SQL, ...], "keys": [col, ...]}]} — filter/select '
        "use the --view-filter/--view-select grammar (keys always "
        "retained); views sync in topological order so one root delta "
        "flows through every level; prints one JSON line with per-view "
        "results; --force-bootstrap rebuilds every view",
    )
    p.add_argument(
        "--view-filter",
        metavar="SQL_EXPR",
        default=None,
        help="with --sync-derived: maintain a FILTERED view — only "
        "upstream rows where this SQL boolean expression holds (e.g. "
        "\"error IS NULL\"); rows updated out of the filter are deleted "
        "downstream, never left stale",
    )
    p.add_argument(
        "--view-select",
        metavar="SQL_EXPR",
        action="append",
        default=None,
        help="with --sync-derived: project the view's columns — "
        "repeatable, one SQL expression per use (alias with AS, e.g. "
        "\"length(extracted) AS n_chars\"); the key columns "
        "(--table-keys) are always retained",
    )
    p.add_argument(
        "--table-tag",
        metavar="NAME[@N]",
        default=None,
        help="pin a named tag on the --output snapshot table (Iceberg tag "
        "analog): NAME pins the current snapshot, NAME@N pins snapshot N; "
        "tagged snapshots survive --table-expire until the tag is dropped "
        "(retention follows the refs); refuses to move an existing tag "
        "unless --tag-force; read back with snap:ROOT@NAME at --input",
    )
    p.add_argument(
        "--tag-force",
        action="store_true",
        help="with --table-tag: move the tag if it already exists",
    )
    p.add_argument(
        "--table-drop-tag",
        metavar="NAME",
        default=None,
        help="drop a tag from the --output snapshot table (its snapshot "
        "becomes expirable again)",
    )
    p.add_argument(
        "--table-rollback",
        type=int,
        default=None,
        metavar="SNAPSHOT",
        help="roll the --output snapshot table back to SNAPSHOT's exact "
        "contents as a NEW commit (Iceberg rollback_to_snapshot analog; "
        "O(metadata), no SparkSession), print the new snapshot id, exit",
    )
    p.add_argument(
        "--table-compact",
        type=int,
        nargs="?",
        const=128,
        default=None,
        metavar="TARGET_MB",
        help="bin-pack the --output snapshot table's small data files into "
        "~TARGET_MB files (default 128) as one copy-on-write commit "
        "(Iceberg rewriteDataFiles analog; rows byte-equal, a manifest-"
        "diff tick across it does zero work), print the rewrite stats, exit",
    )
    p.add_argument(
        "--compact",
        action="store_true",
        help="treat --input as a STREAMING file-sink directory and compact "
        "it into a fresh batch table at --output (one-way migration; "
        "streaming/micro_batch.compact_streaming_output)",
    )
    p.add_argument(
        "--doctor",
        action="store_true",
        help="read-only consistency check of --output (manifest vs docs vs "
        "metrics vs snapshot index vs markers); exit 0 = healthy (warnings "
        "allowed), 3 = ERROR-severity findings "
        "(plans/doctor.py)",
    )
    p.add_argument(
        "--dedup-lines",
        type=int,
        default=None,
        metavar="MIN_DOCS",
        help="one-shot curation pass: read the docs table at --input (an "
        "extraction output root or its docs/ dir), strip every line whose "
        "trimmed form appears in >= MIN_DOCS distinct docs (CCNet/"
        "RefinedWeb boilerplate removal, curation.strip_repeated_lines), "
        "and write the curated table to --output with removed_lines/"
        "kept_lines audit columns",
    )
    p.add_argument(
        "--clean-text",
        action="store_true",
        help="one-shot curation pass: read the docs table at --input, "
        "normalize extracted text (NFC, control-char strip, mojibake "
        "repair — functions/normalize.clean_text; ASCII rows stay "
        "JVM-side), and write the curated table to --output with "
        "changed/mojibake audit counters",
    )
    p.add_argument(
        "--c4-filter",
        action="store_true",
        help="one-shot curation pass: C4 recipe (Raffel 2020) — clean "
        "each doc's lines (terminal punct, >=5 words, javascript/policy "
        "boilerplate), drop pages failing the page gate, write kept rows "
        "with extracted replaced by the cleaned text plus a "
        "c4_lines_removed audit column; stats report per-reason drops",
    )
    p.add_argument(
        "--c4-min-sentences",
        type=int,
        default=None,
        help="page gate sentence floor for --c4-filter (default 3)",
    )
    p.add_argument(
        "--gopher-filter",
        action="store_true",
        help="one-shot curation pass: Gopher rule gate (Rae 2021) — drop "
        "docs failing any rule, text unchanged; stats report per-reason "
        "drops",
    )
    p.add_argument(
        "--report",
        action="store_true",
        help="one-shot pass: corpus statistics report (plans/report.py) — "
        "per-group + total docs/null/error/char/word counts in ONE rollup "
        "aggregate; writes the report table to --output and prints it",
    )
    p.add_argument(
        "--report-group",
        default=None,
        help="group column for --report (default mime)",
    )
    p.add_argument(
        "--export",
        type=int,
        default=None,
        metavar="N_SHARDS",
        help="one-shot pass: export the docs table at --input as N_SHARDS "
        "deterministic training shards under --output/shards plus a "
        "verifiable --output/manifest (functions/export.py: md5 epoch "
        "permutation, hash shards, XOR checksums; no global sort)",
    )
    p.add_argument(
        "--export-seed",
        type=int,
        default=0,
        help="epoch seed for --export (a new seed is a new permutation)",
    )
    p.add_argument(
        "--export-format",
        default="parquet",
        choices=("parquet", "json"),
        help="shard file format for --export (json = JSONL shard files)",
    )
    p.add_argument(
        "--export-curriculum",
        default=None,
        metavar="STAGE_COL",
        help="curriculum export: order each shard's stream stage-major by "
        "this integer difficulty-bin column (easy-to-hard), seeded "
        "permutation within each stage (export.curriculum_order); shard "
        "assignment stays stage-stratified",
    )
    p.add_argument(
        "--dedup-spans",
        type=int,
        default=None,
        metavar="MIN_LEN",
        help="one-shot curation pass: read the docs table at --input, "
        "strip every text span of >= MIN_LEN chars that repeats across "
        "documents (exact-substring dedup, Lee et al. 2021 — "
        "functions/exact_substr.strip_duplicate_spans, cross-doc "
        "semantics), and write the curated table to --output with a "
        "dup_chars_removed audit column",
    )
    p.add_argument(
        "--chunk",
        type=int,
        default=None,
        metavar="MAX_TOKENS",
        help="one-shot curation pass: read the docs table at --input and "
        "split every doc into fixed-size whitespace-token windows of at "
        "most MAX_TOKENS tokens (curation.chunk_documents — context-length "
        "prep; combine with --chunk-stride for overlap), writing one row "
        "per chunk to --output with chunk_idx/tok_start/n_tokens audit "
        "columns",
    )
    p.add_argument(
        "--chunk-stride",
        type=int,
        default=None,
        metavar="STRIDE",
        help="window start step for --chunk (default MAX_TOKENS = "
        "disjoint; smaller = overlapping windows)",
    )
    p.add_argument(
        "--assemble",
        action="store_true",
        help="one-shot assembly pass: read the extraction table at --input "
        "and stitch each conversation's turns, in stable turn order, into "
        "ONE training document under the <|role|> template "
        "(assembly.assemble_conversations), writing (conv_id, doc, "
        "n_turns, n_chars) to --output",
    )
    p.add_argument(
        "--assemble-max-turns",
        type=int,
        default=None,
        metavar="N",
        help="keep only the first N turns of each conversation for "
        "--assemble (the mega-conversation bound)",
    )
    p.add_argument(
        "--assemble-spans",
        default=None,
        metavar="ROLE",
        help="with --assemble: also emit train_spans — [start, end) char "
        "offsets into doc covering the TEXT of every ROLE turn (header "
        "and separators excluded) — the SFT loss mask over the assembled "
        "representation; slicing doc at each span reproduces the turn "
        "text exactly",
    )
    p.add_argument(
        "--assemble-tools",
        action="store_true",
        help="render tool-call turns with a tool= attribute in the header "
        "(<|assistant tool=search|>) for --assemble/--sft-pairs/"
        "--assemble-store, using the docs table's tool column",
    )
    p.add_argument(
        "--sft-pairs",
        action="store_true",
        help="one-shot assembly pass: read the extraction table at --input "
        "and emit one (prompt, response) SFT example per --sft-role turn, "
        "the prompt being its rendered --sft-context turn window "
        "(assembly.sft_examples), written to --output",
    )
    p.add_argument(
        "--sft-context",
        type=int,
        default=None,
        metavar="TURNS",
        help="context-window bound for --sft-pairs prompts (default 8 "
        "preceding turns)",
    )
    p.add_argument(
        "--sft-role",
        default=None,
        metavar="ROLE",
        help="the response role for --sft-pairs (default assistant)",
    )
    p.add_argument(
        "--pref-pairs",
        action="store_true",
        help="one-shot assembly pass: build --sft-pairs examples, then group "
        "them by identical prompt and emit one (prompt, chosen, rejected) "
        "DPO/RM preference pair per prompt with >= 2 distinct responses, "
        "chosen/rejected by quality_score (assembly.preference_pairs), "
        "written to --output; --sft-context/--sft-role shape the examples",
    )
    p.add_argument(
        "--pref-margin",
        type=float,
        default=None,
        metavar="GAP",
        help="minimum chosen-rejected score gap for --pref-pairs "
        "(default 0.0 — any distinct-response pair)",
    )
    p.add_argument(
        "--mix",
        default=None,
        metavar="RATES",
        help="one-shot composition pass: read the docs table at --input and "
        "keep/replicate rows per --mix-group at 'GROUP=RATE[,GROUP=RATE...]' "
        "expected-copy rates (rate 0.25 keeps a quarter, 2.5 = two epochs "
        "plus a sampled half — The Pile/DoReMi source mixing, "
        "functions/mixing.mix_corpus); writes --output with an epoch column",
    )
    p.add_argument(
        "--mix-budget",
        type=int,
        default=None,
        metavar="TOKENS",
        help="one-shot composition pass: downsample every --mix-group group "
        "of the docs table at --input to ~TOKENS tokens "
        "(functions/mixing.sample_to_token_budget over "
        "text_analysis.token_count); prints the computed per-group rates",
    )
    p.add_argument(
        "--mix-group",
        default="mime",
        metavar="COL",
        help="grouping column for --mix/--mix-budget (default: mime)",
    )
    p.add_argument(
        "--mix-default",
        type=float,
        default=1.0,
        metavar="RATE",
        help="rate for groups absent from --mix's list (default: 1.0)",
    )
    p.add_argument(
        "--dsir-select",
        type=int,
        default=None,
        metavar="K",
        help="one-shot composition pass: train a DSIR importance model "
        "(Xie et al. 2023; hashed-ngram target vs raw log-ratios, "
        "functions/mixing.train_importance_model) of the docs table at "
        "--dsir-target over the docs table at --input, then select the K "
        "most target-like docs by deterministic Gumbel-top-k and write "
        "them to --output with log_weight/sample_key audit columns",
    )
    p.add_argument(
        "--dsir-target",
        default=None,
        metavar="PATH",
        help="target-domain docs table for --dsir-select (an extraction "
        "output root or its docs/ dir)",
    )
    p.add_argument(
        "--quality-filter",
        type=float,
        default=None,
        metavar="THRESHOLD",
        help="one-shot curation pass: train a fastText-style NB quality "
        "classifier (quality_classifier.train_quality_classifier) on the "
        "labeled seed tables at --quality-pos/--quality-neg, score the "
        "docs table at --input, and write the rows whose log-odds exceed "
        "THRESHOLD (0.0 = Bayes boundary; raise for precision) to "
        "--output with a log_odds audit column",
    )
    p.add_argument(
        "--quality-pos",
        default=None,
        metavar="PATH",
        help="positive ('keep more like this') seed docs table for "
        "--quality-filter (an extraction output root or its docs/ dir)",
    )
    p.add_argument(
        "--quality-neg",
        default=None,
        metavar="PATH",
        help="negative ('junk') seed docs table for --quality-filter",
    )
    p.add_argument(
        "--decontaminate",
        default=None,
        metavar="BENCH_PATH",
        help="one-shot curation pass: drop every doc in the docs table at "
        "--input sharing >= --decon-min-hits distinct --decon-ngrams-word "
        "n-grams with any doc of the benchmark table at BENCH_PATH (an "
        "extraction output root or its docs/ dir) — the removal half of "
        "the eval-leakage scan (curation.decontaminate); write survivors "
        "to --output",
    )
    p.add_argument(
        "--decon-ngrams",
        type=int,
        default=None,
        metavar="N",
        help="n-gram length for --decontaminate (default: 8 — long grams "
        "keep hits specific)",
    )
    p.add_argument(
        "--decon-min-hits",
        type=int,
        default=None,
        metavar="K",
        help="distinct shared n-grams per (doc, bench item) pair needed "
        "to drop the doc for --decontaminate (default: 2)",
    )
    p.add_argument(
        "--decon-fuzzy",
        type=float,
        default=None,
        metavar="SIM",
        help="switch --decontaminate to NEAR-duplicate matching: drop "
        "docs whose word-shingle Jaccard vs any benchmark item is >= SIM "
        "(curation.fuzzy_decontaminate — MinHash/LSH with recall-first "
        "banding + exact-Jaccard verify; catches paraphrased eval "
        "leakage the exact n-gram scan misses). Excludes "
        "--decon-ngrams/--decon-min-hits",
    )
    p.add_argument(
        "--decon-semantic",
        type=float,
        default=None,
        metavar="SIM",
        help="switch --decontaminate to EMBEDDING-space matching: drop "
        "docs whose hashed-feature embedding cosine vs any benchmark "
        "item is >= SIM (curation.semantic_decontaminate — benchmark "
        "collected once and broadcast, corpus side a pure map, no "
        "corpus shuffle). Excludes the n-gram knobs and --decon-fuzzy",
    )
    p.add_argument(
        "--decon-dim",
        type=int,
        default=None,
        metavar="DIM",
        help="embedding dimension for --decon-semantic (default 256)",
    )
    p.add_argument(
        "--decon-max-benchmark",
        type=int,
        default=None,
        metavar="N",
        help="benchmark-size bound for --decon-fuzzy/--decon-semantic "
        "(default 100000): both broadcast the benchmark side, so a "
        "corpus-sized table is refused with exit 2 — raise this "
        "deliberately if the benchmark truly is that large",
    )
    p.add_argument(
        "--ppl-model",
        choices=["char", "word"],
        default="char",
        help="LM family for --ppl-filter: 'char' = character-trigram "
        "add-k (the oracle-parity twin, default), 'word' = hashed "
        "word-trigram stupid backoff (closer to CCNet's KenLM "
        "semantics; lm_quality.train_word_lm). Swapping models changes "
        "ppl values and therefore bucket membership — a deliberate, "
        "documented model swap",
    )
    p.add_argument(
        "--ppl-filter",
        default=None,
        metavar="BUCKETS",
        help="one-shot curation pass: CCNet perplexity bucketing "
        "(lm_quality.perplexity_buckets) — train a char n-gram LM on the "
        "docs table at --ppl-target (default: the --input table itself), "
        "score every --input doc, split head/middle/tail at the "
        "--ppl-cuts quantiles, and write only the comma-listed BUCKETS "
        "(e.g. 'head' or 'head,middle') to --output with ppl/ppl_bucket "
        "audit columns. Unscorable docs (null/too-short text) keep a "
        "NULL bucket and are always dropped",
    )
    p.add_argument(
        "--ppl-target",
        default=None,
        metavar="PATH",
        help="trusted seed docs table to train the LM for --ppl-filter "
        "(CCNet trains on Wikipedia, not the crawl; default: --input)",
    )
    p.add_argument(
        "--ppl-cuts",
        default=None,
        metavar="LO,HI",
        help="head/middle and middle/tail perplexity quantiles for "
        "--ppl-filter (default: 0.3333,0.6667)",
    )
    p.add_argument(
        "--tokenize",
        type=int,
        default=None,
        metavar="N_MERGES",
        help="one-shot composition pass: train a byte-pair-encoding "
        "vocabulary of N_MERGES merges on the docs table at --input "
        "(bpe.train_bpe; skipped when --bpe-merges is given), encode "
        "every doc (bpe_tokens/n_bpe_tokens columns), and write the "
        "encoded docs to --output/docs plus the reusable merges table "
        "to --output/merges",
    )
    p.add_argument(
        "--bpe-merges",
        default=None,
        metavar="PATH",
        help="reuse a previously trained merges table (a --tokenize "
        "run's --output/merges) instead of training on --input",
    )
    p.add_argument(
        "--semantic-dedup",
        type=float,
        default=None,
        metavar="SIM",
        help="one-shot pass over an EMBEDDINGS table at --input "
        "(vec_id + embedding columns): SemDeDup (Abbas et al. 2023, "
        "embeddings.semantic_dedup) — cluster vectors into "
        "--semantic-cells coarse cells, link within-cell pairs with "
        "cosine >= SIM, and write (id, cluster_id, is_keeper) to --output",
    )
    p.add_argument(
        "--semantic-cells",
        type=int,
        default=None,
        metavar="N",
        help="cell count for --semantic-dedup (default: corpus_count/512 "
        "clamped to [16, 65536] — cells of ~512 vectors)",
    )
    p.add_argument(
        "--embed",
        type=int,
        default=None,
        metavar="DIM",
        help="one-shot pass: read the docs table at --input and write a "
        "DIM-dimensional deterministic hashed-feature embedding table "
        "(vec_id, embedding) to --output (embeddings.text_embeddings — "
        "feature-hashed word n-grams, unit-L2; vocabulary-free and "
        "reproducible on any cluster). The output IS the embeddings-table "
        "contract: feed it to --semantic-dedup in a second invocation",
    )
    p.add_argument(
        "--embed-ngrams",
        type=int,
        default=None,
        metavar="N",
        help="word n-gram order for --embed (default 1 = unigrams)",
    )
    p.add_argument(
        "--redact-pii",
        action="store_true",
        help="one-shot curation pass: read the docs table at --input, "
        "replace PII occurrences with typed placeholder tags "
        "(curation.redact_pii — precision-first email/phone/ssn/ipv4 "
        "patterns, all whole-stage-codegen regexp chains) and write to "
        "--output with a pii_found map<kind,count> audit column "
        "(pre-redaction counts)",
    )
    p.add_argument(
        "--pii-kinds",
        default=None,
        metavar="K1,K2",
        help="comma-separated subset of PII kinds to REDACT for "
        "--redact-pii (default: all; the pii_found audit column always "
        "counts every kind)",
    )
    p.add_argument(
        "--near-dup",
        action="store_true",
        help="maintain the persisted near-dup store under --output "
        "(plans/dedup_store: content-diff, delta-only MinHash+LSH, one "
        "snapshot-table commit per tick to <output>/dedup, keyed by id). "
        "Composable with a crawl or --incremental (the dedup tick runs "
        "after each loop), or standalone with just --output (one tick "
        "over the existing docs table)",
    )
    p.add_argument(
        "--assemble-store",
        action="store_true",
        help="maintain the persisted conversation-assembly store under "
        "--output (plans/assembly_store: per-conversation fingerprint "
        "diff, delta-only re-assembly, one snapshot-table commit per "
        "tick to <output>/assembled, keyed by conv_id). "
        "Composable with a crawl or --incremental (the assembly tick "
        "runs after each loop), or standalone with just --output (one "
        "tick over the existing docs table); honors --assemble-max-turns",
    )
    p.add_argument(
        "--near-dup-threshold",
        type=float,
        default=0.8,
        metavar="J",
        help="exact-Jaccard verify threshold for --near-dup (default 0.8)",
    )
    p.add_argument(
        "--rest-port",
        type=int,
        default=None,
        help="serve GET /status, POST /pause, POST /resume over HTTP while "
        "the job runs (0 = pick a free port; the reference's --rest "
        "control plane, rest/CrawlerApi.java:55-151)",
    )
    return p


def _view_transform(vf, vs, keys):
    """The --view-filter/--view-select grammar as a sync transform —
    ONE definition shared by --sync-derived and --sync-dag so the two
    surfaces can never drift: optional SQL predicate, then a projection
    of SQL expressions with the key columns always retained (bare keys
    in the select list are deduped, not duplicated). None/None -> None
    (identity sync)."""
    if vf is None and vs is None:
        return None

    def transform(df, _vf=vf, _vs=vs, _keys=tuple(keys)):
        from pyspark.sql import functions as F

        if _vf:
            df = df.filter(F.expr(_vf))
        if _vs:
            user = [e for e in _vs if str(e).strip() not in _keys]
            df = df.selectExpr(*_keys, *user)
        return df

    return transform


def _read_docs_table(spark, input_path: str):
    """Load the docs table behind a curation verb's --input: an
    extraction output root, its docs/ dir directly, or a SNAPSHOT TABLE
    — `snap:ROOT[@N|@TAG]` or a bare root holding `_snap/` (e.g. a
    --publish-table target), read with snapshot isolation so a curation
    pass over a table live ticks keep publishing to sees ONE consistent
    snapshot; `@N` time-travels, `@TAG` resolves a named tag (a TAG
    suffix is only honored when ROOT is a snapshot table carrying that
    tag, so roots containing '@' stay addressable). Returns
    (DataFrame, None) or (None, error-message)."""
    from fscrawler_spark.plans.snapshot_table import SNAP_DIR, _TAG_RE, SnapshotTable
    from fscrawler_spark.sources.transcripts import parse_snap_input

    snap_root = sid = None
    if input_path.startswith("snap:"):
        snap_root, sid = parse_snap_input(input_path)
        if sid is None:
            root, sep, suffix = snap_root.rpartition("@")
            # a literal directory named ROOT@x always wins over the tag
            # grammar, keeping '@'-bearing roots addressable; cheap isdir
            # short-circuits before the table's _snap listing
            if (
                sep
                and _TAG_RE.match(suffix)
                and not os.path.isdir(os.path.join(snap_root, SNAP_DIR))
            ):
                t0 = SnapshotTable(root)
                if t0.exists():
                    try:
                        snap_root, sid = root, t0.resolve_tag(suffix)
                    except (FileNotFoundError, ValueError) as e:
                        # missing tag OR a torn tag file: clean message,
                        # the curation verbs' exit-2 contract
                        return None, str(e)
    elif os.path.isdir(os.path.join(input_path, SNAP_DIR)):
        snap_root = input_path
    if snap_root is not None:
        t = SnapshotTable(snap_root)
        if not t.exists():
            return None, f"no snapshot table at {snap_root}"
        try:
            docs = t.read(spark, snapshot_id=sid)
        except FileNotFoundError as e:
            return None, str(e)
        if "doc_id" not in docs.columns or "extracted" not in docs.columns:
            return None, (
                f"snapshot table {snap_root} is not an extraction docs table "
                f"(needs doc_id + extracted; has {docs.columns})"
            )
        return docs, None
    docs_path = input_path
    sub = os.path.join(input_path, "docs")
    if os.path.isdir(sub):
        docs_path = sub
    try:
        docs = spark.read.parquet(docs_path)
    except Exception as e:
        return None, f"cannot read docs table at {docs_path}: {e}"
    if "doc_id" not in docs.columns or "extracted" not in docs.columns:
        return None, (
            f"{docs_path} is not an extraction docs table "
            f"(needs doc_id + extracted; has {docs.columns})"
        )
    return docs, None


def _run_quality_filter(
    spark, docs, args, verb: str, flags_col, keep_cols=None, extra_stats=None
) -> int:
    """Shared drive for the page-gate verbs (--c4-filter /
    --gopher-filter): flag -> per-reason drop audit -> write survivors in
    deterministic order -> one JSON stats line. Variable parts: the
    FILTER+AUDIT struct column, an optional transform applied to the
    surviving rows while ``_q`` is still attached (C4 swaps in the
    cleaned text), and extra stats computed over the written output."""
    from pyspark.sql import functions as F

    flagged = docs.withColumn("_q", flags_col)
    total = docs.count()
    dropped_by = {
        r["reason"]: r["n"]
        for r in flagged.select(F.explode("_q.fail_reasons").alias("reason"))
        .groupBy("reason")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    out = flagged.filter(F.col("_q.passes"))
    if keep_cols is not None:
        out = keep_cols(out)
    out = out.drop("_q")
    order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
    out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    stats = {
        verb: True,
        "total": total,
        "kept": written.count(),
        "dropped_by_reason": dropped_by,
    }
    if extra_stats is not None:
        stats.update(extra_stats(written))
    stats["output"] = args.output
    print(json.dumps(stats))
    return 0


def main(argv: list[str] | None = None, spark=None) -> int:
    """CLI entry. ``spark``: optional externally-owned session (tests /
    embedding callers) — the CLI then neither creates nor stops it."""
    args = build_parser().parse_args(argv)
    from fscrawler_spark.config import ExtractSettings
    from fscrawler_spark.plans.pipeline import (
        clear_pause,
        job_status,
        request_pause,
        run_extraction_job,
    )
    from fscrawler_spark.session import get_spark

    # control-plane verbs: no SparkSession needed (CrawlerApi analog)
    if args.status:
        print(json.dumps(job_status(args.output)))
        return 0
    if args.pause:
        request_pause(args.output)
        print(json.dumps({"pause_requested": True}))
        return 0
    if args.resume_paused:
        clear_pause(args.output)
        print(json.dumps({"pause_requested": False}))
        return 0
    if args.sync_derived is not None or args.sync_dag is not None:
        # same contract as --doctor and the curation verbs: a combination
        # that would silently skip one of the verbs is an error, not a
        # half-done exit 0 — and it must be checked BEFORE any verb
        # dispatches (--loop/--update-rate ARE the sync's own knobs;
        # curation-verb conflicts are caught by their exclusivity check)
        sync_conflicts = [
            name
            for name, on in (
                ("--sync-derived with --sync-dag",
                 args.sync_derived is not None and args.sync_dag is not None),
                ("--input", args.input is not None),
                ("--incremental", args.incremental),
                ("--restart", args.restart),
                ("--dry-run", args.dry_run),
                ("--compact", args.compact),
                ("--doctor", args.doctor),
                ("--near-dup", args.near_dup),
                ("--assemble-store", args.assemble_store),
                ("--semantic-dedup", args.semantic_dedup is not None),
                ("--table-history", args.table_history),
                ("--table-expire", args.table_expire is not None),
                ("--table-rollback", args.table_rollback is not None),
                ("--table-vacuum", args.table_vacuum is not None),
                ("--table-upsert", args.table_upsert is not None),
                ("--table-delete", args.table_delete is not None),
                ("--table-compact", args.table_compact is not None),
                ("--table-changes", args.table_changes is not None),
                ("--table-tag", args.table_tag is not None),
                ("--table-drop-tag", args.table_drop_tag is not None),
            )
            if on
        ]
        if sync_conflicts:
            print(
                f"error: --sync-derived/--sync-dag cannot combine with "
                f"{'/'.join(sync_conflicts)} — one verb per invocation",
                file=sys.stderr,
            )
            return 2
        if args.table_keys.strip().lower() == "none":
            print(
                "error: --table-keys none is the raw file-level stream "
                "sentinel for --table-changes; a derived-table sync is "
                "keyed — name real key columns (default conv_id,turn_idx)",
                file=sys.stderr,
            )
            return 2
    if args.table_expire is not None and not args.table_history:
        print("error: --table-expire requires --table-history", file=sys.stderr)
        return 2
    if args.table_vacuum is not None:
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        t = SnapshotTable(args.output)
        if not t.exists():
            print(f"error: no snapshot table at {args.output}", file=sys.stderr)
            return 2
        if args.table_vacuum < 0:
            print("error: --table-vacuum AGE_S must be >= 0", file=sys.stderr)
            return 2
        removed = t.remove_orphans(older_than_s=args.table_vacuum)
        print(json.dumps({"root": args.output, "removed_orphans": removed}))
        return 0
    if args.tag_force and args.table_tag is None:
        print("error: --tag-force requires --table-tag", file=sys.stderr)
        return 2
    if args.table_tag is not None or args.table_drop_tag is not None:
        # one verb per invocation (the repo-wide contract): a combination
        # would silently run only the tag verb and skip the rest
        tag_conflicts = [
            name
            for name, on in (
                ("--table-drop-tag with --table-tag",
                 args.table_tag is not None and args.table_drop_tag is not None),
                ("--input", args.input is not None),
                ("--incremental", args.incremental),
                ("--restart", args.restart),
                ("--dry-run", args.dry_run),
                ("--compact", args.compact),
                ("--doctor", args.doctor),
                ("--table-history", args.table_history),
                ("--table-expire", args.table_expire is not None),
                ("--table-rollback", args.table_rollback is not None),
                ("--table-vacuum", args.table_vacuum is not None),
                ("--table-upsert", args.table_upsert is not None),
                ("--table-delete", args.table_delete is not None),
                ("--table-compact", args.table_compact is not None),
                ("--table-changes", args.table_changes is not None),
            )
            if on
        ]
        if tag_conflicts:
            print(
                f"error: --table-tag/--table-drop-tag cannot combine with "
                f"{'/'.join(tag_conflicts)} — one verb per invocation",
                file=sys.stderr,
            )
            return 2
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        t = SnapshotTable(args.output)
        if not t.exists():
            print(f"error: no snapshot table at {args.output}", file=sys.stderr)
            return 2
        try:
            if args.table_drop_tag is not None:
                sid = t.drop_tag(args.table_drop_tag)
                print(json.dumps({
                    "root": args.output,
                    "dropped_tag": args.table_drop_tag,
                    "was_snapshot": sid,
                }))
                return 0
            name, sep, suffix = args.table_tag.rpartition("@")
            if sep and suffix.isdigit():
                sid = t.tag(name, int(suffix), force=args.tag_force)
            else:
                sid = t.tag(args.table_tag, force=args.tag_force)
        except (ValueError, FileNotFoundError) as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(json.dumps({
            "root": args.output,
            "tag": name if sep and suffix.isdigit() else args.table_tag,
            "snapshot_id": sid,
        }))
        return 0
    if args.table_rollback is not None:
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        t = SnapshotTable(args.output)
        if not t.exists():
            print(f"error: no snapshot table at {args.output}", file=sys.stderr)
            return 2
        try:
            # metadata-only commit: rollback never touches data files or
            # Spark — the spark handle is unused by the commit path
            sid = t.rollback(None, args.table_rollback)
        except FileNotFoundError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        print(json.dumps({
            "root": args.output,
            "rolled_back_to": args.table_rollback,
            "new_snapshot": sid,
        }))
        return 0
    if args.table_history:
        from fscrawler_spark.plans.snapshot_table import SnapshotTable

        t = SnapshotTable(args.output)
        if not t.exists():
            print(f"error: no snapshot table at {args.output}", file=sys.stderr)
            return 2
        expired: list[str] = []
        if args.table_expire is not None:
            if args.table_expire < 1:
                print("error: --table-expire must keep >= 1 snapshot", file=sys.stderr)
                return 2
            expired = t.expire_unreferenced(keep_snapshots=args.table_expire)
        print(
            json.dumps(
                {
                    "root": args.output,
                    "current": t.current_id(),
                    "tags": t.tags(),
                    "history": t.history(),
                    "expired_files": expired,
                }
            )
        )
        return 0
    if (args.near_dup or args.assemble_store) and (
        args.doctor or args.compact or args.dry_run
    ):
        # the store ticks mutate; a read-only or one-shot migration verb
        # silently skipping them would mislead
        print(
            "error: --near-dup/--assemble-store cannot combine with "
            "--doctor/--compact/--dry-run",
            file=sys.stderr,
        )
        return 2
    if (
        not args.input
        and not args.doctor
        and not args.near_dup
        and not args.assemble_store
        and args.table_upsert is None
        and args.table_delete is None
        and args.table_compact is None
        and args.table_changes is None
        and args.sync_derived is None
        and args.sync_dag is None
    ):
        # --doctor/--table-upsert/--table-delete/--table-compact/
        # --table-changes/--sync-derived need only --output (like the
        # control verbs, but they read parquet so they do need a session)
        print("error: --input is required to run a crawl", file=sys.stderr)
        return 2
    if args.restart and args.incremental:
        # usage contradiction: validated BEFORE spinning up a JVM, and
        # before --dry-run could mask it
        print(
            "error: --restart (full re-index) contradicts --incremental "
            "(tick over existing output); pick one",
            file=sys.stderr,
        )
        return 2
    if args.doctor and (
        args.incremental or args.restart or args.dry_run or args.compact or args.loop != 1
    ):
        # the doctor is read-only and returns its own exit code; combining
        # it with a mutating verb would silently skip the mutation
        print(
            "error: --doctor is a standalone read-only check and cannot "
            "combine with --incremental/--restart/--dry-run/--compact/--loop",
            file=sys.stderr,
        )
        return 2
    curation_verbs = [
        name
        for name, on in (
            ("--dedup-lines", args.dedup_lines is not None),
            ("--clean-text", args.clean_text),
            ("--c4-filter", args.c4_filter),
            ("--gopher-filter", args.gopher_filter),
            ("--report", args.report),
            ("--export", args.export is not None),
            ("--dedup-spans", args.dedup_spans is not None),
            ("--mix", args.mix is not None),
            ("--mix-budget", args.mix_budget is not None),
            ("--chunk", args.chunk is not None),
            ("--assemble", args.assemble),
            ("--sft-pairs", args.sft_pairs),
            ("--pref-pairs", args.pref_pairs),
            ("--dsir-select", args.dsir_select is not None),
            ("--quality-filter", args.quality_filter is not None),
            ("--decontaminate", args.decontaminate is not None),
            ("--ppl-filter", args.ppl_filter is not None),
            ("--tokenize", args.tokenize is not None),
            ("--embed", args.embed is not None),
            ("--redact-pii", args.redact_pii),
        )
        if on
    ]
    # --semantic-dedup reads an EMBEDDINGS table, not the docs table, so
    # it shares the one-shot exclusivity contract but not the docs read
    if args.semantic_dedup is not None and (
        curation_verbs
        or args.incremental or args.restart or args.dry_run or args.compact
        or args.doctor or args.near_dup or args.assemble_store or args.loop != 1
    ):
        print(
            "error: --semantic-dedup is a one-shot pass and cannot combine "
            "with another verb",
            file=sys.stderr,
        )
        return 2
    if args.semantic_dedup is not None and not (0.0 < args.semantic_dedup <= 1.0):
        print(
            f"error: --semantic-dedup threshold must be in (0, 1], got "
            f"{args.semantic_dedup}",
            file=sys.stderr,
        )
        return 2
    if args.semantic_cells is not None and args.semantic_dedup is None:
        print("error: --semantic-cells requires --semantic-dedup", file=sys.stderr)
        return 2
    if args.semantic_cells is not None and args.semantic_cells < 1:
        print(
            f"error: --semantic-cells must be >= 1, got {args.semantic_cells}",
            file=sys.stderr,
        )
        return 2
    if args.dsir_select is not None:
        if args.dsir_select < 1:
            print(
                f"error: --dsir-select must be >= 1, got {args.dsir_select}",
                file=sys.stderr,
            )
            return 2
        if args.dsir_target is None:
            print("error: --dsir-select requires --dsir-target", file=sys.stderr)
            return 2
    elif args.dsir_target is not None:
        print("error: --dsir-target requires --dsir-select", file=sys.stderr)
        return 2
    if args.quality_filter is not None:
        if args.quality_pos is None or args.quality_neg is None:
            print(
                "error: --quality-filter requires --quality-pos AND --quality-neg",
                file=sys.stderr,
            )
            return 2
    elif args.quality_pos is not None or args.quality_neg is not None:
        print(
            "error: --quality-pos/--quality-neg require --quality-filter",
            file=sys.stderr,
        )
        return 2
    if len(curation_verbs) > 1 or (
        curation_verbs
        and (
            args.incremental or args.restart or args.dry_run or args.compact
            or args.doctor or args.near_dup or args.assemble_store
            or args.loop != 1 or args.sync_derived is not None
            or args.sync_dag is not None
        )
    ):
        print(
            f"error: {'/'.join(curation_verbs)} is a one-shot curation pass "
            "and cannot combine with another curation verb or "
            "--incremental/--restart/--dry-run/--compact/--doctor/"
            "--near-dup/--assemble-store/--sync-derived/--sync-dag/--loop",
            file=sys.stderr,
        )
        return 2
    if args.decontaminate is None and (
        args.decon_ngrams is not None or args.decon_min_hits is not None
    ):
        print(
            "error: --decon-ngrams/--decon-min-hits require --decontaminate",
            file=sys.stderr,
        )
        return 2
    if args.decon_ngrams is not None and args.decon_ngrams < 1:
        print(
            f"error: --decon-ngrams must be >= 1, got {args.decon_ngrams}",
            file=sys.stderr,
        )
        return 2
    if args.decon_min_hits is not None and args.decon_min_hits < 1:
        print(
            f"error: --decon-min-hits must be >= 1, got {args.decon_min_hits}",
            file=sys.stderr,
        )
        return 2
    if args.decon_max_benchmark is not None and (
        args.decon_fuzzy is None and args.decon_semantic is None
    ):
        print(
            "error: --decon-max-benchmark requires --decon-fuzzy or "
            "--decon-semantic",
            file=sys.stderr,
        )
        return 2
    if args.decon_max_benchmark is not None and args.decon_max_benchmark < 1:
        print(
            f"error: --decon-max-benchmark must be >= 1, got {args.decon_max_benchmark}",
            file=sys.stderr,
        )
        return 2
    if args.force_bootstrap and args.sync_derived is None and args.sync_dag is None:
        print(
            "error: --force-bootstrap requires --sync-derived or --sync-dag",
            file=sys.stderr,
        )
        return 2
    if args.sync_derived is None and (
        args.view_filter is not None or args.view_select is not None
    ):
        print(
            "error: --view-filter/--view-select require --sync-derived",
            file=sys.stderr,
        )
        return 2
    if args.ppl_filter is None and (
        args.ppl_target is not None or args.ppl_cuts is not None
    ):
        print("error: --ppl-target/--ppl-cuts require --ppl-filter", file=sys.stderr)
        return 2
    ppl_keep: list[str] = []
    if args.ppl_filter is not None:
        ppl_keep = [b.strip() for b in args.ppl_filter.split(",") if b.strip()]
        bad = [b for b in ppl_keep if b not in ("head", "middle", "tail")]
        if bad or not ppl_keep:
            print(
                f"error: --ppl-filter takes a comma list of head/middle/tail, "
                f"got {args.ppl_filter!r}",
                file=sys.stderr,
            )
            return 2
    ppl_cuts = (1 / 3, 2 / 3)
    if args.ppl_cuts is not None:
        try:
            lo, hi = (float(x) for x in args.ppl_cuts.split(","))
        except ValueError:
            print(
                f"error: --ppl-cuts must be 'LO,HI' floats, got {args.ppl_cuts!r}",
                file=sys.stderr,
            )
            return 2
        if not (0.0 < lo < hi < 1.0):
            print(
                f"error: --ppl-cuts must satisfy 0 < LO < HI < 1, got {lo},{hi}",
                file=sys.stderr,
            )
            return 2
        ppl_cuts = (lo, hi)
    if args.tokenize is not None and args.tokenize < 1:
        print(f"error: --tokenize must be >= 1, got {args.tokenize}", file=sys.stderr)
        return 2
    if args.bpe_merges is not None and args.tokenize is None:
        print("error: --bpe-merges requires --tokenize", file=sys.stderr)
        return 2
    if args.report_group is not None and not args.report:
        print("error: --report-group requires --report", file=sys.stderr)
        return 2
    if args.export is not None and args.export < 1:
        print(f"error: --export must be >= 1, got {args.export}", file=sys.stderr)
        return 2
    if args.export_seed != 0 and args.export is None:
        print("error: --export-seed requires --export", file=sys.stderr)
        return 2
    if args.export_format != "parquet" and args.export is None:
        print("error: --export-format requires --export", file=sys.stderr)
        return 2
    if args.c4_min_sentences is not None and not args.c4_filter:
        print("error: --c4-min-sentences requires --c4-filter", file=sys.stderr)
        return 2
    if args.c4_min_sentences is not None and args.c4_min_sentences < 0:
        print(
            f"error: --c4-min-sentences must be >= 0, got {args.c4_min_sentences}",
            file=sys.stderr,
        )
        return 2
    if args.chunk_stride is not None and args.chunk is None:
        print("error: --chunk-stride requires --chunk", file=sys.stderr)
        return 2
    if args.chunk is not None and args.chunk < 1:
        print(f"error: --chunk must be >= 1, got {args.chunk}", file=sys.stderr)
        return 2
    if args.chunk_stride is not None and not (1 <= args.chunk_stride <= (args.chunk or 0)):
        print(
            f"error: --chunk-stride must be in [1, --chunk={args.chunk}], "
            f"got {args.chunk_stride} (a stride past the window drops tokens)",
            file=sys.stderr,
        )
        return 2
    if args.embed is not None and not (1 <= args.embed <= 4096):
        print(f"error: --embed DIM must be in [1, 4096], got {args.embed}", file=sys.stderr)
        return 2
    if args.embed_ngrams is not None and args.embed is None:
        print("error: --embed-ngrams requires --embed", file=sys.stderr)
        return 2
    if args.embed_ngrams is not None and args.embed_ngrams < 1:
        print(
            f"error: --embed-ngrams must be >= 1, got {args.embed_ngrams}",
            file=sys.stderr,
        )
        return 2
    if args.decon_fuzzy is not None and args.decontaminate is None:
        print("error: --decon-fuzzy requires --decontaminate", file=sys.stderr)
        return 2
    if args.decon_fuzzy is not None and not (0.0 < args.decon_fuzzy <= 1.0):
        print(
            f"error: --decon-fuzzy SIM must be in (0, 1], got {args.decon_fuzzy}",
            file=sys.stderr,
        )
        return 2
    if args.decon_fuzzy is not None and (
        args.decon_ngrams is not None or args.decon_min_hits is not None
    ):
        print(
            "error: --decon-fuzzy replaces the n-gram scan; "
            "--decon-ngrams/--decon-min-hits do not apply",
            file=sys.stderr,
        )
        return 2
    if args.decon_semantic is not None:
        if args.decontaminate is None:
            print("error: --decon-semantic requires --decontaminate", file=sys.stderr)
            return 2
        if not (0.0 < args.decon_semantic <= 1.0):
            print(
                f"error: --decon-semantic SIM must be in (0, 1], got "
                f"{args.decon_semantic}",
                file=sys.stderr,
            )
            return 2
        if (
            args.decon_fuzzy is not None
            or args.decon_ngrams is not None
            or args.decon_min_hits is not None
        ):
            print(
                "error: --decon-semantic replaces the n-gram scan; "
                "--decon-fuzzy/--decon-ngrams/--decon-min-hits do not apply",
                file=sys.stderr,
            )
            return 2
    if args.decon_dim is not None and args.decon_semantic is None:
        print("error: --decon-dim requires --decon-semantic", file=sys.stderr)
        return 2
    if args.decon_dim is not None and not (1 <= args.decon_dim <= 4096):
        print(
            f"error: --decon-dim must be in [1, 4096], got {args.decon_dim}",
            file=sys.stderr,
        )
        return 2
    if args.pii_kinds is not None and not args.redact_pii:
        print("error: --pii-kinds requires --redact-pii", file=sys.stderr)
        return 2
    if args.pii_kinds is not None:
        from fscrawler_spark.functions.curation import PII_PATTERNS

        known = {k for k, _p, _t in PII_PATTERNS}
        bad = [k for k in args.pii_kinds.split(",") if k not in known]
        if bad:
            print(
                f"error: unknown --pii-kinds {bad}; known: {sorted(known)}",
                file=sys.stderr,
            )
            return 2
    if args.assemble_spans is not None and not args.assemble:
        print("error: --assemble-spans requires --assemble", file=sys.stderr)
        return 2
    if args.assemble_max_turns is not None and not (args.assemble or args.assemble_store):
        print(
            "error: --assemble-max-turns requires --assemble or --assemble-store",
            file=sys.stderr,
        )
        return 2
    if args.assemble_tools and not (
        args.assemble or args.sft_pairs or args.pref_pairs or args.assemble_store
    ):
        print(
            "error: --assemble-tools requires --assemble, --sft-pairs, "
            "--pref-pairs, or --assemble-store",
            file=sys.stderr,
        )
        return 2
    if args.assemble_max_turns is not None and args.assemble_max_turns < 1:
        print(
            f"error: --assemble-max-turns must be >= 1, got {args.assemble_max_turns}",
            file=sys.stderr,
        )
        return 2
    if (args.sft_context is not None or args.sft_role is not None) and not (
        args.sft_pairs or args.pref_pairs
    ):
        print(
            "error: --sft-context/--sft-role require --sft-pairs or --pref-pairs",
            file=sys.stderr,
        )
        return 2
    if args.pref_margin is not None and not args.pref_pairs:
        print("error: --pref-margin requires --pref-pairs", file=sys.stderr)
        return 2
    if args.pref_margin is not None and args.pref_margin < 0:
        print(
            f"error: --pref-margin must be >= 0, got {args.pref_margin}",
            file=sys.stderr,
        )
        return 2
    if args.export_curriculum is not None and args.export is None:
        print("error: --export-curriculum requires --export", file=sys.stderr)
        return 2
    if args.sft_context is not None and args.sft_context < 1:
        print(
            f"error: --sft-context must be >= 1, got {args.sft_context}",
            file=sys.stderr,
        )
        return 2
    if args.dedup_spans is not None and args.dedup_spans < 2:
        print(
            f"error: --dedup-spans must be >= 2, got {args.dedup_spans}",
            file=sys.stderr,
        )
        return 2
    if args.dedup_lines is not None and args.dedup_lines < 2:
        print(
            f"error: --dedup-lines must be >= 2 (a line 'repeated' in "
            f"{args.dedup_lines} doc is every line), got {args.dedup_lines}",
            file=sys.stderr,
        )
        return 2
    mix_rates = None
    if args.mix is not None:
        # parse 'GROUP=RATE[,GROUP=RATE...]' before spinning up a JVM;
        # rate-range errors (negative, inf, sub-resolution) are caught by
        # mixing._split_rate at run time with the same exit-2 contract
        mix_rates = {}
        for part in args.mix.split(","):
            name, sep, val = part.partition("=")
            try:
                if not sep or not name.strip():
                    raise ValueError(part)
                mix_rates[name.strip()] = float(val)
            except ValueError:
                print(
                    f"error: --mix expects GROUP=RATE[,GROUP=RATE...], "
                    f"got {part!r}",
                    file=sys.stderr,
                )
                return 2
    if args.compact and (args.incremental or args.restart or args.dry_run or args.loop != 1):
        # compaction is a single one-way migration: silently ignoring any
        # of these flags would run PARTIAL behavior under a contract the
        # user didn't get (--dry-run especially: compaction writes)
        print(
            "error: --compact is a one-shot migration and cannot combine "
            "with --incremental/--restart/--dry-run/--loop",
            file=sys.stderr,
        )
        return 2

    from fscrawler_spark.config import (
        DEFAULT_INDEXED_CHARS,
        parse_byte_size,
        parse_percentage,
        parse_time_value,
    )

    # value-type parsing AND settings-range errors are config errors:
    # clean message + exit 2 (argparse type= semantics), never a
    # traceback — ExtractSettings.__post_init__ validates every numeric
    # knob (negative --indexed-chars, --num-buckets 0, ...)
    try:
        ic = str(args.indexed_chars).strip()
        ic_percent = parse_percentage(ic) if ic.endswith("%") else None
        ic_chars = int(ic) if ic_percent is None else DEFAULT_INDEXED_CHARS
        ignore_above = parse_byte_size(args.ignore_above)
        sleep_s = parse_time_value(args.update_rate)
        if sleep_s is not None and sleep_s < 0:
            raise ValueError(f"--update-rate must be >= 0, got {args.update_rate!r}")
        if args.loop < 1:
            raise ValueError(f"--loop must be >= 1, got {args.loop}")
        settings = ExtractSettings(
            indexed_chars=ic_chars,
            indexed_chars_percent=ic_percent,
            ignore_above=ignore_above,
            includes=tuple(args.includes),
            excludes=tuple(args.excludes),
            filters=tuple(args.filters),
            num_buckets=args.num_buckets,
            skew_salt=args.skew_salt,
            lang_detect=args.lang_detect,
            store_source=args.store_source,
        )
    except ValueError as e:
        print(f"error: invalid argument value: {e}", file=sys.stderr)
        return 2
    rest_server = None
    owns_session = spark is None
    # everything from the server start onward sits inside the try: a
    # get_spark failure (bad --master, port conflict) must not leak the
    # bound HTTP thread into the host process
    try:
        if args.rest_port is not None:
            from fscrawler_spark.rest import StatusServer

            rest_server = StatusServer(
                args.output,
                port=args.rest_port,
                # GET /table serves the publish target's metadata when one
                # is configured, else the output dir itself (if a table)
                table_root=args.publish_table,
            ).start()
            print(json.dumps({"rest": f"http://{rest_server.host}:{rest_server.port}"}))
        if owns_session:
            spark = get_spark(app="fscrawler-spark-cli", master=args.master)
        if args.doctor:
            from fscrawler_spark.plans.doctor import check_output

            res = check_output(spark, args.output)
            print(json.dumps(res))
            return 0 if res["ok"] else 3
        if args.table_compact is not None:
            from fscrawler_spark.plans.snapshot_table import SnapshotTable

            t = SnapshotTable(args.output)
            if not t.exists():
                print(f"error: no snapshot table at {args.output}", file=sys.stderr)
                return 2
            if args.table_compact < 1:
                print("error: --table-compact target must be >= 1 MB", file=sys.stderr)
                return 2
            res = t.compact(spark, target_file_bytes=args.table_compact * 1024 * 1024)
            res["operation"] = "compact"
            print(json.dumps(res))
            return 0
        if args.table_changes is not None:
            from fscrawler_spark.plans.snapshot_table import SnapshotTable

            t = SnapshotTable(args.output)
            if not t.exists():
                print(f"error: no snapshot table at {args.output}", file=sys.stderr)
                return 2
            spec = args.table_changes.split(":")
            if len(spec) > 2:
                # arity BEFORE tag resolution, so '1:2:3' (or 'v2:x:3')
                # gets the grammar error, not a misleading tag lookup
                print(
                    f"error: --table-changes wants FROM[:TO] snapshot ids "
                    f"or tag names, got {args.table_changes!r}",
                    file=sys.stderr,
                )
                return 2

            def bound(s):
                # a bound is a snapshot id or a TAG name ("what changed
                # between train-v2 and train-v3"); tags start with a
                # letter so the grammar is unambiguous
                return int(s) if s.isdigit() else t.resolve_tag(s)

            try:
                from_id = bound(spec[0])
                to_id = bound(spec[1]) if len(spec) > 1 and spec[1] else None
            except ValueError as e:
                # invalid tag name / torn tag file — clean message, exit 2
                if "torn" in str(e):
                    print(f"error: {e}", file=sys.stderr)
                else:
                    print(
                        f"error: --table-changes wants FROM[:TO] snapshot "
                        f"ids or tag names, got {args.table_changes!r}",
                        file=sys.stderr,
                    )
                return 2
            except FileNotFoundError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            raw_keys = args.table_keys.strip().lower()
            keys = (
                None
                if raw_keys in ("", "none")
                else tuple(k.strip() for k in args.table_keys.split(",") if k.strip())
            )
            try:
                # resolve "current" ONCE so the printed bound is the one read
                if to_id is None:
                    to_id = t.current_id()
                ch = t.read_changes(spark, from_id, to_id, keys=keys)
                if args.changes_out is not None:
                    order = list(keys) if keys else ["_change_type"]
                    ch.sortWithinPartitions(*order).write.mode(
                        "overwrite"
                    ).parquet(args.changes_out)
                    ch = spark.read.parquet(args.changes_out)
                counts = {
                    r["_change_type"]: r["count"]
                    for r in ch.groupBy("_change_type").count().collect()
                }
            # RuntimeError covers SnapshotIntegrityError from diff() —
            # same exit-2 contract as the other table verbs
            except (ValueError, FileNotFoundError, RuntimeError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(
                json.dumps(
                    {
                        "operation": "changes",
                        "from_snapshot": from_id,
                        "to_snapshot": to_id,
                        "counts": counts,
                        "rows": sum(counts.values()),
                        "out": args.changes_out,
                    }
                )
            )
            return 0
        if args.sync_dag is not None:
            from pyspark.errors import AnalysisException

            from fscrawler_spark.plans.derived import sync_view_dag

            try:
                with open(args.sync_dag) as f:
                    spec = json.load(f)
            except (OSError, json.JSONDecodeError) as e:
                print(f"error: cannot read --sync-dag spec: {e}", file=sys.stderr)
                return 2
            up_spec = spec.get("upstream") if isinstance(spec, dict) else None
            views_spec = spec.get("views") if isinstance(spec, dict) else None
            if not isinstance(up_spec, str) or not isinstance(views_spec, list) \
                    or not views_spec:
                print(
                    'error: --sync-dag spec must be {"upstream": ROOT, '
                    '"views": [{...}, ...]}',
                    file=sys.stderr,
                )
                return 2
            default_keys = tuple(
                k.strip() for k in args.table_keys.split(",") if k.strip()
            )

            def _rel(p: str) -> str:
                # relative roots resolve against --output, so one spec
                # file drives any deployment directory
                return p if os.path.isabs(p) else os.path.join(args.output, p)

            views = []
            for v in views_spec:
                if not isinstance(v, dict):
                    print(
                        f"error: --sync-dag views must be objects, got {v!r}",
                        file=sys.stderr,
                    )
                    return 2
                vf, vs = v.get("filter"), v.get("select")
                if vf is not None and not isinstance(vf, str):
                    print(
                        f"error: view {v.get('name')!r}: 'filter' must be a "
                        f"SQL expression string, got {vf!r}",
                        file=sys.stderr,
                    )
                    return 2
                if vs is not None and (
                    not isinstance(vs, list)
                    or not all(isinstance(x, str) for x in vs)
                ):
                    print(
                        f"error: view {v.get('name')!r}: 'select' must be a "
                        "list of SQL expression strings",
                        file=sys.stderr,
                    )
                    return 2
                vk = v.get("keys")
                if vk is not None and (
                    not isinstance(vk, list)
                    or not all(isinstance(x, str) for x in vk)
                ):
                    # a bare string would be iterated per-CHARACTER as
                    # key columns — refuse with the actual type
                    print(
                        f"error: view {v.get('name')!r}: 'keys' must be a "
                        f"list of column names, got {vk!r}",
                        file=sys.stderr,
                    )
                    return 2
                vkeys = vk if vk is not None else default_keys
                entry = {
                    "name": v.get("name"),
                    "root": _rel(str(v["root"])) if v.get("root") else v.get("root"),
                    "upstream": v.get("upstream"),
                    "keys": vkeys,
                    "transform": _view_transform(vf, vs, vkeys),
                }
                views.append(entry)
            # --loop/--update-rate are the sync's own knobs here exactly
            # as on --sync-derived: continuous view-TREE maintenance,
            # one JSON line per pass, --force-bootstrap first pass only
            for i in range(args.loop):
                try:
                    res = sync_view_dag(
                        spark,
                        _rel(up_spec),
                        views,
                        keys=default_keys,
                        force_bootstrap=args.force_bootstrap and i == 0,
                    )
                except (
                    ValueError,
                    FileNotFoundError,
                    RuntimeError,
                    AnalysisException,
                ) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
                print(json.dumps({"operation": "sync-dag", "loop": i + 1, "views": res}))
                if sleep_s and i + 1 < args.loop:
                    import time as _time

                    _time.sleep(sleep_s)
            return 0
        if args.sync_derived is not None:
            import time as _time

            from pyspark.errors import AnalysisException

            from fscrawler_spark.plans.derived import sync_derived_table

            keys = tuple(k.strip() for k in args.table_keys.split(",") if k.strip())
            if not keys:
                print(
                    "error: --table-keys must name at least one column "
                    f"(got {args.table_keys!r})",
                    file=sys.stderr,
                )
                return 2
            # a non-identity view straight from the CLI: the shared
            # --view-filter/--view-select grammar (_view_transform)
            transform = _view_transform(args.view_filter, args.view_select, keys)

            # --loop N --update-rate T = continuous materialized-view
            # maintenance (the crawl loop's analog for the derived tier):
            # one JSON line per sync; --force-bootstrap applies to the
            # FIRST sync only (rebuild once, then deltas)
            for i in range(args.loop):
                try:
                    res = sync_derived_table(
                        spark,
                        args.sync_derived,
                        args.output,
                        transform=transform,
                        keys=keys,
                        force_bootstrap=args.force_bootstrap and i == 0,
                    )
                except (
                    ValueError,
                    FileNotFoundError,
                    RuntimeError,
                    AnalysisException,
                ) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
                res["operation"] = "sync-derived"
                res["loop"] = i + 1
                print(json.dumps(res))
                if sleep_s and i + 1 < args.loop:
                    _time.sleep(sleep_s)
            return 0
        if args.table_upsert is not None or args.table_delete is not None:
            from fscrawler_spark.plans.snapshot_table import SnapshotTable

            t = SnapshotTable(args.output)
            if not t.exists():
                print(f"error: no snapshot table at {args.output}", file=sys.stderr)
                return 2
            keys = tuple(k.strip() for k in args.table_keys.split(",") if k.strip())
            if not keys:
                print(
                    "error: --table-keys must name at least one column "
                    f"(got {args.table_keys!r})",
                    file=sys.stderr,
                )
                return 2
            try:
                if args.table_upsert is not None:
                    res = t.upsert(spark, spark.read.parquet(args.table_upsert), keys=keys)
                    res["operation"] = "upsert"
                else:
                    res = t.delete_rows(
                        spark, spark.read.parquet(args.table_delete), keys=keys
                    )
                    res["operation"] = "delete"
            except (ValueError, FileNotFoundError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(json.dumps(res))
            return 0
        if curation_verbs:
            docs, err = _read_docs_table(spark, args.input)
            if err:
                print(f"error: {err}", file=sys.stderr)
                return 2
        if args.chunk is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.curation import chunk_documents

            chunks = chunk_documents(
                docs,
                id_col="doc_id",
                text_col="extracted",
                max_tokens=args.chunk,
                stride=args.chunk_stride,
            ).withColumnsRenamed({"id": "doc_id", "chunk_text": "extracted"})
            # one output row per chunk, original metadata re-attached
            out = docs.drop("extracted").join(chunks, "doc_id")
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order, "chunk_idx").write.mode(
                "overwrite"
            ).parquet(args.output)
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("chunks"),
                F.count_distinct("doc_id").alias("docs"),
                F.max("n_tokens").alias("widest"),
            ).collect()[0]
            print(json.dumps({
                "chunk": args.chunk,
                "stride": args.chunk_stride or args.chunk,
                "docs": stats["docs"],
                "chunks": stats["chunks"],
                "max_chunk_tokens": stats["widest"],
                "output": args.output,
            }))
            return 0
        if args.embed is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.embeddings import text_embeddings

            emb = text_embeddings(
                docs,
                id_col="doc_id",
                text_col="extracted",
                dim=args.embed,
                ngrams=args.embed_ngrams or 1,
            )
            # the vector stack's centroid path (--semantic-dedup / IVF)
            # requires INTEGER ids; extraction doc_ids are strings, so
            # emit a deterministic int64 surrogate and keep doc_id
            # alongside for mapping results back (collision budget
            # n^2/2^65 — the same one hashed_shingles accepts)
            id_type = dict(docs.dtypes).get("doc_id")
            if id_type not in ("tinyint", "smallint", "int", "bigint"):
                emb = emb.select(
                    F.xxhash64("vec_id").alias("vec_id"),
                    F.col("vec_id").alias("doc_id"),
                    "embedding",
                )
            emb.sortWithinPartitions("vec_id").write.mode("overwrite").parquet(
                args.output
            )
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("docs"),
                F.count_distinct("vec_id").alias("ids"),
                F.sum(
                    (
                        F.aggregate(
                            "embedding", F.lit(0.0), lambda a, x: a + F.abs(x)
                        )
                        > 0
                    ).cast("long")
                ).alias("nonzero"),
            ).collect()[0]
            print(json.dumps({
                "embed": args.embed,
                "ngrams": args.embed_ngrams or 1,
                "docs": stats["docs"],
                # ids < docs would mean surrogate collisions — surfaced,
                # not silently absorbed
                "distinct_vec_ids": stats["ids"],
                # zero vectors = NULL/blank extractions; they can never
                # semantic-match anything downstream
                "nonzero_vectors": int(stats["nonzero"] or 0),
                "output": args.output,
            }))
            return 0
        if args.redact_pii:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.curation import (
                PII_PATTERNS,
                pii_counts,
                redact_pii,
            )

            kinds = tuple(args.pii_kinds.split(",")) if args.pii_kinds else None
            # audit BEFORE redacting: pii_found counts every kind on the
            # original text even when only a subset is redacted
            out = docs.withColumn(
                "pii_found", pii_counts(F.col("extracted"))
            ).withColumn("extracted", redact_pii(F.col("extracted"), kinds))
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            per_kind = [
                F.sum(F.element_at("pii_found", k)).alias(k)
                for k, _p, _t in PII_PATTERNS
            ]
            stats = written.agg(F.count(F.lit(1)).alias("docs"), *per_kind).collect()[0]
            print(json.dumps({
                "redact_pii": True,
                "kinds_redacted": sorted(kinds) if kinds else sorted(
                    k for k, _p, _t in PII_PATTERNS
                ),
                "docs": stats["docs"],
                "found": {
                    k: int(stats[k] or 0) for k, _p, _t in PII_PATTERNS
                },
                "output": args.output,
            }))
            return 0
        if args.assemble or args.sft_pairs or args.pref_pairs:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.assembly import (
                assemble_conversations,
                preference_pairs,
                sft_examples,
            )

            missing = [c for c in ("conv_id", "turn_idx", "role") if c not in docs.columns]
            if missing:
                print(
                    f"error: assembly verbs need conv_id/turn_idx/role on the "
                    f"docs table; missing {missing}",
                    file=sys.stderr,
                )
                return 2
            tool_kw = {"tool_col": "tool"} if args.assemble_tools else {}
            if args.assemble_tools and "tool" not in docs.columns:
                print(
                    "error: --assemble-tools needs a tool column on the docs "
                    "table",
                    file=sys.stderr,
                )
                return 2
            if args.assemble:
                out = assemble_conversations(
                    docs, text_col="extracted",
                    max_turns=args.assemble_max_turns,
                    spans_role=args.assemble_spans, **tool_kw
                )
                out.sortWithinPartitions("conv_id").write.mode("overwrite").parquet(
                    args.output
                )
                written = spark.read.parquet(args.output)
                aggs = [
                    F.count(F.lit(1)).alias("convs"),
                    F.sum("n_turns").alias("turns"),
                    F.sum("n_chars").alias("chars"),
                ]
                if args.assemble_spans is not None:
                    aggs.append(F.sum(F.size("train_spans")).alias("spans"))
                stats = written.agg(*aggs).collect()[0]
                line = {
                    "assemble": True,
                    "max_turns": args.assemble_max_turns,
                    "conversations": stats["convs"],
                    "turns_kept": int(stats["turns"] or 0),
                    "chars": int(stats["chars"] or 0),
                    "output": args.output,
                }
                if args.assemble_spans is not None:
                    line["spans_role"] = args.assemble_spans
                    line["train_spans"] = int(stats["spans"] or 0)
                print(json.dumps(line))
            elif args.pref_pairs:
                sft_role = args.sft_role if args.sft_role is not None else "assistant"
                sft_context = args.sft_context if args.sft_context is not None else 8
                margin = args.pref_margin if args.pref_margin is not None else 0.0
                ex = sft_examples(
                    docs,
                    text_col="extracted",
                    target_role=sft_role,
                    context_turns=sft_context,
                    **tool_kw,
                )
                out = preference_pairs(ex, min_margin=margin)
                out.sortWithinPartitions("prompt").write.mode("overwrite").parquet(
                    args.output
                )
                written = spark.read.parquet(args.output)
                stats = written.agg(
                    F.count(F.lit(1)).alias("pairs"),
                    F.sum("n_candidates").alias("cands"),
                    F.avg(
                        F.col("chosen_score") - F.col("rejected_score")
                    ).alias("gap"),
                ).collect()[0]
                print(json.dumps({
                    "pref_pairs": True,
                    "role": sft_role,
                    "context_turns": sft_context,
                    "min_margin": margin,
                    "pairs": stats["pairs"],
                    "candidates": int(stats["cands"] or 0),
                    "mean_gap": round(float(stats["gap"]), 6) if stats["gap"] is not None else None,
                    "output": args.output,
                }))
            else:
                sft_role = args.sft_role if args.sft_role is not None else "assistant"
                sft_context = args.sft_context if args.sft_context is not None else 8
                out = sft_examples(
                    docs,
                    text_col="extracted",
                    target_role=sft_role,
                    context_turns=sft_context,
                    **tool_kw,
                )
                out.sortWithinPartitions("conv_id", "turn_idx").write.mode(
                    "overwrite"
                ).parquet(args.output)
                written = spark.read.parquet(args.output)
                stats = written.agg(
                    F.count(F.lit(1)).alias("examples"),
                    F.count_distinct("conv_id").alias("convs"),
                    F.sum(F.length("prompt") + F.length("response")).alias("chars"),
                ).collect()[0]
                print(json.dumps({
                    "sft_pairs": True,
                    "role": sft_role,
                    "context_turns": sft_context,
                    "examples": stats["examples"],
                    "conversations": stats["convs"],
                    "chars": int(stats["chars"] or 0),
                    "output": args.output,
                }))
            return 0
        if args.clean_text:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.normalize import clean_text, mojibake_score

            out = docs.withColumn(
                "moji_before", mojibake_score(F.col("extracted"))
            ).withColumn("extracted", clean_text(F.col("extracted")))
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("docs"),
                F.sum("moji_before").alias("moji"),
                F.sum(mojibake_score(F.col("extracted"))).alias("moji_after"),
            ).collect()[0]
            print(json.dumps({
                "clean_text": True,
                "docs": stats["docs"],
                "mojibake_before": int(stats["moji"] or 0),
                "mojibake_after": int(stats["moji_after"] or 0),
                "output": args.output,
            }))
            return 0
        if args.c4_filter:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.curation import c4_quality_flags

            q4 = c4_quality_flags(
                "extracted",
                min_sentences=(
                    3 if args.c4_min_sentences is None else args.c4_min_sentences
                ),
            )

            def _swap_in_cleaned(out):
                return out.withColumn(
                    "extracted", F.col("_q.cleaned_text")
                ).withColumn(
                    "c4_lines_removed",
                    F.col("_q.n_lines") - F.col("_q.n_lines_kept"),
                )

            def _lines_removed(written):
                n = written.agg(F.sum("c4_lines_removed")).collect()[0][0] or 0
                return {"lines_removed_in_kept": int(n)}

            # re-filtering a previous --c4-filter output: drop its stale
            # audit column before re-attaching
            return _run_quality_filter(
                spark, docs.drop("c4_lines_removed"), args, "c4_filter", q4,
                keep_cols=_swap_in_cleaned, extra_stats=_lines_removed,
            )
        if args.gopher_filter:
            from fscrawler_spark.functions.curation import gopher_quality_flags

            return _run_quality_filter(
                spark, docs, args, "gopher_filter",
                gopher_quality_flags("extracted"),
            )
        if args.report:
            from fscrawler_spark.plans.report import corpus_report

            group = args.report_group or "mime"
            try:
                rep = corpus_report(docs, group_col=group)
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            rep.orderBy("group").write.mode("overwrite").parquet(args.output)
            rows = [
                r.asDict() for r in
                spark.read.parquet(args.output).orderBy("group").collect()
            ]
            print(json.dumps({
                "report": True,
                "group_col": group,
                "groups": len(rows) - 1,  # minus the <all> row
                "rows": rows,
                "output": args.output,
            }))
            return 0
        if args.export is not None:
            from fscrawler_spark.functions.export import export_shards, verify_export

            if args.export_curriculum is not None and (
                args.export_curriculum not in docs.columns
            ):
                print(
                    f"error: --export-curriculum column "
                    f"{args.export_curriculum!r} not on the docs table",
                    file=sys.stderr,
                )
                return 2
            stats = export_shards(
                docs, args.output, n_shards=args.export,
                id_col="doc_id", seed=args.export_seed, text_col="extracted",
                fmt=args.export_format, stage_col=args.export_curriculum,
            )
            problems = verify_export(spark, args.output)
            print(json.dumps({
                "export": True,
                "shards": stats["shards"],
                "rows": stats["rows"],
                "seed": args.export_seed,
                "format": args.export_format,
                "curriculum": args.export_curriculum,
                "verify_findings": problems,
                "output": args.output,
            }))
            return 0 if not problems else 1
        if args.dedup_spans is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.exact_substr import strip_duplicate_spans

            before = docs.select(F.sum(F.length("extracted"))).collect()[0][0] or 0
            out = strip_duplicate_spans(
                docs,
                id_col="doc_id",
                text_col="extracted",
                min_len=args.dedup_spans,
                cross_doc_only=True,
            )
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            after = written.select(F.sum(F.length("extracted"))).collect()[0][0] or 0
            print(json.dumps({
                "dedup_spans": args.dedup_spans,
                "docs": written.count(),
                "chars_removed": int(before - after),
                "output": args.output,
            }))
            return 0
        if args.dedup_lines is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.curation import strip_repeated_lines

            curated = strip_repeated_lines(
                docs, id_col="doc_id", text_col="extracted", min_docs=args.dedup_lines
            ).withColumnsRenamed({"id": "doc_id", "text": "extracted"})
            # keep the full original row; only `extracted` is replaced
            out = docs.drop("extracted").join(curated, "doc_id")
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            removed = out.agg(F.sum("removed_lines")).collect()[0][0] or 0
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            print(json.dumps({
                "dedup_lines": args.dedup_lines,
                "docs": out.count(),
                "removed_lines_total": int(removed),
                "output": args.output,
            }))
            return 0
        if args.mix is not None or args.mix_budget is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions import mixing

            if args.mix_group not in docs.columns:
                print(
                    f"error: --mix-group column {args.mix_group!r} not in "
                    f"docs table (has {docs.columns})",
                    file=sys.stderr,
                )
                return 2
            try:
                if args.mix is not None:
                    out = mixing.mix_corpus(
                        docs, args.mix_group, mix_rates, key_col="doc_id",
                        default_rate=args.mix_default,
                    )
                    rates = mix_rates
                else:
                    from fscrawler_spark.functions.text_analysis import token_count

                    out, rates = mixing.sample_to_token_budget(
                        docs.withColumn("_tok", token_count(F.col("extracted"))),
                        args.mix_group, "_tok", args.mix_budget, key_col="doc_id",
                    )
                    out = out.drop("_tok")
            except ValueError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order, "epoch").write.mode("overwrite").parquet(
                args.output
            )
            written = spark.read.parquet(args.output)
            groups = {
                ("<null>" if r["g"] is None else str(r["g"])): r["n"]
                for r in written.groupBy(F.col(args.mix_group).alias("g"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            print(json.dumps({
                "mix_group": args.mix_group,
                "rates": rates,
                "rows": sum(groups.values()),
                "rows_by_group": groups,
                "output": args.output,
            }))
            return 0
        if args.dsir_select is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions import mixing

            target, terr = _read_docs_table(spark, args.dsir_target)
            if terr:
                print(f"error: --dsir-target: {terr}", file=sys.stderr)
                return 2
            # fused train+select path: one gram pass over the corpus
            # (mixing.dsir_select) instead of the modular two-pass
            picked = mixing.dsir_select(
                docs, target, k=args.dsir_select, text_col="extracted", id_col="doc_id"
            ).withColumnsRenamed({"id": "doc_id"})
            # re-selecting from a previous dsir output: drop its stale
            # audit columns before re-attaching (COLUMN_ALREADY_EXISTS)
            out = docs.drop("log_weight", "sample_key").join(picked, "doc_id")
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("log_weight").alias("lo"),
                F.max("log_weight").alias("hi"),
            ).collect()[0]
            print(json.dumps({
                "dsir_select": args.dsir_select,
                "selected": stats["n"],
                "log_weight_min": stats["lo"],
                "log_weight_max": stats["hi"],
                "output": args.output,
            }))
            return 0
        if args.quality_filter is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.quality_classifier import (
                classify_quality,
                train_quality_classifier,
            )

            pos, perr = _read_docs_table(spark, args.quality_pos)
            if perr:
                print(f"error: --quality-pos: {perr}", file=sys.stderr)
                return 2
            neg, nerr = _read_docs_table(spark, args.quality_neg)
            if nerr:
                print(f"error: --quality-neg: {nerr}", file=sys.stderr)
                return 2
            try:
                model = train_quality_classifier(pos, neg, text_col="extracted")
            except ValueError as e:
                print(f"error: --quality-filter: {e}", file=sys.stderr)
                return 2
            scored = classify_quality(
                docs, model, text_col="extracted", threshold=args.quality_filter
            )
            total = docs.count()
            # re-filtering a previous quality-filter output is a natural
            # workflow: drop its stale audit column before re-attaching
            out = docs.drop("log_odds").join(
                scored.filter("keep").select("doc_id", "log_odds"), "doc_id"
            )
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("n"),
                F.min("log_odds").alias("lo"),
                F.max("log_odds").alias("hi"),
            ).collect()[0]
            print(json.dumps({
                "quality_filter": args.quality_filter,
                "prior_log_odds": model.prior_log_odds,
                "total": total,
                "kept": stats["n"],
                "log_odds_min": stats["lo"],
                "log_odds_max": stats["hi"],
                "output": args.output,
            }))
            return 0
        if args.decontaminate is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.curation import decontaminate

            bench, berr = _read_docs_table(spark, args.decontaminate)
            if berr:
                print(f"error: --decontaminate: {berr}", file=sys.stderr)
                return 2
            total = docs.count()
            max_bench = (
                args.decon_max_benchmark
                if args.decon_max_benchmark is not None
                else 100_000
            )
            if args.decon_semantic is not None:
                from fscrawler_spark.functions.curation import semantic_decontaminate

                try:
                    out = semantic_decontaminate(
                        docs,
                        bench,
                        id_col="doc_id",
                        text_col="extracted",
                        bench_id_col="doc_id",
                        bench_text_col="extracted",
                        threshold=args.decon_semantic,
                        dim=args.decon_dim if args.decon_dim is not None else 256,
                        max_benchmark=max_bench,
                    )
                except ValueError as e:
                    # oversized benchmark / bad threshold: the documented
                    # exit-2-with-message contract, not a traceback
                    print(f"error: --decon-semantic: {e}", file=sys.stderr)
                    return 2
                stats_extra = {
                    "semantic_cosine": args.decon_semantic,
                    "dim": args.decon_dim if args.decon_dim is not None else 256,
                }
            elif args.decon_fuzzy is not None:
                from fscrawler_spark.functions.curation import fuzzy_decontaminate

                try:
                    out = fuzzy_decontaminate(
                        docs,
                        bench,
                        id_col="doc_id",
                        text_col="extracted",
                        bench_id_col="doc_id",
                        bench_text_col="extracted",
                        threshold=args.decon_fuzzy,
                        max_benchmark=max_bench,
                    )
                except ValueError as e:
                    print(f"error: --decon-fuzzy: {e}", file=sys.stderr)
                    return 2
                stats_extra = {"fuzzy_jaccard": args.decon_fuzzy}
            else:
                out = decontaminate(
                    docs,
                    bench,
                    id_col="doc_id",
                    text_col="extracted",
                    bench_id_col="doc_id",
                    bench_text_col="extracted",
                    n=args.decon_ngrams if args.decon_ngrams is not None else 8,
                    min_hits=args.decon_min_hits if args.decon_min_hits is not None else 2,
                )
                stats_extra = {
                    "ngrams": args.decon_ngrams if args.decon_ngrams is not None else 8,
                    "min_hits": args.decon_min_hits if args.decon_min_hits is not None else 2,
                }
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            kept = spark.read.parquet(args.output).count()
            print(json.dumps({
                "decontaminate": True,
                **stats_extra,
                "total": total,
                "kept": kept,
                "dropped": total - kept,
                "output": args.output,
            }))
            return 0
        if args.ppl_filter is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.lm_quality import (
                perplexity_buckets,
                train_char_lm,
                train_word_lm,
            )

            seed = docs
            if args.ppl_target is not None:
                seed, terr = _read_docs_table(spark, args.ppl_target)
                if terr:
                    print(f"error: --ppl-target: {terr}", file=sys.stderr)
                    return 2
            train = train_word_lm if args.ppl_model == "word" else train_char_lm
            try:
                lm = train(seed, text_col="extracted")
            except ValueError as e:
                print(f"error: --ppl-filter: {e}", file=sys.stderr)
                return 2
            total = docs.count()
            # re-filtering a previous ppl-filter output: drop its stale
            # audit columns before re-attaching
            bucketed = perplexity_buckets(
                docs.drop("ppl", "ppl_bucket"), lm,
                text_col="extracted", cuts=ppl_cuts,
            )
            by_bucket = {
                ("<null>" if r["b"] is None else r["b"]): r["n"]
                for r in bucketed.groupBy(F.col("ppl_bucket").alias("b"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            out = bucketed.filter(F.col("ppl_bucket").isin(ppl_keep))
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(args.output)
            kept = spark.read.parquet(args.output).count()
            print(json.dumps({
                "ppl_filter": ppl_keep,
                "model": args.ppl_model,
                "cuts": list(ppl_cuts),
                "trained_on": args.ppl_target or "input",
                "total": total,
                "kept": kept,
                "by_bucket": by_bucket,
                "output": args.output,
            }))
            return 0
        if args.tokenize is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions.bpe import (
                bpe_encode,
                merges_table,
                train_bpe,
            )

            if args.bpe_merges is not None:
                try:
                    mt = spark.read.parquet(args.bpe_merges)
                    rows = mt.orderBy("rank").select("left", "right").collect()
                except Exception as e:
                    print(
                        f"error: --bpe-merges: cannot read merges table at "
                        f"{args.bpe_merges}: {e}",
                        file=sys.stderr,
                    )
                    return 2
                merges = [(r["left"], r["right"]) for r in rows][: args.tokenize]
            else:
                merges = train_bpe(docs, text_col="extracted", num_merges=args.tokenize)
            # re-tokenizing a previous output: drop its stale audit columns
            out = bpe_encode(
                docs.drop("bpe_tokens", "n_bpe_tokens"), merges, text_col="extracted"
            ).withColumn(
                "n_bpe_tokens",
                F.when(
                    F.col("bpe_tokens").isNull(), F.lit(None).cast("int")
                ).otherwise(F.size("bpe_tokens")),
            )
            order = [c for c in ("conv_id", "turn_idx") if c in out.columns] or ["doc_id"]
            out.sortWithinPartitions(*order).write.mode("overwrite").parquet(
                os.path.join(args.output, "docs")
            )
            merges_table(spark, merges).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(args.output, "merges")
            )
            written = spark.read.parquet(os.path.join(args.output, "docs"))
            stats = written.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_bpe_tokens").alias("toks"),
            ).collect()[0]
            print(json.dumps({
                "tokenize": args.tokenize,
                "merges": len(merges),
                "trained": args.bpe_merges is None,
                "rows": stats["n"],
                "total_tokens": stats["toks"],
                "output": args.output,
            }))
            return 0
        if args.semantic_dedup is not None:
            from pyspark.sql import functions as F

            from fscrawler_spark.functions import embeddings as emb_ops

            try:
                vecs = spark.read.parquet(args.input)
            except Exception as e:
                print(
                    f"error: cannot read embeddings table at {args.input}: {e}",
                    file=sys.stderr,
                )
                return 2
            if "vec_id" not in vecs.columns or "embedding" not in vecs.columns:
                print(
                    f"error: {args.input} is not an embeddings table "
                    f"(needs vec_id + embedding; has {vecs.columns})",
                    file=sys.stderr,
                )
                return 2
            n_corpus = vecs.count()
            if n_corpus == 0:
                # sampled_centroids on an empty table would hand numpy a
                # zero-row matrix (AxisError traceback); the CLI contract
                # is a clean message + exit 2
                print(
                    f"error: embeddings table at {args.input} is empty",
                    file=sys.stderr,
                )
                return 2
            n_cells = args.semantic_cells
            if n_cells is None:
                n_cells = max(16, min(65536, n_corpus // 512))
            out = emb_ops.semantic_dedup(
                vecs, n_cells=n_cells, threshold=args.semantic_dedup
            )
            out.sortWithinPartitions("cluster_id", "id").write.mode(
                "overwrite"
            ).parquet(args.output)
            written = spark.read.parquet(args.output)
            stats = written.agg(
                F.count(F.lit(1)).alias("n"),
                F.count_distinct("cluster_id").alias("clusters"),
            ).collect()[0]
            print(json.dumps({
                "semantic_dedup": args.semantic_dedup,
                "n_cells": n_cells,
                "clustered_vectors": stats["n"],
                "clusters": stats["clusters"],
                "output": args.output,
            }))
            return 0
        if (args.near_dup or args.assemble_store) and not args.input:
            # standalone: tick EVERY requested store over the existing
            # output — returning after the first would silently skip the
            # other, the exact failure mode the exclusivity guards exist
            # to prevent. Crawl-shaped flags need --input; dropping them
            # here would be the same silent skip.
            if args.incremental or args.restart or args.loop != 1 or args.update_rate:
                print(
                    "error: standalone store ticks take only --output; "
                    "--incremental/--restart/--loop/--update-rate need --input",
                    file=sys.stderr,
                )
                return 2
            ticks: dict = {}
            try:
                if args.near_dup:
                    from fscrawler_spark.plans.dedup_store import dedup_tick

                    ticks["near_dup"] = dedup_tick(
                        spark, args.output, threshold=args.near_dup_threshold
                    )
                if args.assemble_store:
                    from fscrawler_spark.plans.assembly_store import assembly_tick

                    ticks["assembled"] = assembly_tick(
                        spark, args.output, max_turns=args.assemble_max_turns,
                        tool_col="tool" if args.assemble_tools else None,
                    )
            except (FileNotFoundError, RuntimeError, ValueError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(json.dumps(ticks))
            return 0
        if args.compact:
            from fscrawler_spark.streaming.micro_batch import compact_streaming_output

            try:
                res = compact_streaming_output(spark, args.input, args.output, settings)
            except (FileNotFoundError, RuntimeError, ValueError) as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
            print(json.dumps(res))
            return 0
        if args.dry_run:
            if args.incremental:
                # preview the TICK's plan, not a full-corpus extraction:
                # the real delta (checksum anti-join + deletions) is what
                # "would write" — full-corpus counts would be wildly wrong
                from fscrawler_spark.plans.pipeline import run_incremental_update

                try:
                    res = run_incremental_update(
                        spark, args.input, args.output, settings, dry_run=True,
                        layout=args.layout,
                    )
                except (FileNotFoundError, RuntimeError, ValueError) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
                print(json.dumps(res))
                return 0
            from pyspark.sql import functions as F

            from fscrawler_spark.operators.extract import extract_transcripts
            from fscrawler_spark.sources.transcripts import read_transcripts

            docs = extract_transcripts(read_transcripts(spark, args.input), settings)
            docs.explain("formatted")
            counts = docs.groupBy("mime").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0)).alias("errors"),
            )
            print(json.dumps({"dry_run": True, "by_mime": {r["mime"]: [r["n"], r["errors"]] for r in counts.collect()}}))
            return 0
        if args.restart:
            from fscrawler_spark.plans.pipeline import restart_clean

            restart_clean(args.output, spark=spark)
        for i in range(args.loop):
            if args.incremental:
                from fscrawler_spark.plans.pipeline import run_incremental_update

                try:
                    res = run_incremental_update(
                        spark, args.input, args.output, settings, layout=args.layout,
                        publish_table=args.publish_table,
                    )
                except (FileNotFoundError, RuntimeError, ValueError) as e:
                    # ValueError covers SettingsMismatchError (drifted
                    # settings vs the manifest fingerprint)
                    print(f"error: {e}", file=sys.stderr)
                    return 2
            else:
                try:
                    res = run_extraction_job(
                        spark, args.input, args.output, settings,
                        publish_table=args.publish_table,
                    )
                except (FileNotFoundError, RuntimeError, ValueError) as e:
                    # ValueError covers SettingsMismatchError: a resume
                    # with drifted settings gets the same clean exit-2
                    # contract as the --incremental branch, not a traceback
                    print(f"error: {e}", file=sys.stderr)
                    return 2
            if args.near_dup:
                from fscrawler_spark.plans.dedup_store import dedup_tick

                try:
                    res["near_dup"] = dedup_tick(
                        spark, args.output, threshold=args.near_dup_threshold
                    )
                except (FileNotFoundError, RuntimeError, ValueError) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
            if args.assemble_store:
                from fscrawler_spark.plans.assembly_store import assembly_tick

                try:
                    res["assembled"] = assembly_tick(
                        spark, args.output, max_turns=args.assemble_max_turns,
                        tool_col="tool" if args.assemble_tools else None,
                    )
                except (FileNotFoundError, RuntimeError, ValueError) as e:
                    print(f"error: {e}", file=sys.stderr)
                    return 2
            print(json.dumps({"loop": i + 1, **{k: v for k, v in res.items() if k != "output"}}))
            if sleep_s is not None:
                from fscrawler_spark.plans.pipeline import schedule_next_check

                # persist when the next run is due (nextCheck analog);
                # a delete-heavy tick schedules HALF the update rate so
                # follow-up deletions are noticed sooner — and any
                # external actor can pull next_check forward to wake the
                # sleeping loop below early
                delay = sleep_s / 2 if (args.incremental and res.get("deleted")) else sleep_s
                schedule_next_check(args.output, delay)
            if sleep_s and i + 1 < args.loop:
                from fscrawler_spark.plans.pipeline import sleep_until_next_run

                reason = sleep_until_next_run(args.output, sleep_s)
                if reason != "timeout":
                    print(json.dumps({"woke_early": reason}))
    finally:
        if rest_server is not None:
            rest_server.stop()
        if owns_session and spark is not None:
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
