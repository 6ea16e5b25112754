"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload delta_tick --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout; it needs the ``fscrawler_spark``
package beside ``perfbench/`` and exits 2 without a result when the
package is missing. The last line of standard output is the result
object ``{"correct", "attempted", "failed", "metrics"}``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` its per-layer metrics (a layer the workload never calls
reads 0). The line before it is a JSON report with every sample, the
per-operation metrics and any failed check. The exit code is 1
when a correctness check fails or an operation raises.

Everything the run writes stays under ``<checkout>/.perfbench_work``;
a traced run leaves its spans in ``.perfbench_work/traces/``.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

STARTED = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("delta_tick", "curate")
HELD_OUT_SEED = 9001  # never used while tuning; reserved for checking claims

# per-operation metrics of the report, by the samples they come from
OP_METRICS = {
    "tick_s": "tick",
    "noop_tick_s": "noop_tick",
    "changelog_s": "changelog",
    "view_sync_s": "view_sync",
    "assembly_tick_s": "assembly_tick",
    "dedup_tick_s": "dedup_tick",
    "freshness_s": "freshness",
    "near_dup_s": "near_dup",
    "exact_substr_s": "exact_substr",
    "ppl_word_s": "ppl_word",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def summary(values: list[float]) -> dict:
    """Median and the highest order statistic the sample supports (its
    maximum: no sample here reaches the eleven a p90 would need)."""
    return {"median": statistics.median(values), "max": max(values), "n": len(values)}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "fscrawler_spark", "__init__.py")):
        print(f"error: no fscrawler_spark package under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    sys.path.insert(0, ROOT)

    import harness

    base = os.path.join(ROOT, harness.WORK_DIRNAME)
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    harness.configure_env(work)

    import tracer as tracing
    import workloads

    steal0, total0 = harness.cpu_times()
    spark, t0, t1, t2 = harness.cold_setup()
    rss = harness.RssSampler().start()
    tr = tracing.Tracer(spark, enabled=bool(args.trace))
    tr.record("get_spark", "session", t0, t1)
    tr.record("warmup_job", "session", t1, t2)
    run = workloads.Run(spark, tr, work, args.seed, args.seconds)
    raised = None
    try:
        getattr(workloads, args.workload)(run)
    except Exception:
        raised = traceback.format_exc()
        print(raised, file=sys.stderr)
    finally:
        rss.stop()
        harness.shutdown_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    steal1, total1 = harness.cpu_times()
    run.info["cpu_steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
    run.info["wall_s"] = time.perf_counter() - STARTED
    failed = sum(not c["ok"] for c in run.checks) + (raised is not None)
    attempted = len(run.checks) + (raised is not None)
    s = run.samples
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "held_out_seed": HELD_OUT_SEED,
        "seconds": args.seconds,
        "trace": args.trace,
        "ops": {k: summary(v) for k, v in s.items() if v},
        "op_metrics": {
            "setup_s": t2 - t0,
            "peak_rss_mb": rss.peak_mb,
            "failed_ops_frac": failed / attempted if attempted else None,
            "extract_turns_per_s": run.info.get("extract_turns_per_s"),
            "scaling_eff": None,  # not measured: see perfbench/README.md
            **{m: summary(s[k]) if s.get(k) else None for m, k in OP_METRICS.items()},
        },
        "info": run.info,
        "failed_checks": [c for c in run.checks if not c["ok"]],
        "raised": raised,
    }

    values: dict[str, float] = {}
    if raised is None and args.trace == 0:
        values = {
            "setup_s": t2 - t0,
            "peak_rss_mb": rss.peak_mb,
            # the median cycle, op by op: one slow repetition of one op
            # does not move it
            "cycle_s": sum(statistics.median(s[op]) for op in run.cycle_ops),
        }
    elif raised is None:
        values = dict(run.layer)
        values["session.get_spark_s"] = t1 - t0
        values["session.warmup_job_s"] = t2 - t1
        for layer, sec in tr.self_by_layer().items():
            values[f"self_s.{layer}"] = sec
        # the tracer's own work (job groups, status-store reads) inside
        # one cycle or pass, timed directly
        values["trace.overhead_s"] = statistics.median(
            v for op, v in tr.overhead.items() if op and op.startswith(("cycle-", "pass-"))
        )
        trace_dir = os.path.join(base, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        tr.dump(path, {"workload": args.workload, "seed": args.seed, "layer_metrics": values})
        report["trace_file"] = os.path.relpath(path, ROOT)

    kind = "end_to_end" if args.trace == 0 else "per_layer"
    metrics, unexercised = {}, []
    for m in declared[kind]:
        if m["name"] not in values:
            unexercised.append(m["name"])
        metrics[m["name"]] = {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
    report["not_exercised"] = unexercised
    if args.trace == 0 and unexercised and raised is None:
        raise RuntimeError(f"end-to-end metrics not measured: {unexercised}")
    print(json.dumps(report, default=str))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
