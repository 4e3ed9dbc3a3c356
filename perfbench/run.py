"""Benchmark entry point.

    python3 perfbench/run.py --workload build|ingest --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Generates the workload's inputs from
``--seed``, runs its closed loop for at least ``--seconds`` seconds,
checks every output, and prints one JSON object as the last line of
stdout: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` they are its per-layer metrics.  The line before it
is the environment (Spark and Python versions, cores, heap).

All scratch state lives in ``.perfbench/`` under the repository root,
which each run empties first.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = ".perfbench"

# end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "work_per_s": "1/s",
    "lookup_p50_s": "s",
    "peak_rss_mb": "MB",
}

# per-layer metrics from span self time (median over ops): name -> span
SPAN_SELF = {
    "store_write_lineage_s": "store_write:lineage_metrics",
    "store_write_triples_s": "store_write:triples",
    "store_write_map_s": "store_write:canonical_map",
    "store_write_canonical_s": "store_write:triples_canonical",
    "cc_s": "cc",
    "merge_rows_s": "merge_rows",
    "append_rows_s": "append_rows",
    "sync_canonical_s": "sync_canonical",
    "incremental_link_s": "incremental_link",
    "read_changelog_s": "read_changelog",
    "patch_rows_mor_s": "patch_rows_mor",
    "plan_s": "plan",
    "sparql_parse_s": "sparql_parse",
    "sparql_compile_s": "sparql_compile",
}
# ...and from span self time inside each lookup (median over lookups):
# `read` builds the merge-on-read DataFrame, `read_subject` hashes the
# subject to its bucket
LOOKUP_SELF = {"store_read_s": "read", "read_subject_s": "read_subject"}
# ...and from inclusive span time (median over ops)
SPAN_TOTAL = {"update_s": "update", "refresh_s": "refresh"}
# per-op event-log statistics (median over ops)
OP_STATS = ("jobs", "tasks", "task_cpu_s", "gc_s", "input_mb",
            "shuffle_write_mb", "spill_mb", "files_read")
# ...and of the reads serving each op (median over report steps)
REPORT_STATS = ("jobs", "input_mb", "shuffle_write_mb", "files_read")
# computed by the workloads themselves; 0 where a workload has no such
# layer
WORKLOAD_LAYER = (
    "extract_raw_triples", "dedup_ratio", "cc_edges", "cc_contracted_ratio",
    "cc_largest_component", "canonical_collapse_ratio", "files_written",
    "bytes_written_mb", "affected_barcodes", "refresh_full_ratio",
    "live_segments", "update_slope_s", "compact_s",
)
SETUP = ("setup_session_s", "setup_generate_s", "setup_base_build_s")


def per_layer_names() -> list[str]:
    from perfbench.workloads import REPORTS

    reports = [f"report_{k}_s" for k, _n, _a in REPORTS] + ["report_sparql_s"]
    return (list(SETUP) + list(SPAN_SELF) + list(SPAN_TOTAL) + reports
            + [f"op_{s}" for s in OP_STATS] + ["op_driver_only_s"]
            + [f"reports_{s}" for s in REPORT_STATS]
            + ["extract_python_task_s"] + list(WORKLOAD_LAYER)
            + list(LOOKUP_SELF)
            + ["lookup_jobs", "lookup_input_mb", "lookup_files_read",
               "lookup_p90_s", "traced_op_p50_s", "trace_bookkeeping_s"])


def layer_unit(name: str) -> str:
    for suffix, unit in (("_s", "s"), ("_mb", "MB"), ("_ratio", "ratio")):
        if name.endswith(suffix):
            return unit
    return "count"


def _median_or_zero(values: list[float]) -> float:
    from perfbench import stats

    return stats.median(values) if values else 0.0


def layer_metrics(b, log_dir: str) -> dict[str, float]:
    """Per-layer metrics of a traced run (Spark already stopped, so the
    event log is complete)."""
    from perfbench import eventlog, stats, trace
    from perfbench.workloads import REPORTS

    spans = b.rec.spans
    ops = sorted({s.op for s in spans if s.op is not None})
    out: dict[str, float] = {k: b.setup.get(k, 0.0) for k in SETUP}

    def per_op(names: dict[str, str], self_only: bool) -> None:
        rows = [trace.totals_by_name(spans, op=o, self_only=self_only)
                for o in ops]
        for metric, span in names.items():
            out[metric] = _median_or_zero([r.get(span, 0.0) for r in rows])

    per_op(SPAN_SELF, True)
    per_op(SPAN_TOTAL, False)
    per_op({f"report_{k}_s": f"report:{k}" for k, _n, _a in REPORTS}
           | {"report_sparql_s": "report:sparql"}, False)

    ev = eventlog.parse(eventlog.find_log(log_dir))

    def tree_stats(ids: set[int]) -> eventlog.SpanStats:
        acc = eventlog.SpanStats()
        for sid in ids:
            if sid in ev:
                acc.add(ev[sid])
        return acc

    op_stats = [tree_stats(trace.subtree(spans, sid)) for sid in b.op_spans]
    for k in OP_STATS:
        out[f"op_{k}"] = _median_or_zero([getattr(s, k) for s in op_stats])
    out["op_driver_only_s"] = _median_or_zero([
        spans[sid].duration - trace._covered(
            [(max(a, spans[sid].start), min(e, spans[sid].end))
             for a, e in st.task_intervals if e > a])
        for sid, st in zip(b.op_spans, op_stats)])
    out["extract_python_task_s"] = \
        (b.py_after - b.py_before) / max(1, len(b.op_times))
    for k in WORKLOAD_LAYER:
        out[k] = float(b.layer.get(k, 0.0))
    served = [tree_stats(trace.subtree(spans, s.id)) for s in spans
              if s.name == "reports" and s.op is not None]
    for k in REPORT_STATS:
        out[f"reports_{k}"] = _median_or_zero([getattr(s, k) for s in served])

    lookup_trees = [trace.subtree(spans, s.id) for s in spans
                    if s.name == "lookup"]
    self_s = trace.self_times(spans)
    for metric, span in LOOKUP_SELF.items():
        out[metric] = _median_or_zero([
            sum(self_s[i] for i in ids if spans[i].name == span)
            for ids in lookup_trees])
    lookups = [tree_stats(ids) for ids in lookup_trees]
    out["lookup_jobs"] = _median_or_zero([s.jobs for s in lookups])
    out["lookup_input_mb"] = _median_or_zero([s.input_mb for s in lookups])
    out["lookup_files_read"] = _median_or_zero(
        [s.files_read for s in lookups])
    n = len(b.lookup_times)
    out["lookup_p90_s"] = stats.percentile(b.lookup_times, 90) \
        if stats.reportable(n, 90) else 0.0
    out["traced_op_p50_s"] = stats.median(b.op_times)
    out["trace_bookkeeping_s"] = b.rec.bookkeeping_s
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["build", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "octofludb_spark")):
        print(f"no octofludb_spark package under {ROOT}: run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    os.chdir(ROOT)
    sys.path.insert(0, ROOT)
    from perfbench import envinfo, stats
    from perfbench.workloads import RUNNERS, Bench

    work = os.path.join(ROOT, WORK_DIR)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    jvm_opts = envinfo.pin_environment(work)
    t_start = time.time()  # set-up starts: nothing left from earlier runs
    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    env = {}
    try:
        with b.rss:
            try:
                b.start_session(jvm_opts)
                env = envinfo.describe(b.spark)
                work_per_s = RUNNERS[args.workload](b)
                b.finish_trace()
            finally:
                b.stop()
    except Exception:
        traceback.print_exc()
        return 1
    if not b.op_times:
        print("no operation completed", file=sys.stderr)
        return 1

    if args.trace:
        metrics = layer_metrics(b, os.path.join(work, "eventlog"))
        units = {k: layer_unit(k) for k in metrics}
    else:
        metrics = {
            "setup_s": b.setup_end - t_start,
            "op_p50_s": stats.median(b.op_times),
            "work_per_s": work_per_s,
            "lookup_p50_s": stats.median(b.lookup_times),
            "peak_rss_mb": b.rss.peak_mb,
        }
        units = END_TO_END
    env.update(rss_mb_at_peak={k: v // 1024
                               for k, v in b.rss.parts_at_peak.items()})
    env.update(workload=args.workload, seed=args.seed, ops=len(b.op_times),
               lookups=len(b.lookup_times),
               wall_s=time.time() - t_start)
    print(json.dumps({"env": env}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
