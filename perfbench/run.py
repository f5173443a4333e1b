"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_cycle --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints one report line (stamps, the
workload's named metrics with sample counts, per-layer numbers when
traced) and, last, the result line: ``{"correct", "attempted", "failed",
"metrics"}`` with the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``) named in BENCHMARK.json. Exits non-zero without a
result line when the program is missing, and with ``correct: false`` and
exit code 1 when a result check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.time()
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common as C  # noqa: E402

WORKLOADS = ("batch_cycle", "stream_ingest")

# every named end-to-end metric, printed for every workload
NAMED_E2E = (
    ("setup_s", "s"), ("batch_s.p50", "s"), ("batch_rows_per_s", "rows/s"), ("state_space_amp", "ratio"),
    ("query_s.p50", "s"), ("query_s.p90", "s"), ("queries_per_min", "1/min"),
    ("event_latency_s.p50", "s"), ("event_latency_s.p99", "s"), ("read_s.p50", "s"), ("read_s.p90", "s"),
    ("failed_ops_ratio", "ratio"), ("peak_rss_mb", "MB"),
)


def _module(name: str):
    if name == "batch_cycle":
        import w_batch as m
    else:
        import w_stream as m
    return m


def layer_report(tr: C.Tracer, res: dict, jvm_total: dict, table: str | None) -> tuple[dict, dict]:
    """The named per-layer metrics (None where the workload never calls
    the layer) and the per-layer attribution table."""
    jobs = C.read_event_log(os.path.join(C.WORK, "eventlog"))
    layers, total = C.attribute(tr.spans, jobs)

    def extra_sum(metric, key):
        return sum(s.extra.get(key, 0) for s in tr.run_spans(metric))

    def med(metric):
        return C.pct(tr.walls(metric), 50)

    counters = C.table_counters(table) if table and os.path.isdir(table) else {}
    merge_rows = extra_sum("merge.s", "change_rows")
    m = {
        "session.get_spark_s": sum(tr.walls("session.get_spark_s", setup=True)) or None,
        "session.warm_ds_s": sum(tr.walls("session.warm_ds_s", setup=True)) or None,
        "queries.build_s": med("queries.build_s"),
        "queries.exec_s": med("queries.exec_s"),
        "codegen.compiles": jvm_total["codegen.compiles"],
        "codegen.compile_s": jvm_total["codegen.compile_ms_total"] / 1000.0,
        "scan.files_discovered": jvm_total["scan.files_discovered"],
        "snapshot_source.read_s": med("snapshot_source.read_s"),
        # host forks during the measured snapshot_source calls (0 where
        # the workload makes none)
        "python.forks": sum(s.forks for s in tr.run_spans("snapshot_source.read_s")),
        "ingest.s": med("ingest.s"),
        "ingest.rows": extra_sum("ingest.s", "rows") or None,
        "ingest.files_written": extra_sum("ingest.s", "files_written") or None,
        "counters.fold_s": med("counters.fold_s"),
        "merge.s": med("merge.s"),
        "merge.touched_buckets": C.pct([s.extra["touched_buckets"] for s in tr.run_spans("merge.s")
                                        if "touched_buckets" in s.extra], 50),
        "merge.write_amp": extra_sum("merge.s", "rewritten_rows") / merge_rows if merge_rows else None,
        "snapshots.read_s": med("snapshots.read_s"),
        "snapshots.compact_s": med("snapshots.compact_s"),
        "snapshots.compact_bytes_rewritten": extra_sum("snapshots.compact_s", "bytes_rewritten") or None,
        "snapshots.vacuum_s": med("snapshots.vacuum_s"),
        "snapshots.versions": counters.get("snapshots.versions"),
        "snapshots.data_files": counters.get("snapshots.data_files"),
        "snapshots.manifest_bytes": counters.get("snapshots.manifest_bytes"),
        "exports.s": med("exports.s"),
        "exports.rows": extra_sum("exports.read_s", "rows") or None,
        "exports.path": res.get("export_path"),
        **{k: res.get("streaming", {}).get(k) for k in (
            "streaming.start_s", "streaming.trigger_s.p50", "streaming.sink_s.p50",
            "streaming.rows_per_batch", "streaming.backlog_files", "streaming.stop_s")},
        **{k: total[k] for k in C.SPARK_KEYS},
        "spark.untagged_jobs": total["spark.untagged_jobs"],
    }
    return m, {name: {k: (round(v, 6) if isinstance(v, float) else v) for k, v in L.items()}
               for name, L in sorted(layers.items())}


def e2e_metrics(res: dict, rss_mb: float) -> dict:
    op = res["op_walls"]
    reads = res["read_walls"]
    return {
        "setup_s": res["setup_s"],
        "op_s.p50": C.pct(op, 50),
        "ops_per_s": res["ops_per_s"],
        "read_s.p50": C.pct(reads, 50),
        "state_space_amp": res["state_space_amp"],
        "peak_rss_mb": rss_mb,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    args = ap.parse_args(argv)
    with open(os.path.join(C.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)

    C.prepare_env()
    tr = C.Tracer(bool(args.trace))
    mod = _module(args.workload)
    rss = C.RssSampler().start()
    res = None
    try:
        res = mod.run(args, tr, T_START)
        stamps = C.stamp(res["spark"], args.workload, res["scale"])
        if res.get("export_format") == "parquet":
            stamps["exports.path"] = "parquet"
        res["export_path"] = stamps["exports.path"]
        jvm_total = tr.jvm_totals() if tr.on else None
    finally:
        rss_mb = rss.stop()
        C.shutdown(res["spark"] if res else None)

    e2e = e2e_metrics(res, rss_mb)
    named = {"setup_s": {"value": res["setup_s"], "unit": "s", "n": 1}, **res["named"],
             "failed_ops_ratio": {"value": res["failed"] / res["ops"], "unit": "ratio", "n": res["ops"]},
             "peak_rss_mb": {"value": rss_mb, "unit": "MB", "n": 1}}
    report = {
        "report": "perfbench",
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "stamp": stamps,
        "input_gen_s": res["gen_s"],
        "metrics": {**{n: named.get(n, {"value": None, "unit": u, "n": 0}) for n, u in NAMED_E2E},
                    **{n: v for n, v in named.items() if n not in dict(NAMED_E2E)}},
        "problems": res["problems"][:20],
    }
    out_name = run_name(args, args.trace) + ".json"
    if tr.on:
        layers_named, layers = layer_report(tr, res, jvm_total, res.get("table"))
        report["per_layer"] = layers_named
        report["layers"] = layers
        report["tracing_overhead"] = tracing_overhead(args, e2e)
        metrics = {m["name"]: {"value": layers_named[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
    report["end_to_end"] = e2e
    # the full span list, with each traced call's counter deltas and the
    # table counters read after it, goes to the output file only
    spans = [[s.id, s.parent, s.layer, s.metric, s.setup, round(s.t0 - T_START, 4), round(s.wall, 4), s.ok,
              {**s.jvm, "forks": s.forks, **s.extra, **(s.table or {})} if tr.on else None]
             for s in sorted(tr.spans, key=lambda s: s.t0)]
    with open(os.path.join(C.OUT, out_name), "w") as fh:
        json.dump({**report, "spans": spans}, fh, indent=1, default=str)
    missing = [k for k, v in metrics.items() if not isinstance(v["value"], (int, float))]
    correct = res["failed"] == 0 and not missing
    if missing:
        report["problems"].append(f"metrics without a value: {missing}")
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": correct, "attempted": res["ops"], "failed": res["failed"], "metrics": metrics}))
    return 0 if correct else 1


def run_name(args, trace: int) -> str:
    smoke = "-smoke" if args.smoke else ""
    return f"{args.workload}{smoke}-seed{args.seed}-s{args.seconds:g}-trace{trace}"


def tracing_overhead(args, traced: dict) -> dict:
    """Traced over untraced end-to-end metrics, each minus one, against the
    untraced run of the same workload, seed, scale and seconds kept in the
    output directory; no baseline when there is none."""
    path = os.path.join(C.OUT, run_name(args, 0) + ".json")
    if not os.path.exists(path):
        return {"baseline": None}
    with open(path) as fh:
        base = json.load(fh)["end_to_end"]
    out = {"baseline": os.path.basename(path)}
    for k, v in traced.items():
        b = base.get(k)
        out[k] = (v / b - 1.0) if isinstance(v, (int, float)) and b else None
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except C.BenchError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
