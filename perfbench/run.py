"""Benchmark of the RealParse lifecycle: cron loads, backfill, per-customer
reports and MinHash near-duplicate removal.

    python3 perfbench/run.py --workload customer_reports --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 15 --trace 0

Run it from the repository root.  It starts one local Spark session, makes
the workload's inputs from `--seed`, makes the workload's set-up passes,
measures it for `--seconds` and checks every output against the
generator's ground truth.  The last line of standard output is one JSON
object: `correct`, `attempted`, `failed` and `metrics`.  `--trace 0`
reports the end-to-end metrics; `--trace 1` runs the same loop with the
set-up passes and every other operation traced and reports the per-layer
metrics instead.  `--workload all` runs the four workloads in turn in one
process and reports every end-to-end metric under its workload's own name.

All scratch data lives in `.perfbench_tmp/` under the root and is removed
at exit; span files of traced runs go to `.perfbench_out/`.  The exit
code is 0 when every check passed, 1 when one failed and 2 when the
program under test is not under the root.  See README.md for the
workloads, the metrics and the layer each one belongs to.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from statistics import median

from tracing import Tracer, self_time_by_layer, tail

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# JVM heap, fixed (-Xms = -Xmx): fits a 15 GB host next to other
# tenants, and a heap that grows on demand makes the RSS peak jump between runs.
HEAP = "2g"
MAX_CORES = 4

END_TO_END = {
    "setup_s": "s",
    "op_s.p50": "s",
    "op_cpu_s.p50": "s",
    "storage_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}
LAYERS = ("bench", "sources.logs", "operators.parse", "operators.load",
          "operators.log_report", "operators.dedup")
PER_LAYER = {
    "session.start_s": "s", "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "logs.list_s": "s", "logs.files_read": "count", "logs.bytes_read": "bytes",
    "parse.s": "s", "parse.lines": "count", "parse.quarantined": "count", "parse.good_ratio": "ratio",
    "load.s": "s", "load.jobs": "count", "load.stages": "count", "load.tasks": "count",
    "load.rows_written": "count", "load.lines_per_row": "ratio",
    "load.files_written": "count", "load.bytes_written": "bytes",
    "report.s": "s", "report.plan_s": "s", "report.jobs": "count", "report.stages": "count",
    "report.files_scanned": "count", "report.rows_out": "count",
    "dedup.signatures_s": "s", "dedup.pairs_s": "s", "dedup.clusters_s": "s", "dedup.canonical_s": "s",
    "dedup.jobs": "count", "dedup.pairs": "count", "dedup.planted_recall": "ratio",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.overhead_ratio": "ratio",
}
# Each layer counter is reported per traced call of its layer.
PER_CALL = {
    "logs.": "sources.logs.calls",
    "parse.": "operators.parse.calls",
    "load.": "operators.load.calls",
    "report.": "report.requests",
    "dedup.": "dedup.runs",
}
# Counters that are ratios of sums.
RATIOS = {
    "parse.good_ratio": lambda a: (a.get("parse.lines", 0) - a.get("parse.quarantined", 0)) / a["parse.lines"]
    if a.get("parse.lines") else 0.0,
    "load.lines_per_row": lambda a: a.get("parse.lines", 0) / a["load.access_rows"]
    if a.get("load.access_rows") else 0.0,
}
# Each workload's own name for its operation time and its items per second.
NAMES = {
    "cron_ingest": {"op": "cron_run_s", "items": ("cron_lines_per_s", "lines/s")},
    "backfill": {"op": "backfill_run_s", "items": ("backfill_lines_per_s", "lines/s")},
    "customer_reports": {"op": "report_s", "items": ("reports_per_s", "reports/s")},
    "near_dup_docs": {"op": "dedup_run_s", "items": ("dedup_docs_per_s", "docs/s")},
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[*NAMES, "all"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(tmp: str, cores: int) -> None:
    """Point every scratch location of Spark, the JVM and Python into `tmp`."""
    dirs = {k: os.path.join(tmp, k) for k in ("spark-local", "spark-warehouse", "py-tmp", "jvm-tmp")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=HEAP,
        SPARK_GRAFT_WAREHOUSE=dirs["spark-warehouse"],
        SPARK_LOCAL_DIRS=dirs["spark-local"],
        TMPDIR=dirs["py-tmp"],
        PYSPARK_PYTHON=sys.executable,
        # the JVM that spark-submit starts to build the command line
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options '-Djava.io.tmpdir={dirs['jvm-tmp']} -XX:-UsePerfData -Xms{HEAP}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    tempfile.tempdir = dirs["py-tmp"]


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its workers, and wait for each."""
    from pyspark import SparkContext

    from probes import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def run_workload(name, spark, jvm, session_s, tmp, seed, cores, seconds, trace) -> dict:
    from probes import JobGroups
    from workloads import WORKLOADS, Ctx

    clock = time.perf_counter
    ctx = Ctx(spark, os.path.join(tmp, name), seed, cores, Tracer(False), JobGroups(spark), jvm.cpu_seconds)
    wl = WORKLOADS[name](ctx)
    passes = []
    ctx.tracing = bool(trace)
    for k in range(wl.passes):
        t0 = clock()
        wl.setup_pass(k)
        passes.append(clock() - t0)
    ctx.tracing = False

    gc0 = jvm.gc_seconds()
    heap_mb = 0.0
    ops = []  # (OpResult, traced)
    t_start = clock()
    while clock() - t_start < seconds or len(ops) < (2 if trace else 1):
        traced = bool(trace) and len(ops) % 2 == 1
        ctx.tracing = traced
        r = wl.op(len(ops))
        ctx.tracing = False
        ctx.check(f"{name}.op{len(ops)}", r.ok)
        ops.append((r, traced))
        if trace:
            heap_mb = max(heap_mb, jvm.heap_after_gc_mb())
    gc_s = jvm.gc_seconds() - gc0
    wl.verify()
    plain = [r for r, t in ops if not t]
    secs = [r.time.wall for r in plain]
    out = {
        "name": name,
        "checks": ctx.checks,
        "passes": passes,
        "op_seconds": secs,
        "op_cpu_seconds": [r.time.cpu for r in plain],
        "items_per_s": sum(r.items for r in plain) / sum(secs),
        "end_to_end": {
            "setup_s": session_s + median(passes),
            "op_s.p50": median(secs),
            "op_cpu_s.p50": median([r.time.cpu for r in plain]),
            "storage_bytes_per_input_byte": wl.storage_ratio(),
            "peak_rss_mb": jvm.rss_peak_mb(),
        },
    }
    if trace:
        traced_ops = [r for r, t in ops if t]
        spans = ctx.tracer.spans
        requests = sum(1 for s in spans if s.parent is None)
        layer = {
            k: v / ctx.acc[calls]
            for k, v in ctx.acc.items()
            for prefix, calls in PER_CALL.items()
            if k.startswith(prefix) and ctx.acc.get(calls)
        }
        layer.update({k: f(ctx.acc) for k, f in RATIOS.items()})
        layer.update({f"self_s.{k}": v / requests for k, v in self_time_by_layer(spans).items()})
        layer.update({
            "session.start_s": session_s,
            "jvm.gc_s": gc_s,
            "jvm.heap_peak_mb": heap_mb,
            "trace.overhead_ratio": median([r.time.wall for r in traced_ops]) / median(secs),
        })
        out["per_layer"] = {k: layer.get(k, 0.0) for k in PER_LAYER}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        out["span_file"] = os.path.join(ROOT, ".perfbench_out", f"spans-{name}-seed{seed}.json")
        ctx.tracer.dump(out["span_file"])
    return out


def _latency_text(label: str, samples: list[float]) -> str:
    t = tail(samples)
    tail_txt = (f"{t[0]:.4f} s (p{t[1]}, {t[2]} of {len(samples)} samples beyond)" if t
                else f"n/a ({len(samples)} samples; a tail needs more than 10)")
    return f"{label}.p50 = {median(samples):.4f} s over {len(samples)} ops; {label}.tail = {tail_txt}"


def summary_lines(res: dict) -> list[str]:
    """Human-readable lines: the workload's metrics under their own names,
    the tail with its percentile and sample count, and any failed check."""
    name, e2e = res["name"], res["end_to_end"]
    names = NAMES[name]
    failed = [c for c in res["checks"] if not c[1]]
    lines = [f"{name}: {_latency_text(names['op'], res['op_seconds'])}"]
    lines.append(
        f"{name}: op_cpu_s.p50 = {e2e['op_cpu_s.p50']:.3f} s; "
        f"{names['items'][0]} = {res['items_per_s']:.2f} {names['items'][1]}; "
        f"setup_s = {e2e['setup_s']:.3f} s (passes {', '.join(f'{p:.2f}' for p in res['passes'])}); "
        f"storage_bytes_per_input_byte = {e2e['storage_bytes_per_input_byte']:.4f}; "
        f"peak_rss_mb = {e2e['peak_rss_mb']:.0f} MB; "
        f"ops_failed_ratio = {len(failed)}/{len(res['checks'])}"
    )
    lines.append(f"{name}: op wall s {[round(v, 3) for v in res['op_seconds']]}, "
                 f"op cpu s {[round(v, 3) for v in res['op_cpu_seconds']]}")
    lines += [f"{name}: FAILED check {c[0]} {c[2]}" for c in failed]
    if "per_layer" in res:
        lines.append(f"{name}: spans in {res['span_file']}")
        lines += [f"{name}: {k} = {v:.6g} {PER_LAYER[k]}" for k, v in res["per_layer"].items()]
    return lines


def all_metrics(results: list[dict]) -> dict:
    """`--workload all`: every metric under its workload's own name; a tail
    carries its percentile and sample count, and is null below 11 samples."""
    out = {}
    for res in results:
        name, e2e, names = res["name"], res["end_to_end"], NAMES[res["name"]]
        samples, t = res["op_seconds"], tail(res["op_seconds"])
        out[f"{names['op']}.p50"] = {"value": median(samples), "unit": "s", "samples": len(samples)}
        out[f"{names['op']}.tail"] = {"value": t[0] if t else None, "unit": "s",
                                      "percentile": t[1] if t else None, "samples": len(samples)}
        out[names["items"][0]] = {"value": res["items_per_s"], "unit": names["items"][1]}
        for k in ("setup_s", "op_cpu_s.p50", "storage_bytes_per_input_byte", "peak_rss_mb"):
            out[f"{name}.{k}"] = {"value": e2e[k], "unit": END_TO_END[k]}
        failed = sum(1 for c in res["checks"] if not c[1])
        out[f"{name}.ops_failed_ratio"] = {"value": failed / len(res["checks"]), "unit": "failed/attempted"}
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "realparse_spark", "__init__.py")):
        print(f"perfbench: the realparse_spark package is not under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        prepare_env(tmp, cores)
        from probes import Jvm
        from realparse_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        session_s = time.perf_counter() - t0
        jvm = Jvm(spark)
        names = list(NAMES) if args.workload == "all" else [args.workload]
        results = [run_workload(n, spark, jvm, session_s, tmp, args.seed, cores, args.seconds, args.trace)
                   for n in names]
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(tmp))
            except OSError:
                pass  # another run is using it

    for res in results:
        for line in summary_lines(res):
            print(line)
    checks = [c for res in results for c in res["checks"]]
    failed = sum(1 for c in checks if not c[1])
    if args.workload == "all":
        metrics = all_metrics(results)
    elif args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in results[0]["per_layer"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in results[0]["end_to_end"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": len(checks), "failed": failed, "metrics": metrics}),
          flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
