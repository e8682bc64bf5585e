"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (``sql_interactive``, ``operators_batch`` or
``txn_ingest``) as a closed loop with one client in this fresh process,
on a Spark session sized from the host (``local[cores]``, shuffle
partitions = cores, driver heap from RAM). Set-up (session start, table
registration, warm-up passes) is timed as ``setup_s``; the timed window
then runs whole rounds until ``--seconds`` have passed. Every result is
checked (the expensive check runs after the window).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the window
twice, untraced then traced, and prints the per-layer metrics plus the
tracing overhead (traced minus untraced) of the window's end-to-end
metrics; the spans go to ``.perfbench_out/``.

The line before the last is a report (host, inputs, sample counts, the
workload-specific metrics); the last line is the result JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import sys
import time

# the benchmark's own modules, then the program under test at the root
sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]

from harness import (  # noqa: E402
    BENCH_DIR, ROOT, Host, OpRecord, RssSampler, SparkCounters, Tracer,
    median, p90_if_supported, session_confs, versions,
)
from workloads import OPERATOR_ENTRIES, WORKLOADS, Checker  # noqa: E402

#: end-to-end metrics: name -> unit
END_TO_END = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_p50_s": "s",
    "peak_rss_mb": "MB",
}

_ALL = "every workload"
_SQL, _OPS, _TXN = "sql_interactive", "operators_batch", "txn_ingest"

#: per-layer metrics: name -> (unit, better, end-to-end metric it should
#: move, workload where it should move it). Values are means per op over
#: the traced window unless the name ends in ``_s`` of a set-up step or
#: of a ``sources``/``operators`` op kind (medians), or is a ratio.
PER_LAYER: dict[str, tuple[str, str, str, str]] = {
    "session.start_s": ("s", "lower", "setup_s", _ALL),
    "session.register_s": ("s", "lower", "setup_s", _ALL),
    "session.warm_s": ("s", "lower", "setup_s", _ALL),
    "dialect.prepare_ms": ("ms", "lower", "latency_p50_s", _SQL),
    "catalyst.analysis_ms": ("ms", "lower", "latency_p50_s", _SQL),
    "catalyst.optimization_ms": ("ms", "lower", "latency_p50_s", _SQL),
    "catalyst.planning_ms": ("ms", "lower", "latency_p50_s", _SQL),
    "context.driver_ms": ("ms", "lower", "latency_p50_s", _SQL),
    "transfer.rows": ("count", "lower", "latency_p50_s", _SQL),
    "transfer.bytes": ("B", "lower", "latency_p50_s", _SQL),
    "plans.construct_s": ("s", "lower", "ops_per_s", _OPS),
    "plans.construct_jobs": ("count", "lower", "ops_per_s", _OPS),
    "exec.jobs": ("count", "lower", "ops_per_s", _OPS),
    "exec.stages": ("count", "lower", "ops_per_s", _OPS),
    "exec.tasks": ("count", "lower", "ops_per_s", _OPS),
    "exec.run_ms": ("ms", "lower", "ops_per_s", _OPS),
    "exec.cpu_ms": ("ms", "lower", "ops_per_s", _OPS),
    "exec.cpu_per_run": ("ratio", "higher", "ops_per_s", _OPS),
    "exec.gc_ms": ("ms", "lower", "ops_per_s", _OPS),
    "exec.python_ms": ("ms", "lower", "ops_per_s", _OPS),
    "exec.shuffle_write_bytes": ("B", "lower", "ops_per_s", _OPS),
    "exec.spill_bytes": ("B", "lower", "ops_per_s", _OPS),
    "exec.driver_gap_ms": ("ms", "lower", "ops_per_s", _OPS),
    **{f"operators.{e}.{k}": (u, "lower", "ops_per_s", _OPS)
       for e in OPERATOR_ENTRIES for k, u in (("s", "s"), ("jobs", "count"))},
    "overhead.ops_per_s": ("1/s", "higher", "ops_per_s", _ALL),
    "overhead.latency_p50_s": ("s", "lower", "latency_p50_s", _ALL),
    "overhead.peak_rss_mb": ("MB", "lower", "peak_rss_mb", _ALL),
}

#: ``txn_ingest`` is not in BENCHMARK.json (a regression comparison of
#: three workloads would not finish within the hour it is given); run by
#: hand it also prints these.
TXN_END_TO_END = {
    "read_latency_p50_s": "s",
    "write_latency_p50_s": "s",
    "stored_bytes_per_user_byte": "ratio",
}
TXN_LAYER: dict[str, tuple[str, str, str, str]] = {
    "sources.append_s": ("s", "lower", "write_latency_p50_s", _TXN),
    "sources.merge_s": ("s", "lower", "write_latency_p50_s", _TXN),
    "sources.read_range_s": ("s", "lower", "read_latency_p50_s", _TXN),
    "sources.read_point_s": ("s", "lower", "read_latency_p50_s", _TXN),
    "sources.compact_s": ("s", "lower", "write_latency_p50_s", _TXN),
    "sources.files_scanned_per_read": ("count", "lower", "read_latency_p50_s", _TXN),
    "sources.prune_ratio": ("ratio", "higher", "read_latency_p50_s", _TXN),
    "sources.files_rewritten_per_merge": ("count", "lower", "write_latency_p50_s", _TXN),
    "sources.bytes_written_per_user_byte": ("ratio", "lower", "stored_bytes_per_user_byte", _TXN),
}


def metric_sets(workload: str) -> tuple[dict, dict]:
    """(end-to-end units, per-layer specs) the workload prints."""
    if workload == _TXN:
        return {**END_TO_END, **TXN_END_TO_END}, {**PER_LAYER, **TXN_LAYER}
    return END_TO_END, PER_LAYER


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=(_SQL, _OPS, _TXN))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", default="0.1", help="fixture scale under perfbench/data")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="damage the first expected result (tests the failure count)")
    return p.parse_args(argv)


# ------------------------------------------------------------ the window
def run_window(wl, seconds: float, tracer: Tracer, counters: SparkCounters | None):
    """Whole rounds until ``seconds`` have passed. Returns the op records
    and the window's wall time without the inline result checks."""
    records: list[OpRecord] = []
    check_s = 0.0
    rounds = wl.rounds()
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        for op in next(rounds):
            first_span = len(tracer.spans)
            if counters is not None:
                counters.begin()
            w0 = time.time() * 1000.0
            s0 = time.perf_counter()
            try:
                with tracer.span("op", kind=op.kind):
                    result = op.run(tracer)
                err = None
            except Exception as e:  # a failed op is counted, not fatal
                result, err = None, f"{type(e).__name__}: {e}"[:300]
            lat = time.perf_counter() - s0
            rec = OpRecord(op.kind, lat, op.is_write, error=err)
            if counters is not None:
                rec.layers["exec"] = counters.end(w0, w0 + lat * 1000.0)
                rec.layers["spans"] = tracer.spans[first_span:]
            c0 = time.perf_counter()
            if err is None:
                try:
                    rec.ok = op.expect(result)
                except Exception as e:
                    rec.ok, rec.error = False, f"check: {type(e).__name__}: {e}"[:300]
            else:
                rec.ok = False
            check_s += time.perf_counter() - c0
            records.append(rec)
    return records, time.perf_counter() - t0 - check_s


def settle(wl, records: list[OpRecord]) -> None:
    """The deferred (expensive) checks, after the window."""
    deferred = [r for r in records if r.ok is None]
    for rec, ok in zip(deferred, wl.finish(), strict=True):
        rec.ok = ok


def window_metrics(records: list[OpRecord], wall: float) -> dict:
    lat = [r.latency_s for r in records]
    reads = [r.latency_s for r in records if not r.is_write]
    writes = [r.latency_s for r in records if r.is_write]
    return {
        "ops_per_s": len(records) / wall,
        "latency_p50_s": median(lat),
        "latency_p90_s": p90_if_supported(lat),
        "read_latency_p50_s": median(reads) if reads else None,
        "write_latency_p50_s": median(writes) if writes else None,
        "samples": len(lat),
        "latency_by_kind_s": {
            k: median(r.latency_s for r in records if r.kind == k)
            for k in sorted({r.kind for r in records})},
    }


# ---------------------------------------------------------- layer metrics
def _mean(xs) -> float:
    xs = list(xs)
    return float(sum(xs) / len(xs)) if xs else 0.0


def _spans(records, name):
    return [s for r in records for s in r.layers["spans"] if s["name"] == name]


def _dur(s) -> float:
    return s["end"] - s["start"]


def layer_metrics(records: list[OpRecord], setup: dict, overhead: dict) -> dict:
    m: dict[str, float] = {}
    m.update(setup)
    m.update(overhead)
    ex = [r.layers["exec"] for r in records]
    for k in ("jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms", "python_ms",
              "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = _mean(e[k] for e in ex)
    run_ms = sum(e["run_ms"] for e in ex)
    m["exec.cpu_per_run"] = sum(e["cpu_ms"] for e in ex) / run_ms if run_ms else 0.0
    m["exec.driver_gap_ms"] = _mean(
        r.latency_s * 1000.0 - r.layers["exec"]["covered_ms"] for r in records)

    m["dialect.prepare_ms"] = _mean(_dur(s) * 1000.0 for s in _spans(records, "dialect.prepare"))
    sql_ops = [r for r in records if any(s["name"] == "context.sql" for s in r.layers["spans"])]
    m["context.driver_ms"] = _mean(
        r.latency_s * 1000.0 - r.layers["exec"]["sql_exec_ms"] for r in sql_ops)
    planned = _spans(records, "context.sql") + _spans(records, "transfer.collect")
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _mean(s["phases"][phase] for s in planned if "phases" in s)
    m["transfer.rows"] = _mean(s["rows"] for s in planned)
    m["transfer.bytes"] = _mean(s["bytes"] for s in planned)

    construct = _spans(records, "plans.construct")
    m["plans.construct_s"] = _mean(_dur(s) for s in construct)
    m["plans.construct_jobs"] = _mean(s["jobs"] for s in construct)
    for e in OPERATOR_ENTRIES:
        mine = [r for r in records if r.kind == e]
        if mine:
            m[f"operators.{e}.s"] = median(r.latency_s for r in mine)
            m[f"operators.{e}.jobs"] = mine[-1].layers["exec"]["jobs"]

    for kind in ("append", "merge", "compact"):
        spans = _spans(records, f"sources.{kind}")
        if spans:
            m[f"sources.{kind}_s"] = median(_dur(s) for s in spans)
    for kind in ("read_range", "read_point"):
        # TxnTable.read is lazy: the scan runs in the collect; the traced
        # file counts taken after both stay out of the figure
        reads = [sum(_dur(s) for s in r.layers["spans"]
                     if s["name"] in ("sources.read", "transfer.collect"))
                 for r in records if r.kind == kind]
        if reads:
            m[f"sources.{kind}_s"] = median(reads)
    reads = _spans(records, "sources.read")
    m["sources.files_scanned_per_read"] = _mean(s["files"] for s in reads)
    m["sources.prune_ratio"] = _mean(
        1.0 - s["files"] / s["live_files"] for s in reads if s["live_files"])
    m["sources.files_rewritten_per_merge"] = _mean(
        s["rewritten"] for s in _spans(records, "sources.merge"))
    writes = [s for k in ("append", "merge", "compact") for s in _spans(records, f"sources.{k}")]
    user = sum(s["user_bytes"] for s in writes)
    m["sources.bytes_written_per_user_byte"] = (
        sum(s["written_bytes"] for s in writes) / user if user else 0.0)
    return m


def job_counts(records: list[OpRecord]) -> dict[str, list[int]]:
    """Jobs of every traced op, per op kind, to show they repeat."""
    out: dict[str, list[int]] = {}
    for r in records:
        out.setdefault(r.kind, []).append(int(r.layers["exec"]["jobs"]))
    return out


# ------------------------------------------------------------------ main
def main(argv=None) -> int:
    args = parse_args(argv)
    end_to_end, per_layer = metric_sets(args.workload)
    host = Host.detect()
    sf_dir = os.path.join(BENCH_DIR, "data", f"sf{args.sf}")
    if not os.path.isdir(sf_dir):
        raise SystemExit(f"no fixture at {sf_dir}")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    rss = RssSampler().start()
    rng = random.Random(args.seed)
    spark = None
    try:
        setup: dict[str, float] = {}
        t0 = time.perf_counter()
        from pyblazing_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{args.workload}",
                          master=f"local[{host.cores}]",
                          extra_conf=session_confs(host, work))
        spark.sparkContext.setLogLevel("ERROR")
        setup["session.start_s"] = time.perf_counter() - t0
        cls = WORKLOADS[args.workload]
        extra = {"work": work} if args.workload == _TXN else {}
        wl = cls(spark, sf_dir, rng, Checker(args.corrupt_expected), **extra)
        t1 = time.perf_counter()
        wl.register()
        setup["session.register_s"] = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.warm()
        setup["session.warm_s"] = time.perf_counter() - t2
        setup_s = time.perf_counter() - t0

        setup_peak_mb, setup_parts = rss.peak_kb / 1024.0, rss.peak_parts
        rss.reset()
        records, wall = run_window(wl, args.seconds, Tracer(False), None)
        settle(wl, records)
        untraced = window_metrics(records, wall)
        window_peak_mb = rss.peak_kb / 1024.0
        untraced["peak_rss_mb"] = max(setup_peak_mb, window_peak_mb)
        untraced["peak_rss_parts_mb"] = (
            setup_parts if setup_peak_mb > window_peak_mb else rss.peak_parts)
        all_records = list(records)
        report = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "sf": float(args.sf),
            "host": {"cores": host.cores, "ram_mb": host.ram_mb,
                     "driver_heap": f"{host.heap_gb}g", **versions(spark)},
            "loop": "closed, 1 client",
            "setup": setup, "untraced": untraced,
        }
        if args.workload == _TXN:
            untraced["stored_bytes_per_user_byte"] = wl.stored_bytes_per_user_byte()

        if args.trace:
            tracer = Tracer(True)
            wl.counters = SparkCounters(spark)
            rss.reset()
            records, wall = run_window(wl, args.seconds, tracer, wl.counters)
            settle(wl, records)
            traced = window_metrics(records, wall)
            traced["peak_rss_mb"] = rss.peak_kb / 1024.0
            all_records += records
            overhead = {
                "overhead.ops_per_s": traced["ops_per_s"] - untraced["ops_per_s"],
                "overhead.latency_p50_s": traced["latency_p50_s"] - untraced["latency_p50_s"],
                "overhead.peak_rss_mb": traced["peak_rss_mb"] - window_peak_mb,
            }
            layers = layer_metrics(records, setup, overhead)
            report.update(traced=traced, job_counts=job_counts(records))
            metrics = {k: {"value": layers.get(k, 0.0), "unit": v[0]} for k, v in per_layer.items()}
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
            with open(trace_path, "w") as fh:
                json.dump({"report": report, "spans": tracer.spans,
                           "moves": {k: {"moves": v[2], "on": v[3]}
                                     for k, v in per_layer.items()}}, fh, default=str)
            report["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            values = {"setup_s": setup_s, **untraced}
            metrics = {k: {"value": values[k], "unit": u} for k, u in end_to_end.items()}

        failed = sum(1 for r in all_records if not r.ok)
        report["errors"] = sorted({r.error for r in all_records if r.error})[:5]
    finally:
        _shutdown(spark, rss)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(report, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": len(all_records),
                      "failed": failed, "metrics": metrics}))
    return 0


def _shutdown(spark, rss: RssSampler) -> None:
    """Stop Spark, the JVM and every Python worker, and wait for them."""
    children = rss.descendants()
    rss.stop()
    if spark is not None:
        gateway = spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in children:
        while _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, 9)
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().split(") ")[-1][:1] not in ("Z", "X")
    except OSError:
        return False


if __name__ == "__main__":
    sys.exit(main())
