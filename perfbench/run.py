"""Closed-loop benchmark of hoodie_spark.

    python3 perfbench/run.py --workload mor_stream_compact --seed 1 \\
        --seconds 30 --trace 0

Run from the repository root. One process, one client, ``local[N]`` with
N = min(2, cores). The workload's inputs come from ``--seed``; the timed
phase lasts about ``--seconds`` (a whole number of cycles). The
report goes to standard output: a readable table of every metric, then,
as the last line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). All files are written under
``.bench_work/`` in the repository root and removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

END_TO_END = (("setup_s", "s"), ("rows_per_s", "rows/s"),
              ("commit_p50_s", "s"), ("read_p50_s", "s"),
              ("incremental_p50_s", "s"), ("round_p50_s", "s"),
              ("service_p50_s", "s"), ("write_amp", "ratio"),
              ("space_amp", "ratio"), ("peak_rss_mb", "MB"))
SPAN_UNITS = {"calls": "count", "self_s": "s", "jobs": "count",
              "executor_s": "s", "shuffle_bytes": "bytes", "driver_s": "s"}
# Spark task threads. With two, the driver thread, the Python client and
# the JVM's compiler and GC threads keep spare cores on a 4-core host, so
# timings depend less on how busy the rest of the host is.
CORES = 2
LAYER_COUNTS = {"writer.files_written": "count",
                "writer.rows_rewritten_per_changed_row": "ratio",
                "reader.log_files_merged": "count"}


def per_layer_names() -> list[tuple[str, str]]:
    from perfbench.spans import COUNTERS, SPANS

    out = [(f"{s}.{f}", u) for s in SPANS for f, u in SPAN_UNITS.items()]
    out += [(f"{c}.calls", "count") for c in COUNTERS]
    out += list(LAYER_COUNTS.items())
    return out


def start_spark(work: Path, cores: int, traced: bool):
    from pyspark.sql import SparkSession

    local = work / "spark-local"
    local.mkdir(parents=True)
    b = (SparkSession.builder.master(f"local[{cores}]")
         .appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(cores))
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.driver.memory", "1g")
         .config("spark.local.dir", str(local))
         .config("spark.sql.warehouse.dir", str(work / "warehouse"))
         .config("spark.driver.extraJavaOptions",
                 f"-Djava.io.tmpdir={work / 'tmp'} "
                 # size the JIT compiler and GC thread pools for the
                 # cores the benchmark uses, not for the whole host
                 f"-XX:ActiveProcessorCount={cores}"))
    if traced:
        # keep every job and stage of the run for attribution at the end
        b = (b.config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # an interrupted gateway call; the JVM still stops
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the host as this machine sees it."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus the driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    if proc is not None:
        with open(f"/proc/{proc.pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


def end_to_end(out, spark_start_s: float, rss_mb: float) -> dict:
    from perfbench.stats import median

    s = out.samples
    values = {
        "setup_s": spark_start_s + out.setup_s,
        "rows_per_s": out.records / out.timed_s if out.timed_s else None,
        "write_amp": out.write_amp,
        "space_amp": out.space_amp,
        "peak_rss_mb": rss_mb,
    }
    for kind in ("commit", "read", "incremental", "round", "service"):
        values[f"{kind}_p50_s"] = median(s[kind]) if s.get(kind) else None
    return {n: {"value": values[n], "unit": u} for n, u in END_TO_END
            if values[n] is not None}


def report_lines(out, metrics: dict, calib: tuple, extra: dict) -> list[str]:
    """The readable report: every metric by name and unit, the tails with
    their percentile and sample count, the input digest and calibration."""
    from perfbench.stats import median, tail

    lines = [f"workload {out.workload}: {out.batches} input batches, "
             f"digest {out.digest}, inputs {json.dumps(out.inputs)}"]
    for name, m in metrics.items():
        lines.append(f"  {name:<22} {m['value']:>14.6g} {m['unit']}")
    s = out.samples
    for kind in ("commit", "read", "round"):
        vals = s.get(kind, [])
        t = tail(vals)
        text = (f"{t[1]:.6g} s (p{t[0]:.1f}, n={len(vals)})" if t else
                f"n/a (n={len(vals)}: needs more than 10 samples)")
        lines.append(f"  {kind + '_tail_s':<22} {text}")
    named = {"compaction_p50_s": s.get("compaction", []),
             # the corpus's periodic service is its keep-best refresh
             "refresh_p50_s": s.get("service", []) if "keep_best" in s
             else []}
    for name, vals in named.items():
        if vals:
            lines.append(f"  {name:<22} {median(vals):>14.6g} s "
                         f"(n={len(vals)})")
    frac = out.failed / out.attempted if out.attempted else 0.0
    lines.append(f"  {'failed_frac':<22} {frac:>14.6g} "
                 f"({out.failed} of {out.attempted})")
    for kind, vals in sorted(s.items()):
        lines.append(f"  op {kind:<14} n={len(vals):<3} "
                     f"p50={median(vals):.4f} s  "
                     f"all={[round(v, 3) for v in vals]}")
    lines.append(f"  setup parts {json.dumps(out.setup_parts)}")
    lines.append(f"  calibration start {json.dumps(calib[0])} "
                 f"end {json.dumps(calib[1])}")
    for k, v in extra.items():
        lines.append(f"  {k} {v}")
    for f in out.failures[:20]:
        lines.append(f"  FAILURE {f}")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_begin = time.perf_counter()
    # a terminated run still stops Spark and removes its files (the
    # ``finally`` below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    steal0, total0 = cpu_jiffies()
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark  # noqa: F401

        import hoodie_spark  # noqa: F401
        from perfbench.spans import (COUNTERS, SPANS, Tracer, read_jobs,
                                     summarize)
        from perfbench.workloads import WORKLOADS, calibrate
    except ImportError as e:
        print(f"perfbench: cannot import the program under test: {e}",
              file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    import tempfile
    tempfile.tempdir = str(work / "tmp")
    traced = bool(args.trace)
    cores = max(1, min(CORES, os.cpu_count() or 1))
    spark = None
    try:
        spark = start_spark(work, cores, traced)
        spark_start_s = time.perf_counter() - t_begin
        tracer = Tracer()
        if traced:
            tracer.install()
        out = WORKLOADS[args.workload](
            spark, args.workload, args.seed, args.seconds,
            str(work / "tables"), tracer, traced)
        calib_end = calibrate(spark)
        steal1, total1 = cpu_jiffies()
        calib_end["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
        rss = peak_rss_mb(spark)
        extra = {"cores": cores, "loop": "closed, 1 client",
                 "warmup_s": round(out.warmup_s, 3),
                 "first_timed_op_after_s": out.first_op_at - t_begin,
                 "timed_s": round(out.timed_s, 3)}
        e2e = end_to_end(out, spark_start_s, rss)
        if traced:
            tracer.uninstall()
            layer = summarize(tracer.spans, read_jobs(spark), names=SPANS)
            extra["traced_rows_per_s"] = e2e.get("rows_per_s", {}).get(
                "value")
            extra["root_spans"] = json.dumps(
                {k: v for k, v in layer.items() if k.startswith("bench.")})
            metrics = {}
            for name, unit in per_layer_names():
                span, _, fld = name.rpartition(".")
                if name in out.layer:
                    v = out.layer[name]
                elif span in COUNTERS:
                    v = tracer.counters.get(span, 0)
                else:
                    v = layer.get(span, {}).get(fld, 0)
                metrics[name] = {"value": v, "unit": unit}
        else:
            metrics = e2e
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            try:
                work.parent.rmdir()  # only when no other run is using it
            except OSError:
                pass

    lines = report_lines(out, e2e, (out.calibration_start, calib_end),
                         extra)
    if traced:
        lines += [f"  {n:<52} {m['value']:>14.6g} {m['unit']}"
                  for n, m in metrics.items()]
    print("\n".join(lines))
    correct = out.failed == 0 and len(metrics) == (
        len(per_layer_names()) if traced else len(END_TO_END))
    print(json.dumps({"correct": correct, "attempted": out.attempted,
                      "failed": out.failed, "metrics": metrics}))
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
