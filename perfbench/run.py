"""Benchmark entry point: one workload per process.

    python3 perfbench/run.py --workload nightly_history --seed 1 --seconds 8 --trace 0

Run from the repository root. The program sees only inputs generated from
``--seed``. Each run starts one Spark session on ``local[<cpus>]``, sets the
workload up (several times, reporting the median), warms up untimed, then
runs the workload's operation in a closed loop for ``--seconds`` and checks
the outputs against an independent computation. Everything it writes lives in
a scratch directory under the repository root, removed at exit.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` untraced and traced operations alternate and it carries the
per-layer metrics, whose self times add up to the traced operation latency.
Lines before it print every metric by name and unit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
REPO = BENCH.parent
sys.path.insert(0, str(REPO))

from airflow_courier_payout_ledger_pipeline_spark.session import get_spark  # noqa: E402

import nightly  # noqa: E402
import retrieval  # noqa: E402
from spans import Tracer  # noqa: E402

WORKLOADS = {
    "nightly_cold": nightly.Nightly,
    "nightly_history": nightly.Nightly,
    "retrieval_serve": retrieval.Retrieval,
}
#: set-ups per run (median reported): a history seed costs seconds, an index
#: build is the largest part of a retrieval run, so it is made once
SETUP_REPS = {"nightly_cold": 2, "nightly_history": 2, "retrieval_serve": 1}
#: timed ops at least, however short ``--seconds`` is
MIN_OPS = {"nightly_cold": 1, "nightly_history": 1, "retrieval_serve": 3}
#: an op is disturbed when the hypervisor ran other guests for more than this
#: share of the machine's CPU time while the op ran. On a shared 4-CPU host a
#: disturbed DAG day ran 20-60% longer than an undisturbed one, so the latency
#: metrics are medians over the undisturbed ops, or over the ``MIN_OPS`` least
#: disturbed ones if fewer were undisturbed.
DISTURBED = 0.02
#: ops added at most after the window, while fewer than ``MIN_OPS`` ops of it
#: were undisturbed
RETRIES = {"nightly_cold": 1, "nightly_history": 1, "retrieval_serve": 3}


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def steal_s() -> float:
    """CPU time the hypervisor gave other guests while this machine's CPUs
    wanted to run, summed over the CPUs (0 where the kernel does not count
    it)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def pct(values: list[float], q: float) -> float:
    """The ``q`` quantile (0..1) by linear interpolation."""
    s = sorted(values)
    x = q * (len(s) - 1)
    lo = int(x)
    return s[lo] + (s[min(lo + 1, len(s) - 1)] - s[lo]) * (x - lo)


#: driver JVM flags: C1 only. Whole-stage codegen makes ~220 new classes a DAG
#: day, which the C2 compiler would recompile every day: ~35 s of compiler CPU
#: in a ~20 s day, competing with the day's own threads for the machine's
#: CPUs, so the day's latency followed the host's load. With C1 the compiler
#: takes ~3 s a day, and the day is faster and steadier. C1-only mode would
#: also shrink the code cache to 32 MB, which those classes fill by the third
#: day (the JIT then flushes and recompiles), so it keeps the usual 240 MB.
JAVA_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=240m"


def start_session(workload: str, workdir: Path):
    """Spark on ``local[<cpus>]`` (the session default would be 32 threads),
    with every temporary file kept under ``workdir``."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(workdir / "local")
    os.environ["TZ"] = "UTC"
    time.tzset()
    n = cpus()
    return get_spark(
        f"perfbench-{workload}",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} {JAVA_OPTS}",
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
        },
    )


def run(args, workdir: Path) -> dict:
    t0 = time.perf_counter()
    spark = start_session(args.workload, workdir)
    startup_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        return measure(args, spark, workdir, startup_s)
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        gateway.proc.wait(timeout=60)


def measure(args, spark, workdir: Path, startup_s: float) -> dict:
    tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
    layer_s: dict[str, list[float]] = {}
    wl = WORKLOADS[args.workload](spark, args.workload, args.seed, workdir, tracer, layer_s)
    try:
        t = time.perf_counter()
        wl.setup_once()
        once_s = time.perf_counter() - t
        setups = []
        for _ in range(SETUP_REPS[args.workload]):
            t = time.perf_counter()
            wl.setup()
            setups.append(time.perf_counter() - t)
        if args.trace:
            wl.instrument()
        wl.warm_up()

        lat: list[float] = []
        stolen_share: list[float] = []  # per untraced op
        traced_lat: list[float] = []
        subs: dict[str, list[float]] = defaultdict(list)
        failed = n = extra = 0
        wl.start_window()
        window = time.perf_counter()
        # closed loop: the next op starts when the previous one ends; a traced
        # run alternates untraced and traced ops, so it runs twice the minimum
        # and makes up for no disturbed op
        min_ops = MIN_OPS[args.workload] * (2 if args.trace else 1)
        retries = 0 if args.trace else RETRIES[args.workload]
        while True:
            if time.perf_counter() - window >= args.seconds and n >= min_ops:
                quiet = sum(x <= DISTURBED for x in stolen_share)
                if quiet >= MIN_OPS[args.workload] or extra == retries:
                    break
                extra += 1
            wl.prepare()
            traced = bool(args.trace) and n % 2 == 1
            stolen = steal_s()
            with tracer.op(n, traced):
                t = time.perf_counter()
                try:
                    sub = wl.op()
                except Exception:  # a failed op is counted, and the loop goes on
                    traceback.print_exc()
                    failed += 1
                    sub = None
                dt = time.perf_counter() - t
                stolen = steal_s() - stolen
                if traced:
                    wl.after_traced_op()
            if traced:
                traced_lat.append(dt)
            else:
                lat.append(dt)
                stolen_share.append(stolen / (dt * cpus()))
                for k, v in (sub or {}).items():
                    subs[k].append(v)
            n += 1
        items = wl.end_window(len(lat))
        mismatches = wl.check()
        for m in mismatches:
            print(f"MISMATCH {m}", file=sys.stderr)
        failed += bool(mismatches)  # a wrong final state fails the last op
        jvm_mb = vm_hwm_mb(spark.sparkContext._gateway.proc.pid)
    finally:
        wl.close()

    failed = min(failed, n)
    setup_s = startup_s + once_s + statistics.median(setups)
    driver_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    by_share = sorted(range(len(lat)), key=stolen_share.__getitem__)
    kept = [lat[i] for i in by_share if stolen_share[i] <= DISTURBED]
    if len(kept) < MIN_OPS[args.workload]:
        kept = [lat[i] for i in by_share[: MIN_OPS[args.workload]]]
    e2e = {
        "op_ms_p50": (statistics.median(kept) * 1e3, "ms"),
        # one client in a closed loop finishes an op per op latency; the
        # median op keeps a single slow op from moving the rate
        "items_per_s": (items / len(lat) / statistics.median(kept), "1/s"),
        "setup_s": (setup_s, "s"),
        "driver_peak_rss_mb": (driver_mb, "MB"),
    }
    # the same numbers under the names each workload's users know them by, and
    # the JVM's peak RSS, which moves with garbage-collector timing by more
    # than a bound could allow
    report = dict(e2e)
    report["jvm_peak_rss_mb"] = (jvm_mb, "MB")
    report["failed_ops_ratio"] = (failed / n, f"of {n} ops")
    disturbed = sum(x > DISTURBED for x in stolen_share)
    report["disturbed_ops"] = (disturbed, f"of {len(lat)} untraced ops")
    if subs:
        for k, v in subs.items():
            name = k.removesuffix("_ms")
            report[f"{name}_ms_p50"] = (pct(v, 0.5), f"ms (n={len(v)})")
            report[f"{name}_ms_p90"] = (pct(v, 0.9), f"ms (n={len(v)})")
        report["queries_per_s"] = report["items_per_s"]
    else:
        report["day_run_s_p50"] = (statistics.median(kept), f"s (n={len(kept)})")
        report["facts_per_s"] = report["items_per_s"]
    for name, (value, unit) in report.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")

    metrics = e2e
    if args.trace:
        metrics = per_layer(tracer, lat, traced_lat, startup_s, layer_s)
        out = REPO / ".perfbench_spans" / f"{args.workload}-seed{args.seed}.jsonl"
        out.parent.mkdir(exist_ok=True)
        tracer.write(out)
        print(f"spans: {len(tracer.spans)} from {len(traced_lat)} traced ops in {out}")
    return {
        "correct": not mismatches and failed == 0,
        "attempted": n,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def per_layer(tracer, lat, traced_lat, startup_s, layer_s) -> dict:
    """Per traced op: each layer's self time and counts; set-up layer times;
    how much of the traced latency the spans account for; tracing overhead."""
    ops = range(1, 2 * len(traced_lat), 2)
    n = len(traced_lat)
    agg = tracer.self_times(ops)
    counts: dict[str, float] = defaultdict(float)
    for op in ops:
        for k, v in tracer.counts[op].items():
            counts[k] += v / n

    def self_s(name):
        return agg[name]["self_s"] / n if name in agg else 0.0

    def jobs(name):
        return agg[name]["jobs"] / n if name in agg else 0.0

    m = {}
    m["sources.rest.paginate_s"] = self_s("sources.rest.paginate")
    m["sources.rest.pages"] = counts["sources.rest.pages"]
    m["sources.rest.records_to_bronze_s"] = self_s("sources.rest.records_to_bronze")
    m["bench.transport_s"] = self_s("bench.transport")
    for job in nightly.JOBS:
        m[f"plans.promotions.{job}_s"] = self_s(f"plans.promotions.{job}")
        m[f"plans.promotions.{job}_spark_jobs"] = jobs(f"plans.promotions.{job}")
    m["plans.ledger.courier_ledger_s"] = self_s("plans.ledger.courier_ledger")
    m["plans.ledger.mart_exchanges"] = counts["plans.ledger.mart_exchanges"]
    m["plans.ledger.mart_rows"] = counts["plans.ledger.mart_rows"]
    for method in ("read", "append", "overwrite", "upsert_scd1", "read_committed"):
        m[f"sources.lakehouse.{method}_s"] = self_s(f"sources.lakehouse.{method}")
        m[f"sources.lakehouse.{method}.calls"] = (
            agg[f"sources.lakehouse.{method}"]["calls"] / n
            if f"sources.lakehouse.{method}" in agg else 0.0
        )
    m["sources.lakehouse.bytes_written"] = counts["sources.lakehouse.bytes_written"]
    m["sources.lakehouse.write_amplification"] = (
        counts["sources.lakehouse.bytes_written"] / counts["bench.json_bytes"]
        if counts["bench.json_bytes"] else 0.0
    )
    m["sources.lakehouse.fct_files"] = counts["sources.lakehouse.fct_files"]
    m["operators.watermark.cursor_s"] = self_s("operators.watermark.cursor")
    for layer, stem in (("textindex", "bm25"), ("annindex", "search")):
        con, exe = f"operators.{layer}.{stem}_construct", f"operators.{layer}.{stem}_execute"
        m[f"{con}_ms"] = self_s(con) * 1e3
        m[f"{exe}_ms"] = self_s(exe) * 1e3
        m[f"operators.{layer}.{stem}_spark_jobs"] = jobs(con) + jobs(exe)
        m[f"{con}_jobs"] = jobs(con)
    m["bench.query_frame_ms"] = self_s("bench.query_frame") * 1e3
    m["spark.codegen_compiles"] = counts["spark.codegen_compiles"]
    m["session.startup_s"] = startup_s
    for k in ("setup.history_seed_s", "setup.quantizer_train_s", "setup.index_build_s"):
        m[k] = statistics.median(layer_s[k]) if k in layer_s else 0.0

    traced_ms = statistics.mean(traced_lat) * 1e3
    spans_ms = sum(a["self_s"] for a in agg.values()) / n * 1e3
    m["trace.op_ms"] = traced_ms
    m["trace.unattributed_ms"] = traced_ms - spans_ms
    m["trace.overhead_ratio"] = statistics.median(traced_lat) / statistics.median(lat)
    units = {"_s": "s", "_ms": "ms", "bytes_written": "bytes", "ratio": "ratio",
             "amplification": "ratio"}
    out = {}
    for k, v in m.items():
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (v, unit)
    for k, (v, u) in out.items():
        print(f"layer {k} = {v:.6g} {u}")
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    workdir = REPO / ".perfbench_run" / f"{args.workload}-{os.getpid()}"
    cwd = os.getcwd()
    try:
        workdir.mkdir(parents=True)
        os.chdir(workdir)  # anything Spark drops into its working directory stays here
        out = run(args, workdir)
    finally:
        os.chdir(cwd)
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            workdir.parent.rmdir()
        except OSError:  # another run still uses it
            pass
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
