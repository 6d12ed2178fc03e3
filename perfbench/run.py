"""Benchmark runner: one closed-loop workload run, end to end.

    python3 perfbench/run.py --workload {mr_reference,sdfs_ingest,query_mix} \\
        --seed N --seconds S --trace {0,1}

A run generates (or reuses) the seed's inputs, starts Spark with the
program's defaults on ``local[<cores>]``, makes one untimed warm-up pass
over every job type, then submits the workload's cycles one job at a
time: ``--seconds`` divided by the workload's nominal cycle time, at
least one. The cycle count depends on nothing measured, so two commits
compared at the same ``--seconds`` do the same work. With ``--trace 1`` as
many traced cycles follow, each paired with an untraced one; the spans
around every call into the program's layers give the per-layer metrics.
Outputs are checked
against DuckDB after the timed phases. The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones).

Generated inputs, Spark's local dirs, temporary files, the SDFS
warehouse and span files live under ``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")

# (name, unit, better, bound)
END_TO_END: tuple[tuple[str, str, str, float], ...] = (
    ("setup_s", "s", "lower", 0.25),
    ("throughput_mb_s", "MB/s", "higher", 0.25),
    ("job_p50_s", "s", "lower", 0.25),
)

# program knobs that must stay at their defaults for a benchmark run
PROGRAM_ENV = ("GRAPEFRUIT_CLUSTER_MEMO", "GRAPEFRUIT_MEMO_SKIP", "GRAPEFRUIT_BAND_CURVE_SAMPLE",
               "SPARK_GRAFT_CHECKPOINT_DIR", "SPARK_GRAFT_DRIVER_MEM", "SPARK_GRAFT_NO_BCAST",
               "SPARK_GRAFT_BCAST_THRESHOLD")


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_steal_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the host's CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:9]]
    return vals[7], sum(vals)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=("mr_reference", "sdfs_ingest", "query_mix"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def program_missing() -> str | None:
    for rel in ("grapefruit_spark/__init__.py", "tools/check_parity.py"):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return rel
    return None


def prepare_env(run_dir: str, cores: int) -> None:
    for k in PROGRAM_ENV:
        os.environ.pop(k, None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_<user>,
    # outside the checkout, whatever java.io.tmpdir says
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell')


def load_parity():
    """Import tools/check_parity.py (its value_hash is the comparison)."""
    import importlib.util

    saved = list(sys.path)
    spec = importlib.util.spec_from_file_location(
        "check_parity", os.path.join(ROOT, "tools", "check_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved  # it prepends a fixed checkout path; keep ours
    return mod


def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end the JVM, and wait until every process the run
    started (JVM, Python workers, pipe children) has exited."""
    from pyspark import SparkContext

    from procmem import tree_pids

    me = os.getpid()
    started = [p for p in tree_pids(me) if p != me]
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if _alive(p)]
        if alive:
            time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def timed_cycles(wl, results: list, first_cycle: int, cycles: int, after_job=None) -> float:
    """Run ``cycles`` whole cycles; return their wall time."""
    from workloads import run_cycle

    t0 = time.perf_counter()
    for n in range(cycles):
        run_cycle(wl, first_cycle + n, results, after_job)
    return time.perf_counter() - t0


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = program_missing()
    if missing:
        print(f"perfbench: {missing} not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2

    import inputs
    from procmem import PeakRss

    cores = len(os.sched_getaffinity(0))
    t = time.perf_counter()
    sf_dir, manifest = inputs.ensure_inputs(os.path.join(WORK, "inputs"), args.workload,
                                            args.seed)
    gen_s = time.perf_counter() - t
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir, cores)
    sys.path.insert(0, ROOT)
    try:
        with PeakRss() as rss:
            out = run(args, sf_dir, manifest, run_dir, cores, gen_s, rss)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    e2e, layer, attempted, failed, summary = out

    # human-readable lines first, then the manifest, then the result line
    for name, unit, _, _ in END_TO_END:
        print(f"{args.workload} {name} = {e2e[name]:.6g} {unit}")
    for line in summary:
        print(f"{args.workload} {line}")
    print(json.dumps({"manifest": manifest}, sort_keys=True))
    if args.trace:
        from layers import PER_LAYER

        chosen = {n: {"value": layer[n], "unit": u} for n, u, _ in PER_LAYER}
    else:
        chosen = {n: {"value": e2e[n], "unit": u} for n, u, _, _ in END_TO_END}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": chosen}))
    return 0


def traced_phase(wl, tracer, sc, cycles: int, first_cycle: int, cores: int):
    """``cycles`` traced cycles, each followed by an untraced one, so the
    overhead ratio compares cycles equally far into the run. Returns
    (per-layer metrics, results of all these cycles)."""
    from layers import layer_metrics

    results: list = []
    rel = {"persisted": 0, "storage_mb": 0.0}

    def after_job(_res):
        jsc = sc._jsc
        rel["persisted"] = max(rel["persisted"], jsc.getPersistentRDDs().size())
        mb = sum(i.memSize() + i.diskSize() for i in jsc.sc().getRDDStorageInfo()) / 1e6
        rel["storage_mb"] = max(rel["storage_mb"], mb)

    traced_wall = plain_wall = 0.0
    for i in range(cycles):
        tracer.enabled = True
        with tracer.instrument():
            traced_wall += timed_cycles(wl, results, first_cycle + 2 * i, 1, after_job)
        tracer.enabled = False
        plain_wall += timed_cycles(wl, results, first_cycle + 2 * i + 1, 1)
    tracer.attach_stage_counters()
    layer = layer_metrics(tracer, cycles, traced_wall, cores)
    layer["trace.overhead_ratio"] = traced_wall / plain_wall
    layer["reliability.persisted_rdds_after_job"] = float(rel["persisted"])
    layer["reliability.storage_mb_peak"] = rel["storage_mb"]
    return layer, results


def run(args, sf_dir, manifest, run_dir, cores, gen_s, rss):
    """Set up, warm up, run the timed (and traced) phases, check outputs,
    stop Spark. Returns (end-to-end, per-layer, attempted, failed, summary)."""
    import metrics as mt
    from spans import Tracer
    from workloads import WORKLOADS, run_cycle

    t = time.perf_counter()
    from grapefruit_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    get_spark_end = time.perf_counter()
    try:
        # the layer modules the traced phase wraps
        import grapefruit_spark.catalog  # noqa: F401
        import grapefruit_spark.maplejuice  # noqa: F401
        import grapefruit_spark.reliability  # noqa: F401
        import grapefruit_spark.sdfs  # noqa: F401

        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = Tracer(sc, f"{args.workload}-{args.seed}-{os.getpid()}")
        wl = WORKLOADS[args.workload](spark, sf_dir, manifest, run_dir, tracer, load_parity())
        warm: list = []
        run_cycle(wl, -1, warm)
        setup_s = process_age_s() - gen_s

        results: list = []
        steal0 = cpu_steal_ticks()
        cycles = max(1, int(args.seconds // wl.cycle_s))
        wall = timed_cycles(wl, results, 0, cycles)
        steal1 = cpu_steal_ticks()
        layer: dict[str, float] = {}
        extra_results: list = []
        if args.trace:
            tracer.record("session", "session.get_spark", t, get_spark_end)
            layer, extra_results = traced_phase(wl, tracer, sc, cycles, cycles, cores)
            os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
            tracer.dump(os.path.join(WORK, "spans", f"{tracer.run_id}.jsonl"))
        checked = results + extra_results
        wl.check(checked)
        extra = wl.extra_metrics()
    finally:
        stop_spark(spark)

    secs = [r.seconds for r in results]
    failed = sum(1 for r in checked if not r.ok)
    tail, pct, beyond = mt.job_tail(secs)
    e2e = {
        "setup_s": setup_s,
        "throughput_mb_s": sum(r.input_mb for r in results) / wall,
        "job_p50_s": statistics.median(secs),
    }
    layer.update({
        "session.get_spark_s": get_spark_end - t,
        "session.first_job_s": warm[0].seconds,
        "e2e.failed_job_ratio": mt.failed_job_ratio(checked),
        "e2e.job_tail_s": tail,
        "e2e.job_tail_pct": pct,
        "e2e.job_tail_beyond": float(beyond),
        "e2e.jobs": float(len(secs)),
        "e2e.peak_rss_mb": rss.peak_mb,
        "sdfs.files_max": extra.get("files_max", 0.0),
        "sdfs.stored_bytes_per_user_byte": extra.get("stored_bytes_per_user_byte", 0.0),
    })
    # write amplification: bytes written per logical byte landed (sdfs_ingest
    # lands its whole input set once per cycle)
    if args.trace and args.workload == "sdfs_ingest":
        layer["sdfs.write_amp"] = layer["sdfs.bytes_written_mb"] / manifest["logical_mb"]
    layer.setdefault("sdfs.write_amp", 0.0)

    by_name: dict[str, list[float]] = {}
    per_cycle: dict[int, float] = {}
    for r in results:
        by_name.setdefault(r.name, []).append(r.seconds)
        per_cycle[r.cycle] = per_cycle.get(r.cycle, 0.0) + r.seconds
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
    summary = [
        f"failed_job_ratio = {layer['e2e.failed_job_ratio']:.6g} ratio "
        f"({failed} of {len(checked)} jobs)",
        f"job_tail_s = {tail:.6g} s (p{pct:g}, {beyond} jobs beyond, {len(secs)} jobs)",
        f"peak_rss_mb = {rss.peak_mb:.6g} MB",
        f"timed phase: {cycles} cycle(s), {wall:.3f} s, {len(secs)} jobs, "
        f"{manifest['logical_mb']:.3f} logical MB per input set",
        f"host CPU steal during the timed phase: {steal:.1%}",
        "cycle job-time sums: " + ", ".join(f"{v:.3f}s" for v in per_cycle.values()),
        "job medians: " + ", ".join(
            f"{k}={statistics.median(v):.3f}s x{len(v)}" for k, v in by_name.items()),
        f"setup: get_spark {get_spark_end - t:.2f} s, warm-up "
        f"{sum(r.seconds for r in warm):.2f} s ("
        + ", ".join(f"{r.name}={r.seconds:.2f}" for r in warm) + ")",
    ]
    if "stored_bytes_per_user_byte" in extra:
        summary.append(
            f"stored_bytes_per_user_byte = {extra['stored_bytes_per_user_byte']:.6g} ratio")
    for r in checked:
        if not r.ok:
            summary.append(f"FAILED job {r.name} cycle {r.cycle}: {r.error or 'wrong output'}")
    return e2e, layer, len(checked), failed, summary


if __name__ == "__main__":
    sys.exit(main())
