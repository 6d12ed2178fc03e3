"""Per-layer metrics from a traced phase.

Stage counters reach a layer through the spans that own their jobs:
engine counts every stage of the phase; catalog counts the scan stages
(the ones with input bytes); maplejuice counts the stages of every job
whose span tree contains a maplejuice call; sdfs counts the stages run
inside sdfs calls. Counts and times are per cycle, so runs that fit a
different number of cycles compare.
"""

from __future__ import annotations

import statistics

MR_QUERIES = ("mj_wordcount", "mj_exe_wordcount", "webgraph_inlinks", "condorcet_pairs",
              "condorcet_winner", "mj_range_topkeys")
MIX_QUERIES = ("q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
               "q18_large_volume", "events_sessionize", "dedup_minhash", "dedup_clusters",
               "bm25_search")
SELF_LAYERS = ("catalog", "maplejuice", "sdfs", "reliability", "operators", "engine")

# (name, unit, better)
PER_LAYER: tuple[tuple[str, str, str], ...] = (
    ("session.get_spark_s", "s", "lower"),
    ("session.first_job_s", "s", "lower"),
    ("catalog.table_s", "s", "lower"),
    ("catalog.input_mb", "MB", "lower"),
    ("catalog.input_records", "count", "lower"),
    ("catalog.scan_tasks", "count", "lower"),
    ("maplejuice.plan_s", "s", "lower"),
    ("maplejuice.map_busy_s", "s", "lower"),
    ("maplejuice.reduce_busy_s", "s", "lower"),
    ("maplejuice.map_cpu_ratio", "ratio", "higher"),
    ("maplejuice.shuffle_write_mb", "MB", "lower"),
    ("maplejuice.shuffle_records", "count", "lower"),
    ("maplejuice.combine_ratio", "ratio", "lower"),
    ("maplejuice.fetch_wait_s", "s", "lower"),
    ("sdfs.put_s", "s", "lower"),
    ("sdfs.merge_s", "s", "lower"),
    ("sdfs.compact_s", "s", "lower"),
    ("sdfs.get_s", "s", "lower"),
    ("sdfs.namespace_s", "s", "lower"),
    ("sdfs.bytes_written_mb", "MB", "lower"),
    ("sdfs.write_amp", "ratio", "lower"),
    ("sdfs.files_max", "count", "lower"),
    ("sdfs.compactions", "count", "lower"),
    ("sdfs.stored_bytes_per_user_byte", "ratio", "lower"),
    ("reliability.persisted_rdds_after_job", "count", "lower"),
    ("reliability.storage_mb_peak", "MB", "lower"),
    *((f"operators.{q}.{k}", "s", "lower")
      for q in MR_QUERIES + MIX_QUERIES for k in ("s", "plan_s")),
    ("operators.driver_jobs", "count", "lower"),
    ("engine.busy_s", "s", "lower"),
    ("engine.core_util", "ratio", "higher"),
    ("engine.gc_s", "s", "lower"),
    ("engine.spill_mb", "MB", "lower"),
    ("engine.tasks", "count", "lower"),
    ("engine.failed_tasks", "count", "lower"),
    *((f"{layer}.self_s", "s", "lower") for layer in SELF_LAYERS),
    ("trace.overhead_ratio", "ratio", "lower"),
    ("e2e.failed_job_ratio", "ratio", "lower"),
    ("e2e.job_tail_s", "s", "lower"),
    ("e2e.job_tail_pct", "pct", "higher"),
    ("e2e.job_tail_beyond", "count", "higher"),
    ("e2e.jobs", "count", "higher"),
    ("e2e.peak_rss_mb", "MB", "lower"),
)


def _sum(stages, key: str) -> float:
    return float(sum(st[key] for st in stages))


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(tracer, cycles: int, wall_s: float, cores: int) -> dict[str, float]:
    """Metrics computed from the spans of one traced phase of ``cycles``
    cycles lasting ``wall_s`` seconds. Layers the workload never calls
    read 0."""
    spans = tracer.spans
    kids = tracer.children()
    by_id = {s.id: s for s in spans}

    def ancestors(s):
        while s.parent is not None:
            s = by_id[s.parent]
            yield s

    def outer(names) -> list:
        """Spans named in ``names`` with no ancestor named in ``names``."""
        return [s for s in spans if s.name in names
                and not any(a.name in names for a in ancestors(s))]

    def subtree(root) -> list:
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, ()))
        return out

    def stages_under(roots) -> list[dict]:
        return [st for r in roots for s in subtree(r) for st in s.stages]

    def dur(names) -> float:
        return sum(s.dur for s in outer(names)) / cycles

    all_stages = [st for s in spans for st in s.stages]
    m: dict[str, float] = {}

    # catalog: its calls build lazy scans; the scans run as input stages
    scans = [st for st in all_stages if st["inputBytes"] > 0]
    m["catalog.table_s"] = dur({"catalog.table", "catalog.spread"})
    m["catalog.input_mb"] = _sum(scans, "inputBytes") / 1e6 / cycles
    m["catalog.input_records"] = _sum(scans, "inputRecords") / cycles
    m["catalog.scan_tasks"] = _sum(scans, "numTasks") / cycles

    # maplejuice: every stage of a job whose plan a maplejuice call built.
    # Reduce stages read a shuffle and write none; every other stage is on
    # the map side (scans, spread repartitions, maple batches, and a
    # materialized maple that writes files instead of a shuffle).
    mj_names = {s.name for s in spans if s.layer == "maplejuice"}
    mj_jobs = [s for s in spans if s.layer == "job"
               and any(x.layer == "maplejuice" for x in subtree(s))]
    mj = stages_under(mj_jobs)
    reduces = [st for st in mj if st["shuffleReadBytes"] > 0 and st["shuffleWriteBytes"] == 0]
    maps = [st for st in mj if not (st["shuffleReadBytes"] > 0 and st["shuffleWriteBytes"] == 0)]
    map_run = _sum(maps, "executorRunTime")
    m["maplejuice.plan_s"] = dur(mj_names)
    m["maplejuice.map_busy_s"] = map_run / 1e3 / cycles
    m["maplejuice.reduce_busy_s"] = _sum(reduces, "executorRunTime") / 1e3 / cycles
    m["maplejuice.map_cpu_ratio"] = (
        _sum(maps, "executorCpuTime") / 1e9 / (map_run / 1e3) if map_run else 0.0)
    m["maplejuice.shuffle_write_mb"] = _sum(maps, "shuffleWriteBytes") / 1e6 / cycles
    m["maplejuice.shuffle_records"] = _sum(maps, "shuffleWriteRecords") / cycles
    map_in = _sum(maps, "inputRecords")
    m["maplejuice.combine_ratio"] = (
        _sum(maps, "shuffleWriteRecords") / map_in if map_in else 0.0)
    m["maplejuice.fetch_wait_s"] = _sum(mj, "shuffleFetchWaitTime") / 1e3 / cycles

    # sdfs
    sdfs_spans = [s for s in spans if s.layer == "sdfs"]
    sdfs_outer = [s for s in sdfs_spans
                  if not any(a.layer == "sdfs" for a in ancestors(s))]
    m["sdfs.put_s"] = dur({"sdfs.put"})
    m["sdfs.merge_s"] = dur({"sdfs.merge"})
    m["sdfs.compact_s"] = dur({"sdfs.auto_compact", "sdfs.compact"})
    m["sdfs.get_s"] = dur({"sdfs.get"})
    m["sdfs.namespace_s"] = dur({"sdfs.ls", "sdfs.store", "sdfs.global_"})
    m["sdfs.bytes_written_mb"] = _sum(stages_under(sdfs_outer), "outputBytes") / 1e6 / cycles
    m["sdfs.compactions"] = sum(1 for s in sdfs_spans if s.name == "sdfs.compact") / cycles

    # operators: one job span per registry query run
    per_q: dict[str, list[float]] = {}
    plan_q: dict[str, list[float]] = {}
    driver_jobs = 0
    for s in spans:
        if s.layer == "operators":
            q = s.name.split(".", 1)[1]
            plan_q.setdefault(q, []).append(s.dur)
            per_q.setdefault(q, []).append(by_id[s.parent].dur)
            driver_jobs += sum(len(x.jobs) for x in subtree(s))
    for q in MR_QUERIES + MIX_QUERIES:
        m[f"operators.{q}.s"] = _median(per_q.get(q, ()))
        m[f"operators.{q}.plan_s"] = _median(plan_q.get(q, ()))
    m["operators.driver_jobs"] = driver_jobs / cycles

    # engine: every stage of the phase
    busy = _sum(all_stages, "executorRunTime") / 1e3
    m["engine.busy_s"] = busy / cycles
    m["engine.core_util"] = busy / (wall_s * cores)
    m["engine.gc_s"] = _sum(all_stages, "jvmGcTime") / 1e3 / cycles
    m["engine.spill_mb"] = _sum(all_stages, "memoryBytesSpilled") / 1e6 / cycles
    m["engine.tasks"] = _sum(all_stages, "numTasks") / cycles
    m["engine.failed_tasks"] = _sum(all_stages, "numFailedTasks") / cycles

    selfs = tracer.self_times()
    for layer in SELF_LAYERS:
        m[f"{layer}.self_s"] = selfs.get(layer, 0.0) / cycles
    return m
