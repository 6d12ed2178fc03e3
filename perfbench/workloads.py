"""The three closed-loop workloads. One client submits one job at a time
and waits for it; a cycle is the workload's fixed job list.

- ``mr_reference``: the reference's own evaluation jobs through the
  registry (maple/juice over Arrow batches, the external-executable pipe
  contract, hash and range shuffles, the chained Condorcet election).
- ``query_mix``: declarative registry queries (joins, aggregates,
  windows, MinHash-LSH with iterative connected components, BM25).
- ``sdfs_ingest``: a landing-zone loop over ``Sdfs`` — put, CDC merge,
  namespace read, compaction past a file-count threshold, a materialized
  ``MapleJuicePipeline`` aggregate, read back.

Every job's output is checked after the timed phase against DuckDB over
the same generated files: registry jobs against the registry's
``oracle_sql()``, the landing zone against a DuckDB replay of its puts
and merges, with the order-insensitive value hash of
``tools/check_parity.py``.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback
from dataclasses import dataclass, field

import duckdb

from inputs import logical_bytes


@dataclass
class JobResult:
    name: str
    cycle: int
    seconds: float
    input_mb: float
    rows: list | None = None
    cols: list[str] | None = None
    error: str | None = None
    ok: bool | None = None
    meta: dict = field(default_factory=dict)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Workload:
    """Base: subclasses list a cycle's jobs and check their outputs."""

    name = ""
    tables: tuple[str, ...] = ()
    # nominal seconds per cycle on a 4-core host: a run of S seconds times
    # S // cycle_s cycles
    cycle_s: float

    def __init__(self, spark, sf_dir: str, manifest: dict, work_dir: str, tracer, parity):
        self.spark = spark
        self.sf_dir = sf_dir
        self.manifest = manifest
        self.work_dir = work_dir
        self.tracer = tracer
        self.parity = parity  # tools/check_parity.py, imported by the runner

    def table_mb(self, *names: str) -> float:
        return sum(self.manifest["tables"][n]["logical_mb"] for n in names)

    def begin_cycle(self, cycle: int) -> None:
        pass

    def end_cycle(self, cycle: int) -> None:
        pass

    def jobs(self, cycle: int):
        """Yield (name, input_mb, fn, meta) in submission order; fn()
        returns (rows, columns) of the job's output, or (None, None)."""
        raise NotImplementedError

    def check(self, results: list[JobResult]) -> None:
        raise NotImplementedError

    def extra_metrics(self) -> dict[str, float]:
        return {}

    def duck(self) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in self.tables:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return con

    def compare(self, r: JobResult, drows: list[tuple], dcols: list[str]) -> bool:
        if r.error is not None or r.rows is None:
            return False
        return (
            len(r.rows) == len(drows)
            and sorted(r.cols) == sorted(dcols)
            and self.parity.value_hash(r.rows, r.cols) == self.parity.value_hash(drows, dcols)
        )


class RegistryWorkload(Workload):
    """Jobs are operator-registry queries, each run to a collected result.
    The order is fixed, the same for every seed: the seed varies the data,
    not the sequence the JVM profiles and compiles."""

    # job name → the tables it reads, in submission order
    job_tables: dict[str, tuple[str, ...]] = {}

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from grapefruit_spark.operators import all_oracles, all_queries

        self.registry = all_queries()
        self.oracles = all_oracles()

    def _run_query(self, qname: str):
        fn = self.registry[qname]
        with self.tracer.span("operators", f"operators.{qname}"):
            df = fn(self.spark, self.sf_dir)
        with self.tracer.span("engine", "engine.collect"):
            rows = df.collect()
        return [tuple(r) for r in rows], list(df.columns)

    def jobs(self, cycle: int):
        for q in self.job_tables:
            yield q, self.table_mb(*self.job_tables[q]), (lambda q=q: self._run_query(q)), {}

    def check(self, results: list[JobResult]) -> None:
        con = self.duck()
        expected = {}
        for name in {r.name for r in results}:
            rel = con.sql(self.oracles[name])
            expected[name] = ([tuple(x) for x in rel.fetchall()], list(rel.columns))
        for r in results:
            r.ok = self.compare(r, *expected[r.name])


class MrReference(RegistryWorkload):
    name = "mr_reference"
    tables = ("documents", "lineitem", "events")
    cycle_s = 8.0
    job_tables = {
        "mj_wordcount": ("documents",),
        "mj_exe_wordcount": ("documents",),
        "webgraph_inlinks": ("lineitem",),
        "condorcet_pairs": ("lineitem",),
        "condorcet_winner": ("lineitem",),
        "mj_range_topkeys": ("events",),
    }


class QueryMix(RegistryWorkload):
    name = "query_mix"
    tables = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents")
    cycle_s = 12.0
    job_tables = {
        "q1_pricing_summary": ("lineitem",),
        "q3_shipping_priority": ("lineitem", "orders", "customer"),
        "q5_local_supplier": ("lineitem", "orders", "customer", "supplier", "nation",
                              "region"),
        "q18_large_volume": ("lineitem", "orders", "customer"),
        "events_sessionize": ("events",),
        "dedup_minhash": ("documents",),
        "dedup_clusters": ("documents",),
        "bm25_search": ("documents",),
    }


def _aggregate_fns():
    """The landing-zone aggregate as maple/juice pandas functions. Built
    in a function so cloudpickle ships them by value to the workers,
    which cannot import this benchmark's modules."""
    import pandas as pd

    def maple_fn(pdf):
        g = pdf.groupby("cat").agg(
            n=("id", "size"), qty=("qty", "sum"), amount=("amount_cents", "sum")
        ).reset_index()
        return pd.DataFrame({
            "key": g["cat"], "n": g["n"].astype("int64"),
            "qty": g["qty"].astype("int64"), "amount": g["amount"].astype("int64"),
        })

    def juice_fn(key, grp):
        return pd.DataFrame({
            "cat": [key], "n": [int(grp["n"].sum())], "qty": [int(grp["qty"].sum())],
            "amount": [int(grp["amount"].sum())],
        })

    return maple_fn, juice_fn


AGG_SQL = """
SELECT cat, count(*)::BIGINT AS n, sum(qty)::BIGINT AS qty,
       sum(amount_cents)::BIGINT AS amount
FROM landing GROUP BY cat
"""


class SdfsIngest(Workload):
    name = "sdfs_ingest"
    cycle_s = 12.0
    TABLE = "landing"
    # auto_compact rewrites a dataset once it holds more part files than this
    MAX_FILES = 3
    TARGET_FILES = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rounds = self.manifest["params"]["rounds"]
        self.fs = None
        self.cycle_dir = None
        self.files_max = 0
        self.last_files = 0
        self.stored_bytes = 0
        self.maple_fn, self.juice_fn = _aggregate_fns()

    def begin_cycle(self, cycle: int) -> None:
        from grapefruit_spark.sdfs import Sdfs

        if self.cycle_dir is not None:
            shutil.rmtree(self.cycle_dir, ignore_errors=True)
        self.cycle_dir = os.path.join(self.work_dir, f"warehouse-{cycle}")
        self.fs = Sdfs(self.spark, self.cycle_dir)

    def end_cycle(self, cycle: int) -> None:
        self.stored_bytes = dir_bytes(self.cycle_dir)

    def _read(self, name: str):
        return self.spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet"))

    def _put(self, r: int):
        mode = "overwrite" if r == 0 else "append"
        self.fs.put(self._read(f"batch_{r}"), self.TABLE, mode=mode)
        return None, None

    def _merge(self, r: int):
        self.fs.merge(self.TABLE, self._read(f"updates_{r}"), ["id"])
        return None, None

    def _namespace(self):
        counts = self.fs.global_()
        self.last_files = len(self.fs.ls(self.TABLE))
        self.files_max = max(self.files_max, self.last_files)
        return [(counts.get(self.TABLE, 0), self.last_files)], ["global_files", "ls_files"]

    def _compact(self):
        # the warm-up pass compacts below the threshold too
        done = self.fs.auto_compact(min(self.MAX_FILES, self.last_files - 1), self.TARGET_FILES)
        return [tuple(sorted(done.items()))], ["compacted"]

    def _pipeline(self):
        from grapefruit_spark.maplejuice import MapleJuicePipeline

        (
            MapleJuicePipeline(self.fs.get(self.TABLE), self.fs)
            .maple(self.maple_fn, "key string, n bigint, qty bigint, amount bigint",
                   dest_name="agg_kv")
            .juice(self.juice_fn, "cat string, n bigint, qty bigint, amount bigint",
                   dest_name="agg_out", delete_input=True)
        )
        return None, None

    def _get(self):
        df = self.fs.get("agg_out")
        return [tuple(r) for r in df.collect()], list(df.columns)

    def jobs(self, cycle: int):
        """A cycle lands every round; the warm-up pass (cycle -1) lands
        round 0 and compacts it, one of each job type."""
        warm = cycle < 0
        for r in range(1 if warm else self.rounds):
            meta = {"round": r}
            yield "put", self.table_mb(f"batch_{r}"), (lambda r=r: self._put(r)), meta
            yield "merge", self.table_mb(f"updates_{r}"), (lambda r=r: self._merge(r)), meta
            yield "namespace", 0.0, self._namespace, meta
            # a generator: last_files is read after the namespace job ran
            if warm or self.last_files > self.MAX_FILES:
                yield "compact", 0.0, self._compact, meta
            yield "pipeline", 0.0, self._pipeline, meta
            yield "get", 0.0, self._get, meta

    def check(self, results: list[JobResult]) -> None:
        # replay the puts and merges in DuckDB, round by round
        con = duckdb.connect()
        con.sql(f"CREATE TABLE landing AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sf_dir, 'batch_0.parquet')}') LIMIT 0")
        expected_agg = []
        for r in range(self.rounds):
            b = os.path.join(self.sf_dir, f"batch_{r}.parquet")
            u = os.path.join(self.sf_dir, f"updates_{r}.parquet")
            con.sql(f"INSERT INTO landing SELECT * FROM read_parquet('{b}')")
            con.sql(f"DELETE FROM landing WHERE id IN (SELECT id FROM read_parquet('{u}'))")
            con.sql(f"INSERT INTO landing SELECT * FROM read_parquet('{u}')")
            rel = con.sql(AGG_SQL)
            expected_agg.append(([tuple(x) for x in rel.fetchall()], list(rel.columns)))
        final = con.sql("SELECT * FROM landing")
        final_rows = [tuple(x) for x in final.fetchall()]
        final_cols = list(final.columns)
        self.surviving_bytes = logical_bytes(final.arrow())
        # the landing table the last cycle left behind
        stored = self.fs.get(self.TABLE)
        last = JobResult("final_table", -1, 0.0, 0.0,
                         [tuple(x) for x in stored.collect()], list(stored.columns))
        final_ok = self.compare(last, final_rows, final_cols)
        last_cycle = max(r.cycle for r in results)
        for r in results:
            if r.error is not None:
                r.ok = False
            elif r.name == "get":
                r.ok = self.compare(r, *expected_agg[r.meta["round"]])
            elif r.name in ("put", "merge") and r.cycle == last_cycle:
                r.ok = final_ok
            else:
                r.ok = True

    def extra_metrics(self) -> dict[str, float]:
        return {
            "files_max": float(self.files_max),
            "stored_bytes_per_user_byte": self.stored_bytes / self.surviving_bytes,
        }


WORKLOADS = {w.name: w for w in (MrReference, SdfsIngest, QueryMix)}


def run_cycle(wl: Workload, cycle: int, results: list[JobResult], after_job=None) -> None:
    """Run one cycle of ``wl``, one job at a time, appending to ``results``."""
    wl.begin_cycle(cycle)
    for name, input_mb, fn, meta in wl.jobs(cycle):
        res = JobResult(name, cycle, 0.0, input_mb, meta=meta)
        t0 = time.perf_counter()
        try:
            with wl.tracer.span("job", name):
                res.rows, res.cols = fn()
        except Exception as e:  # noqa: BLE001 — a failed job is counted, not fatal
            res.error = f"{type(e).__name__}: {e}"[:500]
            traceback.print_exc(file=sys.stderr)
        res.seconds = time.perf_counter() - t0
        results.append(res)
        if after_job is not None:
            after_job(res)
    wl.end_cycle(cycle)
