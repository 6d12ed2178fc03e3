from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from grapefruit_spark.maplejuice import (
    MapleJuicePipeline,
    juice,
    juice_agg,
    maple,
    maple_expr,
)
from grapefruit_spark.operators import mapreduce_apps
from grapefruit_spark.sdfs import Sdfs

from .conftest import SF_DIR
from .util import assert_matches_oracle


@pytest.mark.parametrize("name", sorted(mapreduce_apps.ORACLE))
def test_app_matches_oracle(spark, duck, name):
    sdf = mapreduce_apps.QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(sdf, duck, mapreduce_apps.ORACLE[name])


@pytest.mark.parametrize("shuffle", ["hash", "range"])
def test_maple_juice_generic(spark, shuffle):
    df = spark.createDataFrame(
        [("a b a",), ("b c",), ("a",)], ["text"]
    )

    def m(pdf: pd.DataFrame) -> pd.DataFrame:
        words = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": words, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"word": [key], "cnt": [int(grp["value"].sum())]})

    kv = maple(df, m, "key string, value int", num_maples=3)
    out = juice(kv, j, "word string, cnt bigint", shuffle=shuffle, num_juices=2)
    got = {r["word"]: r["cnt"] for r in out.collect()}
    assert got == {"a": 3, "b": 2, "c": 1}


def test_declarative_fast_path(spark):
    df = spark.range(100)
    kv = maple_expr(df, key=(F.col("id") % 3), value=F.col("id"))
    out = juice_agg(kv, F.sum("value").alias("total"))
    got = {r["key"]: r["total"] for r in out.collect()}
    assert got[0] == sum(i for i in range(100) if i % 3 == 0)
    # declarative path stays in codegen — no Python evaluation in the plan
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan


def test_pipeline_chaining(spark):
    df = spark.createDataFrame([("x y",), ("y",)], ["text"])

    def m(pdf):
        w = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": w, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = (
        MapleJuicePipeline(df)
        .maple(m, "key string, value int")
        .juice(j, "key string, value int")
        # second stage: filter keys seen ≥ 1 time, re-reduce (chaining)
        .juice(j, "key string, value int", shuffle="range")
        .done()
    )
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"x": 1, "y": 2}


def test_juice_rejects_bad_shuffle(spark):
    df = spark.createDataFrame([("a", 1)], ["key", "value"])
    with pytest.raises(ValueError, match="shuffle"):
        juice(df, lambda k, g: None, "key string", shuffle="zigzag")


def test_sdfs_roundtrip(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh"))
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    fs.put(df, "numbers")
    assert fs.exists("numbers")
    assert fs.store() == ["numbers"]
    assert len(fs.ls("numbers")) >= 1
    got = fs.get("numbers")
    assert got.count() == 10
    assert fs.global_()["numbers"] == len(fs.ls("numbers"))
    assert fs.delete("numbers") is True
    assert fs.store() == []
    with pytest.raises(FileNotFoundError):
        fs.get("numbers")
    with pytest.raises(ValueError):
        fs.put(df, "../escape")


def test_sdfs_partitioned_put(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh2"))
    df = spark.range(20).withColumn("bucket", (F.col("id") % 2).cast("int"))
    fs.put(df, "bucketed", partition_by=["bucket"])
    got = fs.get("bucketed").where(F.col("bucket") == 1)
    assert got.count() == 10


def test_pipe_wordcount_matches_declarative(spark, tmp_path):
    """The reference's arbitrary-executable contract end-to-end: a real
    mapper/reducer pair of external python programs, hadoop-streaming
    line protocol, hash-shuffled sorted reduce."""
    import sys

    from grapefruit_spark.catalog import table
    from grapefruit_spark.functions import ws_tokens
    from grapefruit_spark.maplejuice import juice_pipe, maple_pipe

    mapper = tmp_path / "wc_maple.py"
    mapper.write_text(
        "import sys\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(f'{w}\\t1')\n"
    )
    reducer = tmp_path / "wc_juice.py"
    reducer.write_text(
        "import sys\n"
        "cur, acc = None, 0\n"
        "def flush():\n"
        "    if cur is not None:\n"
        "        print(f'{cur}\\t{acc}')\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t', 1)\n"
        "    if k != cur:\n"
        "        flush(); cur, acc = k, 0\n"
        "    acc += int(v)\n"
        "flush()\n"
    )

    docs = table(spark, SF_DIR, "documents").select("text")
    kv = maple_pipe(docs, f"{sys.executable} {mapper}")
    out = juice_pipe(kv, f"{sys.executable} {reducer}", num_juices=4)
    got = {r["key"]: int(r["value"]) for r in out.collect()}

    want = {
        r["w"]: r["n"]
        for r in docs.select(F.explode(ws_tokens(F.col("text"))).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_sdfs_compact_small_files(spark, tmp_path):
    """Compaction heals a fragmented dataset: same rows, target file count."""
    from grapefruit_spark.catalog import table

    fs = Sdfs(spark, str(tmp_path / "wh"))
    docs = table(spark, SF_DIR, "documents")
    fs.put(docs.repartition(16), "frag")
    assert len(fs.ls("frag")) == 16
    n_files = fs.compact("frag", 2)
    assert n_files == 2
    got = fs.get("frag")
    assert got.count() == docs.count()
    assert {r["doc_id"] for r in got.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


def test_pipeline_delete_input_reclaims_intermediate(spark, tmp_path):
    """Materialized maple→juice chaining with delete_input=1: the juice
    output lands in the SDFS namespace BEFORE the consumed intermediate
    is deleted, and afterwards the intermediate is gone — the reference's
    `juice ... delete_input={0,1}` contract (JuiceJob.java:12)."""
    fs = Sdfs(spark, str(tmp_path / "wh"))
    df = spark.createDataFrame([("x y",), ("y",)], ["text"])

    def m(pdf):
        w = pdf["text"].str.split().explode()
        return pd.DataFrame({"key": w, "value": 1})

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = (
        MapleJuicePipeline(df, fs=fs)
        .maple(m, "key string, value int", dest_name="wc_inter")
        .juice(j, "key string, value int", dest_name="wc_out", delete_input=True)
        .done()
    )
    assert {r["key"]: r["value"] for r in out.collect()} == {"x": 1, "y": 2}
    assert not fs.exists("wc_inter"), "delete_input must reclaim the intermediate"
    assert fs.exists("wc_out")
    # lazy mode refuses the flag instead of silently ignoring it
    with pytest.raises(ValueError, match="delete_input"):
        MapleJuicePipeline(df).maple(m, "key string, value int").juice(
            j, "key string, value int", delete_input=True
        )


def test_juice_fn_delete_input(spark, tmp_path):
    """Same contract on the bare juice() entry point."""
    from grapefruit_spark.maplejuice import juice

    fs = Sdfs(spark, str(tmp_path / "wh2"))
    kv = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], ["key", "value"])
    fs.put(kv, "inter")

    def j(key, grp):
        return pd.DataFrame({"key": [key], "value": [int(grp["value"].sum())]})

    out = juice(
        fs.get("inter"), j, "key string, value bigint",
        fs=fs, src_name="inter", dest_name="dest", delete_input=True,
    )
    assert {r["key"]: r["value"] for r in out.collect()} == {"a": 3, "b": 3}
    assert not fs.exists("inter")


def test_sdfs_merge_upsert(spark, tmp_path):
    """MERGE semantics: updated keys replaced, new keys inserted,
    untouched keys preserved; merge into a missing dataset creates it."""
    fs = Sdfs(spark, str(tmp_path / "wh3"))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, tag string, v double"
    )
    fs.merge("t", base, ["k"])  # create-on-missing
    updates = spark.createDataFrame(
        [(2, "b2", 21.0), (4, "d", 40.0)], "k long, tag string, v double"
    )
    fs.merge("t", updates, ["k"])
    got = {r["k"]: (r["tag"], r["v"]) for r in fs.get("t").collect()}
    assert got == {1: ("a", 10.0), 2: ("b2", 21.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_sdfs_auto_compact_policy(spark, tmp_path):
    """Only fragmented datasets get rewritten; healthy ones untouched."""
    fs = Sdfs(spark, str(tmp_path / "wh4"))
    frag = spark.range(100).repartition(24)
    fs.put(frag, "fragmented")
    fs.put(spark.range(100).repartition(2), "healthy")
    before_healthy = fs.ls("healthy")
    done = fs.auto_compact(max_files=16, target_files=4)
    assert set(done) == {"fragmented"}
    assert done["fragmented"] <= 4
    assert fs.ls("healthy") == before_healthy
    assert fs.get("fragmented").count() == 100


def test_sdfs_merge_empty_updates_is_noop(spark, tmp_path):
    fs = Sdfs(spark, str(tmp_path / "wh5"))
    base = spark.createDataFrame([(1, 10.0)], "k long, v double")
    fs.put(base, "t")
    fs.merge("t", base.where("k < 0"), ["k"])  # empty update set
    assert {(r["k"], r["v"]) for r in fs.get("t").collect()} == {(1, 10.0)}


def _keyed(spark, n_keys: int = 48, rows: int = 2000):
    return spark.range(rows).selectExpr(
        f"cast(id % {n_keys} as string) as key", "id as value"
    )


def _count_juice(key, grp):
    return pd.DataFrame({"key": [key], "n": [len(grp)]})


@pytest.mark.parametrize("shuffle", ["hash", "range"])
def test_juice_explicit_num_juices_is_exact(spark, shuffle):
    """An explicit num_juices is the reference CLI's reducer count: AQE
    must not coalesce it, on either placement."""
    out = juice(_keyed(spark), _count_juice, "key string, n bigint",
                num_juices=7, shuffle=shuffle)
    assert out.rdd.getNumPartitions() == 7
    assert sum(r["n"] for r in out.collect()) == 2000


@pytest.mark.parametrize("shuffle", ["hash", "range"])
def test_juice_default_fan_out_is_adaptive(spark, shuffle):
    """Without num_juices the reducers come from the shuffle bytes, not
    the static spark.sql.shuffle.partitions."""
    out = juice(_keyed(spark), _count_juice, "key string, n bigint", shuffle=shuffle)
    rows = out.collect()
    assert len(rows) == 48 and sum(r["n"] for r in rows) == 2000
    static = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert out.rdd.getNumPartitions() <= spark.sparkContext.defaultParallelism < static


def test_pipeline_default_juice_writes_few_files(spark, tmp_path):
    """A materialized juice with no num_juices lands small input as at
    most defaultParallelism part files, not one per static shuffle
    partition (which fragmented the output and fed auto_compact)."""
    fs = Sdfs(spark, str(tmp_path / "wh"))
    fs.put(_keyed(spark), "kv")
    out = (
        MapleJuicePipeline(fs.get("kv"), fs, "kv")
        .juice(_count_juice, "key string, n bigint", dest_name="counts")
        .done()
    )
    assert {r["key"]: r["n"] for r in out.collect()} == {
        str(k): len(range(k, 2000, 48)) for k in range(48)
    }
    assert 1 <= len(fs.ls("counts")) <= spark.sparkContext.defaultParallelism


def _ragged_juice(key, grp):
    """None, empty, multi-row and null-valued outputs, chosen by key."""
    k = int(key)
    if k % 5 == 0:
        return None
    if k % 5 == 1:
        return pd.DataFrame({"key": [], "v": []})
    if k % 5 == 2:
        return pd.DataFrame({"key": [key] * 3, "v": [k, None, k + 1]})
    if k % 5 == 3:
        return pd.DataFrame({"key": [key], "v": [None]})
    return pd.DataFrame({"key": [key], "v": [int(grp["value"].sum())]})


def _ragged_expected():
    want = []
    for k in range(48):
        key = str(k)
        if k % 5 == 2:
            want += [(key, k), (key, None), (key, k + 1)]
        elif k % 5 == 3:
            want.append((key, None))
        elif k % 5 == 4:
            want.append((key, sum(range(k, 2000, 48))))
    return want


@pytest.mark.parametrize("max_batch", ["10000", "2"])
@pytest.mark.parametrize("num_juices", [None, 3])
def test_juice_batched_output_keeps_rows(spark, max_batch, num_juices):
    """Per-key outputs are concatenated into one batch per partition
    (flushed early at maxRecordsPerBatch rows); None, empty frames,
    multi-row frames and nulls must come out exactly as per-key yields
    did."""
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, max_batch)
    try:
        out = juice(_keyed(spark), _ragged_juice, "key string, v bigint",
                    num_juices=num_juices)
        got = sorted(((r["key"], r["v"]) for r in out.collect()),
                     key=lambda t: (t[0], t[1] is None, t[1] or 0))
    finally:
        spark.conf.set(conf, prev)
    want = sorted(_ragged_expected(), key=lambda t: (t[0], t[1] is None, t[1] or 0))
    assert got == want


def test_sdfs_compact_clears_stale_retired(spark, tmp_path):
    """compact swaps in by two renames like put/merge: a stale
    ``__retired`` generation from a crash is replaced, and no staging
    directory is left behind."""
    import os

    fs = Sdfs(spark, str(tmp_path / "wh"))
    fs.put(spark.range(100).repartition(8), "t")
    stale = os.path.join(fs.warehouse, "t__retired")
    os.makedirs(stale)
    open(os.path.join(stale, "part-00000.parquet"), "w").close()
    assert fs.compact("t", 2) == 2
    assert fs.get("t").count() == 100
    assert sorted(os.listdir(fs.warehouse)) == ["t"]


def test_sdfs_namespace_hides_staging_dirs(spark, tmp_path):
    """Leftover put/merge/compact staging directories are not datasets:
    store/global_ skip them, so auto_compact never rewrites one."""
    import os

    fs = Sdfs(spark, str(tmp_path / "wh"))
    fs.put(spark.range(10).repartition(2), "t")
    for suffix in ("__putting", "__merging", "__compacting", "__retired"):
        spark.range(10).repartition(20).write.parquet(
            os.path.join(fs.warehouse, f"t{suffix}")
        )
    assert fs.store() == ["t"]
    assert set(fs.global_()) == {"t"}
    assert fs.auto_compact(max_files=1, target_files=1) == {"t": 1}
    assert os.path.isdir(os.path.join(fs.warehouse, "t__putting"))


@pytest.mark.parametrize("bad", ["", "x__retired", "x__putting", "x__delta"])
def test_sdfs_rejects_empty_and_staging_names(spark, tmp_path, bad):
    """An empty name is the warehouse root itself, and a staging-suffixed
    name is hidden by store() and clobbered by the next swap of its base
    dataset: put and delete refuse both before touching the disk."""
    fs = Sdfs(spark, str(tmp_path / "wh"))
    fs.put(spark.range(3), "keep")
    with pytest.raises(ValueError, match="invalid sdfs name"):
        fs.put(spark.range(3), bad)
    with pytest.raises(ValueError, match="invalid sdfs name"):
        fs.delete(bad)
    assert fs.store() == ["keep"]
    assert fs.get("keep").count() == 3


def test_juice_pipe_rejects_zero_reducers(spark):
    """A shuffle into 0 partitions returns no rows instead of failing, so
    juice_pipe refuses num_juices < 1 up front."""
    import sys

    from grapefruit_spark.maplejuice import juice_pipe

    kv = spark.createDataFrame([("a", "1")], "key string, value string")
    with pytest.raises(ValueError, match="num_juices"):
        juice_pipe(kv, f"{sys.executable} -c pass", num_juices=0)


def test_write_script_atomic_and_idempotent(tmp_path):
    """Exe scripts are swapped in whole and not rewritten when unchanged."""
    import os

    from grapefruit_spark.operators.mapreduce_apps import write_script

    path = str(tmp_path / "s.py")
    with open(path, "w") as f:
        f.write("stale")
    write_script(path, "print(1)\n")
    assert open(path).read() == "print(1)\n"
    before = os.stat(path).st_ino, os.stat(path).st_mtime_ns
    write_script(path, "print(1)\n")
    assert (os.stat(path).st_ino, os.stat(path).st_mtime_ns) == before
    assert os.listdir(tmp_path) == ["s.py"]
