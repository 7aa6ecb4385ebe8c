"""Merge-on-read StateStore: O(wave) write amplification, compaction,
version GC, newest-wins resolution, and pointer-swap crash safety."""

import glob
import json
import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from httpz_spark.plans.statestore import StateStore


@pytest.fixture()
def root():
    d = tempfile.mkdtemp(prefix="httpz_store_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _dir_bytes(path):
    return sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(p)
    )


def test_merge_writes_only_the_delta(spark, root):
    """The headline scale property: merging a small wave into a large seen
    table writes O(wave) bytes, NOT O(table) (the round-1 design rewrote
    the full table per wave)."""
    store = StateStore(spark, root)
    base = spark.range(1_000_000).select(
        F.col("id").alias("url_hash"), F.lit(0).alias("first_wave")
    )
    store.merge_upsert("seen", base, key="url_hash")
    before = _dir_bytes(os.path.join(root, "seen"))

    wave = spark.range(1_000_000, 1_001_000).select(
        F.col("id").alias("url_hash"), F.lit(1).alias("first_wave")
    )
    store.merge_upsert("seen", wave, key="url_hash")
    after = _dir_bytes(os.path.join(root, "seen"))
    written = after - before
    assert written < before / 10, (written, before)  # delta, not a rewrite
    assert store.read("seen").count() == 1_001_000


def test_newest_delta_wins_resolution(spark, root):
    store = StateStore(spark, root)
    store.merge_upsert(
        "t", spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), key="k"
    )
    store.merge_upsert(
        "t", spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"), key="k"
    )
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {1: "a", 2: "B", 3: "c"}


def test_compaction_bounds_delta_chain(spark, root):
    store = StateStore(spark, root, compact_every=4)
    for i in range(10):
        store.merge_upsert(
            "t", spark.createDataFrame([(i, i * 10)], "k long, v long"), key="k"
        )
    v = store.latest_version("t")
    manifest = store._read_manifest("t", v)
    assert len(manifest["deltas"]) <= 4
    got = {r["k"]: r["v"] for r in store.read("t").collect()}
    assert got == {i: i * 10 for i in range(10)}


def test_gc_prunes_old_versions_keeping_previous(spark, root):
    store = StateStore(spark, root, compact_every=3)
    for i in range(8):
        store.merge_upsert(
            "t", spark.createDataFrame([(i, i)], "k long, v long"), key="k"
        )
    tdir = os.path.join(root, "t")
    manifests = [f for f in os.listdir(tdir) if f.startswith("v=")]
    v = store.latest_version("t")
    # only current + previous manifests retained
    assert sorted(manifests) == [f"v={v - 1}.json", f"v={v}.json"]
    # every surviving delta is referenced by one of the two live manifests
    live = set(store._read_manifest("t", v)["deltas"]) | set(
        store._read_manifest("t", v - 1)["deltas"]
    )
    on_disk = {f for f in os.listdir(tdir) if f.startswith("delta-")}
    assert on_disk == live
    assert store.read("t").count() == 8


def test_kill_before_pointer_swap_leaves_previous_readable(spark, root):
    store = StateStore(spark, root)
    store.write("t", spark.createDataFrame([(1,)], "k long"))
    # simulate a crash: delta + manifest of v2 land, pointer never swaps
    df = spark.createDataFrame([(2,)], "k long")
    store._write_delta("t", df, 2, "merge")
    store._write_manifest("t", 2, {"deltas": ["delta-000002-merge"], "key": None})
    assert store.latest_version("t") == 1
    assert store.read("t").count() == 1  # previous snapshot intact
    # the idempotent re-run overwrites v2 cleanly
    store.write("t", spark.createDataFrame([(2,), (3,)], "k long"))
    assert store.read("t").count() == 2


def test_append_accumulates(spark, root):
    store = StateStore(spark, root, compact_every=3)
    for i in range(7):
        store.append("lineage", spark.createDataFrame([(i,)], "wave_id int"))
    rows = sorted(r["wave_id"] for r in store.read("lineage").collect())
    assert rows == list(range(7))


def _merge_schema_read(spark, store, name):
    """What a footer-merging read of the table's live deltas returns —
    the schema the manifest must record."""
    m = store._read_manifest(name, store.latest_version(name))
    paths = [os.path.join(store.root, name, d) for d in m["deltas"]]
    return spark.read.option("mergeSchema", "true").parquet(*paths)


def _strip_schemas(root, name):
    """Rewrite every manifest of ``name`` as an older build wrote it."""
    for path in glob.glob(os.path.join(root, name, "v=*.json")):
        with open(path) as f:
            m = json.load(f)
        m.pop("schema", None)
        with open(path, "w") as f:
            json.dump(m, f)


def _schema(store, name):
    """The schema a read by the manifest's recorded schema returns."""
    m = store._read_manifest(name, store.latest_version(name))
    return store._scan(name, m).schema if "schema" in m else None


def test_recorded_schema_equals_merge_schema_read(spark, root):
    """Deltas that differ in columns read back as their union with NULLs,
    in exactly the names, order and dtypes a mergeSchema read returns:
    payload columns added (in a different order) by a later delta, and a
    merge_delete's ``_tomb`` delta."""
    store = StateStore(spark, root)
    store.merge_upsert("t", spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"), key="k")
    store.merge_upsert("t", spark.createDataFrame(
        [(2, b"x", "B", {"n": 1.5})],
        "k long, blob binary, v string, m map<string,double>"), key="k")
    assert _schema(store, "t") == _merge_schema_read(spark, store, "t").schema
    assert store.read("t").columns == ["k", "v", "blob", "m"]
    got = {r["k"]: (r["v"], r["blob"], r["m"]) for r in store.read("t").collect()}
    assert got == {1: ("a", None, None), 2: ("B", b"x", {"n": 1.5}),
                   3: ("c", None, None)}

    store.merge_delete("t", spark.createDataFrame([(3,)], "k long"), key="k")
    assert _schema(store, "t") == _merge_schema_read(spark, store, "t").schema
    assert _schema(store, "t").fieldNames()[-1] == "_tomb"
    assert store.read("t").columns == ["k", "v", "blob", "m"]
    assert sorted(r["k"] for r in store.read("t").collect()) == [1, 2]


def test_recorded_schema_survives_append_merge_and_compaction(spark, root):
    """The schema rides every commit: appends that add columns, upserts,
    and the compactions both trigger — always equal to the mergeSchema
    read of the live deltas, and the rows equal across compactions."""
    store = StateStore(spark, root, compact_every=3)
    for i in range(5):
        df = spark.createDataFrame([(i,)], "wave_id int")
        if i >= 2:
            df = df.withColumn("phase_secs", F.create_map(
                F.lit("fetch"), F.lit(float(i))))
        store.append("lineage", df)
        assert _schema(store, "lineage") == \
            _merge_schema_read(spark, store, "lineage").schema, i
    deltas = store._read_manifest("lineage", store.latest_version("lineage"))["deltas"]
    assert any(d.endswith("-compact") for d in deltas)
    rows = sorted((r["wave_id"], r["phase_secs"])
                  for r in store.read("lineage").collect())
    assert rows == [(0, None), (1, None)] + [(i, {"fetch": float(i)})
                                            for i in range(2, 5)]

    for i in range(5):
        store.merge_upsert("s", spark.createDataFrame(
            [(i, i * 10, "x" * i)], "k long, v long, w string").drop(
                *(["w"] if i < 2 else [])), key="k")
        assert _schema(store, "s") == _merge_schema_read(spark, store, "s").schema, i
    assert {r["k"]: r["w"] for r in store.read("s").collect()} == {
        0: None, 1: None, 2: "xx", 3: "xxx", 4: "xxxx"}


def test_manifest_without_schema_reads_and_records_one_on_commit(spark, root):
    """State an older build committed (no ``schema`` in its manifests)
    reads correctly by merging footers, and the next commit records the
    schema — for merge_upsert, append and write alike."""
    store = StateStore(spark, root)
    store.merge_upsert("t", spark.createDataFrame([(1, "a")], "k long, v string"), key="k")
    store.merge_upsert("t", spark.createDataFrame(
        [(2, "b", 7)], "k long, v string, n int"), key="k")
    store.append("l", spark.createDataFrame([(0,)], "wave_id int"))
    store.write("w", spark.createDataFrame([(0,)], "x int"))
    want = _merge_schema_read(spark, store, "t").schema
    for name in ("t", "l", "w"):
        _strip_schemas(root, name)
    assert sorted(tuple(r) for r in store.read("t").collect()) == [
        (1, "a", None), (2, "b", 7)]

    store.merge_upsert("t", spark.createDataFrame([(1, "A")], "k long, v string"), key="k")
    assert _schema(store, "t") == want
    assert sorted(tuple(r) for r in store.read("t").collect()) == [
        (1, "A", None), (2, "b", 7)]
    store.append("l", spark.createDataFrame([(1,)], "wave_id int"))
    assert _schema(store, "l") == _merge_schema_read(spark, store, "l").schema
    assert sorted(r["wave_id"] for r in store.read("l").collect()) == [0, 1]
    store.write("w", spark.createDataFrame([(1,)], "x int"))
    assert _schema(store, "w") == _merge_schema_read(spark, store, "w").schema


def test_read_launches_no_spark_job(spark, root, job_group):
    """Resolving a snapshot whose manifest records its schema plans the
    read without touching a data file: no Spark job.  The footer-merging
    read of an older manifest does launch one (the counter is live)."""
    store = StateStore(spark, root)
    store.merge_upsert("t", spark.createDataFrame([(1, "a")], "k long, v string"), key="k")
    store.merge_upsert("t", spark.createDataFrame(
        [(2, "b", 7)], "k long, v string, n int"), key="k")
    with job_group("statestore-read-schema") as jobs:
        df = store.read("t")
        assert df.columns == ["k", "v", "n"]
        assert jobs() == []
    _strip_schemas(root, "t")
    with job_group("statestore-read-merge") as jobs:
        store.read("t")
        assert len(jobs()) >= 1
