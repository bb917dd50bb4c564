"""Tests for the source/sink surface: the parquet catalog's schema memo
and round trips through the non-parquet sources and sinks."""

from __future__ import annotations

import os
import shutil
import time
import uuid
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F

from big_data_audio_classification_spark.sources import readers
from big_data_audio_classification_spark.sources.catalog import (
    TABLES,
    load_table,
    normalize_events_ts,
)

# The olap benchmark workload's queries (perfbench/workloads.py).
OLAP_QUERIES = (
    "pricing_summary",
    "join_inner_revenue_by_nation",
    "agg_count_distinct",
    "window_lag_lead_events",
    "tpch_q3_shipping_priority",
)


def _jobs_by_group(spark, run):
    """Call ``run(in_group)``, where ``in_group(g)`` puts the Spark jobs
    that follow in job group ``g``, and return {group: job ids}. A
    sentinel job closes the run: once the status tracker lists it, it
    lists every earlier job too (the listener bus delivers in order).
    Group ids are unique per call, so no earlier call's jobs are seen."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    prefix = f"{uuid.uuid4().hex}/"
    groups = []

    def in_group(group):
        groups.append(group)
        sc.setJobGroup(prefix + group, group)

    try:
        run(in_group)
        in_group("sentinel")
        spark.range(1).count()
    finally:
        sc._jsc.clearJobGroup()
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(prefix + "sentinel"):
        assert time.time() < deadline, "sentinel job never reached the status tracker"
        time.sleep(0.05)
    return {g: list(tracker.getJobIdsForGroup(prefix + g)) for g in groups}


def test_memoized_load_matches_plain_read(spark, sf_dir):
    """Once a table's schema is memoized, load_table returns exactly what
    a plain inferring read returns: same schema, same rows."""
    for name in TABLES:
        load_table(spark, sf_dir, name)
        memo = load_table(spark, sf_dir, name)
        plain = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if name == "events":
            plain = normalize_events_ts(plain)
        assert memo.schema == plain.schema, name
        assert sorted(map(repr, memo.collect())) == sorted(
            map(repr, plain.collect())
        ), name


def test_memoized_load_launches_no_job(spark, sf_dir, tmp_path):
    """The first load of a file infers its schema with a Spark job; every
    later load of the same file launches none."""
    shutil.copyfile(f"{sf_dir}/events.parquet", tmp_path / "events.parquet")

    def run(in_group):
        in_group("infer")
        load_table(spark, str(tmp_path), "events")
        for name in TABLES:
            load_table(spark, sf_dir, name)
        in_group("memo")
        load_table(spark, str(tmp_path), "events")
        for name in TABLES:
            load_table(spark, sf_dir, name)

    jobs = _jobs_by_group(spark, run)
    assert jobs["infer"], "a first load infers its schema with a Spark job"
    assert jobs["memo"] == []


def test_rewritten_table_is_inferred_again(spark, sf_dir, tmp_path):
    """A rewritten file changes its identity, so the next load infers its
    new schema instead of reusing the memoized one."""
    path = tmp_path / "nation.parquet"
    shutil.copyfile(f"{sf_dir}/nation.parquet", path)
    before = load_table(spark, str(tmp_path), "nation")
    assert load_table(spark, str(tmp_path), "nation").columns == before.columns
    t = pq.read_table(path)
    pq.write_table(t.append_column("n_extra", pa.array(range(t.num_rows))), path)
    after = load_table(spark, str(tmp_path), "nation")
    assert after.columns == before.columns + ["n_extra"]
    assert sorted(r.n_extra for r in after.collect()) == list(range(t.num_rows))


def test_concurrent_first_loads_agree(spark, sf_dir, tmp_path):
    """Threads racing on the first loads of the same files all get the
    inferred schema, and the memo keeps one entry per file."""
    from big_data_audio_classification_spark.sources import catalog

    for name in TABLES:
        shutil.copyfile(f"{sf_dir}/{name}.parquet", tmp_path / f"{name}.parquet")
    want = {n: load_table(spark, sf_dir, n).schema for n in TABLES}

    def load_all(_):
        return {n: load_table(spark, str(tmp_path), n).schema for n in TABLES}

    with ThreadPoolExecutor(max_workers=8) as pool:
        got = list(pool.map(load_all, range(16), timeout=300))
    assert all(g == want for g in got)
    root = os.path.realpath(tmp_path) + os.sep
    assert sum(p.startswith(root) for p in catalog._SCHEMAS) == len(TABLES)


def test_olap_query_rebuild_launches_no_job(spark, sf_dir):
    """Building a benchmark query's DataFrame a second time launches no
    Spark job: no schema inference, no eager action inside the fn."""
    from big_data_audio_classification_spark.registry import all_queries

    qs = all_queries()

    def run(in_group):
        in_group("first")
        for name in OLAP_QUERIES:
            qs[name].fn(spark, sf_dir)
        for name in OLAP_QUERIES:
            in_group(f"again/{name}")
            qs[name].fn(spark, sf_dir)

    jobs = _jobs_by_group(spark, run)
    assert {n: jobs[f"again/{n}"] for n in OLAP_QUERIES} == {
        n: [] for n in OLAP_QUERIES
    }


def test_csv_roundtrip_with_header(spark, sf_dir, tmp_path):
    seg = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    path = str(tmp_path / "csv_out")
    readers.write_csv(seg, path)
    back = readers.read_csv(
        spark, path, "c_custkey long, c_name string, c_acctbal double"
    )
    assert back.count() == seg.count()
    a = {(r.c_custkey, r.c_name, round(r.c_acctbal, 2)) for r in seg.collect()}
    b = {(r.c_custkey, r.c_name, round(r.c_acctbal, 2)) for r in back.collect()}
    assert a == b


def test_jsonl_roundtrip(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    path = str(tmp_path / "jsonl_out")
    readers.write_jsonl(ev, path)
    back = readers.read_jsonl(spark, path, "event_id long, event_type string, value double")
    assert back.count() == ev.count()


def test_binary_file_source(spark, tmp_path):
    blobs = {f"rec{i}.bin": bytes([i]) * (10 + i) for i in range(4)}
    for name, data in blobs.items():
        (tmp_path / name).write_bytes(data)
    df = readers.read_binary_files(spark, str(tmp_path), "*.bin")
    rows = df.select("path", "length", "content").collect()
    assert len(rows) == 4
    for r in rows:
        name = r.path.rsplit("/", 1)[-1]
        assert bytes(r.content) == blobs[name]
        assert r.length == len(blobs[name])


def test_partitioned_parquet_prunes(spark, sf_dir, tmp_path):
    """Hive-partitioned layout turns the partition predicate into pruning
    (the scan lists only matching directories)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "part_out")
    readers.write_partitioned_parquet(li, path, ("l_returnflag",))
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "A")
    expected = li.filter(F.col("l_returnflag") == "A").count()
    assert back.count() == expected
    from big_data_audio_classification_spark.plans.introspect import formatted_plan

    assert "PartitionFilters" in formatted_plan(back)


def test_python_datasource_partition_parallel(spark):
    """The Spark 4 Python DataSource generates on executors across the
    declared partitions, with the declared schema."""
    from big_data_audio_classification_spark.sources.python_datasource import (
        make_segments_datasource,
    )

    spark.dataSource.register(make_segments_datasource())
    df = (
        spark.read.format("ref_segments")
        .option("n", 100)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    assert df.schema.simpleString() == "struct<id:bigint,speaker:string,dur:double>"
    rows = df.collect()
    assert len(rows) == 100
    assert sorted(r["id"] for r in rows) == list(range(100))
    assert all(
        r["speaker"] == ("Male" if r["id"] % 2 == 0 else "Female") for r in rows
    )


def test_python_streaming_datasource_drains_deterministically(spark):
    """Spark 4 streaming Python DataSource: offsets advance chunk-wise,
    partitions split each micro-batch across workers, and the drained
    sink holds exactly the deterministic tick set."""
    from big_data_audio_classification_spark.sources.python_datasource import (
        TICK_MAX,
        make_ticks_stream_datasource,
    )

    spark.dataSource.register(make_ticks_stream_datasource())
    q = (
        spark.readStream.format("ticks_stream")
        .load()
        .writeStream.format("memory")
        .queryName("ticks_sink")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("select tick_id, val from ticks_sink").collect()
    assert len(rows) == TICK_MAX
    ids = sorted(r.tick_id for r in rows)
    assert ids == list(range(TICK_MAX))
    assert all(r.val == float((r.tick_id * 3) % 17) for r in rows)


def test_jsonl_sink_writes_one_file_per_partition(spark, tmp_path):
    from big_data_audio_classification_spark.sources.python_datasource import (
        make_jsonl_sink_datasource,
    )

    spark.dataSource.register(make_jsonl_sink_datasource())
    df = spark.range(0, 90).selectExpr(
        "id AS o_orderkey", "'O' AS o_orderstatus", "CAST(id AS DOUBLE) AS total"
    ).repartition(3)
    out = str(tmp_path / "jsonl_out")
    import os

    os.makedirs(out)
    df.write.format("jsonl_sink").option("path", out).mode("append").save()
    files = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert len(files) == 3  # one part file per task
    back = spark.read.schema(
        "o_orderkey bigint, o_orderstatus string, total double"
    ).json(out)
    assert back.count() == 90
    assert back.agg({"total": "sum"}).collect()[0][0] == sum(range(90))


def test_udtf_analyze_schema_tracks_constant_arg(spark, sf_dir):
    """The polymorphic UDTF's analyze() must emit n output columns for
    constant n — 2 for bigrams, 3 for trigrams — plus the aggregate."""
    from big_data_audio_classification_spark.operators import advanced

    df3 = advanced.udtf_analyze_ngrams(spark, sf_dir)
    assert df3.columns == ["g1", "g2", "g3", "cnt"]
    spark.createDataFrame([("a b c d",)], "text string").createOrReplaceTempView(
        "udtf_tiny"
    )
    rows = spark.sql(
        "SELECT * FROM udtf_tiny t, LATERAL word_ngrams(t.text, 2) g"
    ).collect()
    assert {tuple(r)[1:] for r in rows} == {("a", "b"), ("b", "c"), ("c", "d")}


def test_python_datasource_stream_writer_drains_exactly(spark, sf_dir, tmp_path):
    """The pluggable Python streaming sink (DataSourceStreamWriter with
    staged .tmp parts promoted in commit) must surface EXACTLY the
    streamed rows — no leaked staging files, batch-id-stamped finals
    only."""
    import os

    import pyspark.sql.functions as F

    from big_data_audio_classification_spark.sources.python_datasource import (
        make_jsonl_stream_sink_datasource,
    )

    spark.dataSource.register(make_jsonl_stream_sink_datasource())
    src = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    src_dir = str(tmp_path / "stream_src")
    for i in range(3):
        src.filter(F.col("event_id") % 3 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    out_dir = str(tmp_path / "sink_out")
    os.makedirs(out_dir)
    q = (
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.format("jsonl_stream_sink")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    files = sorted(os.listdir(out_dir))
    assert files and all(f.startswith("batch-") and f.endswith(".jsonl") for f in files)
    assert not any(f.endswith(".tmp") for f in files)  # no leaked staging
    batch_ids = {f.split("-")[1] for f in files}
    assert len(batch_ids) == 3  # one commit per micro-batch

    got = (
        spark.read.schema("event_id long, event_type string, value double")
        .json(out_dir)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    )
    want = (
        src.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("s"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
