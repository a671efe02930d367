"""Per-trigger plans reuse their generated code, and the shared store
writer keeps the generation layout.

A ``foreachBatch`` sink plans the same query shape on every trigger,
so after the first triggers every whole-stage class it needs should
come out of Spark's generated-code cache.  Two things used to defeat
that: a cache smaller than one curated-ingest trigger's working set
(``spark.sql.codegen.cache.maxEntries``), and the batch id inlined as
an int literal into the generated source of every store write.  The
JVM's ``CodegenMetrics`` compilation counter shows both."""

from __future__ import annotations

import json
import os
import random
from decimal import Decimal

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eventstream_fanout_spark.operators.enrichment import (
    enrich_events,
    warehouse_typed,
)
from eventstream_fanout_spark.sources.cdc import parse_cdc_envelope, to_cdc_json
from eventstream_fanout_spark.sources.tables import load_table
from eventstream_fanout_spark.streaming.compaction import (
    partition_batch_ids_path,
    write_generation,
)
from eventstream_fanout_spark.streaming.curated_ingest import curated_ingest_sink
from eventstream_fanout_spark.streaming.fanout import (
    FanoutSink,
    parquet_sink,
    start_fanout,
)
from eventstream_fanout_spark.streaming.sources import json_file_stream
from tests.conftest import SF_SMOKE

N_TRIGGERS = 4


def _compilations(spark) -> int:
    """Whole-stage and expression classes Janino has compiled in this
    JVM so far (cache hits do not count)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def _counting_sink(spark, counts: list[int]) -> FanoutSink:
    """Last sink of a fan-out: records the compilation count as each
    trigger finishes."""
    return FanoutSink("count", lambda df, bid: counts.append(_compilations(spark)))


def _per_trigger(counts: list[int]) -> list[int]:
    return [b - a for a, b in zip(counts, counts[1:])]


def _doc_triggers(n_triggers: int, per_trigger: int = 20) -> list[list[tuple]]:
    """Docs for ``n_triggers`` triggers of the same shape: fresh docs,
    one exact copy of a doc in the same trigger and, from the second
    trigger on, one exact copy of a doc admitted by the trigger before
    (so every trigger runs the same rejection plans)."""
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(2000)]
    out = []
    for b in range(n_triggers):
        rows = [
            (b * 1000 + i, " ".join(rng.choices(vocab, k=40)))
            for i in range(per_trigger)
        ]
        rows.append((b * 1000 + 900, rows[0][1]))
        if out:
            rows.append((b * 1000 + 901, out[-1][1][1]))
        out.append(rows)
    return out


def test_curated_ingest_compiles_nothing_after_second_trigger(spark, tmp_path):
    """``curated_ingest_sink`` (dedup, then index) over four triggers
    of the same shape: from the third trigger on, every class comes
    out of the cache."""
    triggers = _doc_triggers(N_TRIGGERS)
    src = str(tmp_path / "docs")
    os.makedirs(src)
    for b, rows in enumerate(triggers):
        with open(f"{src}/part-{b}.jsonl", "w") as fh:
            for doc_id, text in rows:
                fh.write(json.dumps({"doc_id": doc_id, "text": text}) + "\n")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    store, out, index = (str(tmp_path / p) for p in ("store", "out", "index"))
    counts = [_compilations(spark)]
    q = start_fanout(
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src),
        [
            FanoutSink("curated", curated_ingest_sink(store, out, index)),
            _counting_sink(spark, counts),
        ],
        checkpoint_dir=str(tmp_path / "ckpt"),
        query_name="codegen-reuse-curated",
    )
    q.awaitTermination(600)
    assert q.exception() is None
    per_trigger = _per_trigger(counts)
    assert len(per_trigger) == N_TRIGGERS
    assert per_trigger[2:] == [0] * (N_TRIGGERS - 2), per_trigger
    # every trigger committed its generation to both stores; a copy is
    # admitted only when its original was not
    admitted = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    for b in range(N_TRIGGERS):
        assert b * 1000 in admitted and b * 1000 + 900 not in admitted
        if b:
            assert (b * 1000 + 901 in admitted) == (
                (b - 1) * 1000 + 1 not in admitted
            )
    assert partition_batch_ids_path(spark, out) == list(range(N_TRIGGERS))
    assert partition_batch_ids_path(spark, f"{index}/postings") == list(
        range(N_TRIGGERS)
    )


def _write_envelopes(rows: list, path: str, n_files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = (len(rows) + n_files - 1) // n_files
    for i in range(n_files):
        with open(os.path.join(path, f"batch-{i}.jsonl"), "w") as fh:
            for r in rows[i * per : (i + 1) * per]:
                fh.write(r["value"] + "\n")


def test_fanout_parquet_sink_compiles_nothing_after_second_trigger(
    spark, tmp_path
):
    """``start_fanout`` with the typed warehouse ``parquet_sink`` over
    four CDC triggers: the batch id no longer reaches generated code,
    so later triggers compile nothing."""
    events = load_table(spark, SF_SMOKE, "events")
    customer = load_table(spark, SF_SMOKE, "customer")
    rows = to_cdc_json(events.orderBy("event_id")).collect()
    src = str(tmp_path / "cdc")
    _write_envelopes(rows, src, N_TRIGGERS)
    warehouse = str(tmp_path / "warehouse")
    counts = [_compilations(spark)]
    q = start_fanout(
        parse_cdc_envelope(json_file_stream(spark, src, 1)).drop("op"),
        [
            parquet_sink(warehouse, project=warehouse_typed),
            _counting_sink(spark, counts),
        ],
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=lambda df: enrich_events(df, customer),
        query_name="codegen-reuse-fanout",
    )
    q.awaitTermination(300)
    assert q.exception() is None
    per_trigger = _per_trigger(counts)
    assert len(per_trigger) == N_TRIGGERS
    assert per_trigger[2:] == [0] * (N_TRIGGERS - 2), per_trigger
    out = spark.read.parquet(warehouse)
    assert out.count() == len(rows)
    assert dict(out.dtypes)["batch_id"] == "int"


def test_out_of_range_engagement_pct_lands_null_and_batch_commits(
    spark, tmp_path
):
    """An ``engagement_pct`` past decimal(5,2) (here 500,000 %) used to
    raise NUMERIC_VALUE_OUT_OF_RANGE under ANSI and kill the stream;
    it now lands as NULL beside the in-range row."""
    customer = spark.createDataFrame(
        [Row(c_custkey=1, c_name="a", c_nationkey=0, c_acctbal=1.0,
             c_mktsegment="BUILDING"),
         Row(c_custkey=2, c_name="b", c_nationkey=0, c_acctbal=1000.0,
             c_mktsegment="MACHINERY")]
    )
    events = spark.createDataFrame(
        [Row(event_id=1, user_id=1, event_type="view", value=5000.0,
             props='{"k": 1}'),
         Row(event_id=2, user_id=2, event_type="view", value=500.0,
             props='{"k": 2}')]
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    src = str(tmp_path / "cdc")
    _write_envelopes(to_cdc_json(events).collect(), src, 1)
    warehouse = str(tmp_path / "warehouse")
    q = start_fanout(
        parse_cdc_envelope(json_file_stream(spark, src)).drop("op"),
        [parquet_sink(warehouse, project=warehouse_typed)],
        checkpoint_dir=str(tmp_path / "ckpt"),
        transform=lambda df: enrich_events(df, customer),
        query_name="warehouse-out-of-range",
    )
    q.awaitTermination(120)
    assert q.exception() is None
    assert q.lastProgress["batchId"] == 0
    out = spark.read.parquet(warehouse)
    assert dict(out.dtypes)["engagement_pct"] == "decimal(5,2)"
    pct = {r["event_id"]: r["engagement_pct"] for r in out.collect()}
    assert pct == {1: None, 2: Decimal("50.00")}


def _gen(spark, ids: list[int], tag: str):
    return spark.createDataFrame(
        [(i, tag) for i in ids], "doc_id bigint, tag string"
    )


def test_write_generation_empty_input_writes_no_data_file(spark, tmp_path):
    path = str(tmp_path / "store")
    write_generation(_gen(spark, [1, 2], "a"), path, 0)
    write_generation(_gen(spark, [], "b"), path, 1)
    assert partition_batch_ids_path(spark, path) == [0]
    part = tmp_path / "store" / "batch_id=1"
    assert not part.exists() or not [
        f for f in os.listdir(part) if not f.startswith(("_", "."))
    ]


def test_write_generation_replay_replaces_only_its_partition(spark, tmp_path):
    path = str(tmp_path / "store")
    write_generation(_gen(spark, [1, 2], "a"), path, 0)
    write_generation(_gen(spark, [3], "b"), path, 1)
    write_generation(_gen(spark, [4], "c"), path, 0)  # replay of 0
    rows = {
        (r["batch_id"], r["doc_id"], r["tag"])
        for r in spark.read.parquet(path).collect()
    }
    assert rows == {(0, 4, "c"), (1, 3, "b")}


def test_write_generation_reads_back_int_and_keeps_ids_out_of_codegen(
    spark, tmp_path
):
    """Frozen (negative) and live ids share one int partition column,
    nested partition columns keep their layout, and a new id reuses the
    previous write's generated classes."""
    path = str(tmp_path / "store")
    df = _gen(spark, [1, 2, 3], "x").withColumn("list_id", F.col("doc_id") % 2)
    write_generation(df, path, -2, "list_id")
    write_generation(df, path, -1, "list_id")
    before = _compilations(spark)
    for bid in (0, 5, 7):
        write_generation(df, path, bid, "list_id")
    assert _compilations(spark) == before
    assert sorted(os.listdir(tmp_path / "store" / "batch_id=5")) == [
        "list_id=0",
        "list_id=1",
    ]
    back = spark.read.parquet(path)
    assert dict(back.dtypes)["batch_id"] == "int"
    assert partition_batch_ids_path(spark, path) == [-2, -1, 0, 5, 7]
    assert sorted(
        r["batch_id"] for r in back.select("batch_id").distinct().collect()
    ) == [-2, -1, 0, 5, 7]


def test_apply_engine_conf_skips_static_confs(spark):
    """A running session cannot change a static conf (the codegen cache
    size among them): ``apply_engine_conf`` skips those and applies the
    rest, including the unregistered RocksDB changelog switch that
    ``isModifiable`` also reports as not modifiable."""
    from eventstream_fanout_spark.session import ENGINE_CONF, apply_engine_conf

    changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    assert not spark.conf.isModifiable("spark.sql.codegen.cache.maxEntries")
    assert not spark.conf.isModifiable(changelog)
    saved = {
        k: spark.conf.get(k, None)
        for k in ENGINE_CONF
        if k != "spark.sql.codegen.cache.maxEntries"
    }
    spark.conf.set("spark.sql.codegen.useIdInClassName", "true")
    spark.conf.set(changelog, "false")
    try:
        apply_engine_conf(spark)
        assert spark.conf.get("spark.sql.codegen.useIdInClassName") == "false"
        assert spark.conf.get(changelog) == "true"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
