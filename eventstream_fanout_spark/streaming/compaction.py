"""Generic two-phase compaction for batch_id-partitioned parquet
stores — the shared mechanics behind corpus_dedup.compact_store,
ann_ingest.compact_index and text_ingest.compact_text_index.

Contract (identical across stores):

* Streaming sinks append under ``batch_id=N`` partitions; a replayed
  batch overwrites only its own partition, so normal operation never
  duplicates a row across generations.
* :func:`compact_generations` folds every partition below the replay
  watermark — plus previous frozen generations (negative ids) — into a
  NEW frozen generation ``batch_id = -(g+1)``, written durably BEFORE
  the source partitions are deleted.  A crash in between leaves both
  generations present; whether that is harmless (dedup bands: can only
  over-reject) or must be folded away before reads resume (ANN codes:
  duplicates double ADC sums) is the CALLER's semantic — pass
  ``dedup_cols`` to make the fold collapse duplicates so a re-run
  always heals.
* Refuses to run under ``spark.sql.files.ignoreMissingFiles=true``: a
  concurrent reader racing the post-fold deletes would silently scan a
  partial store.
* Run only with the owning stream stopped (maintenance window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_store_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Read a store artifact, returning None ONLY on the missing-path
    case (store not created yet).  Any other analysis failure — schema
    inference, corrupt metadata, a half-written marker — must PROPAGATE
    (ADVICE r9 item 1): swallowing it would fail OPEN, silently
    disabling whatever guard or dedup check the caller builds from the
    artifact.  One shared classification so the generational stores
    cannot drift apart on what "missing" means.

    The missing-path case is decided by a Hadoop ``FileSystem.exists``
    call instead of catching PATH_NOT_FOUND (VERDICT r11 item 2): the
    exception path made the JVM log a full stack trace for ordinary
    "store not created yet" control flow, polluting bench/driver
    stdout; the exists() probe is one namenode RPC and keeps the
    fail-closed contract — a path that exists but cannot be read
    still raises through ``spark.read``."""
    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    p = jvm.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    return spark.read.parquet(path)


def write_generation(
    df: DataFrame, path: str, batch_id: int, *partition_cols: str
) -> None:
    """Write ``df`` as generation ``batch_id`` of the path-backed store
    at ``path``: ``path/batch_id=N[/<partition_cols>=..]``, dynamic
    partition overwrite, so a replayed id replaces only its own
    partition, and an empty ``df`` commits no data file (the
    file-bearing ⇔ row-bearing rule :func:`partition_batch_ids_path`
    relies on — writing to ``path/batch_id=N`` directly would leave an
    empty part file instead).

    The id rides as a STRING literal.  Whole-stage codegen inlines an
    int/long literal into the generated Java source, so every new
    batch id compiled fresh classes for the whole write stage; a
    string literal is passed by reference, so every trigger reuses the
    same classes.  The directory name is the same ``batch_id=N``, and
    partition inference reads it back as int (negative frozen ids
    included).  Catalog-table stores keep their typed column: the
    metastore records the partition column's type."""
    (
        df.withColumn("batch_id", F.lit(str(int(batch_id))))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id", *partition_cols)
        .parquet(path)
    )


def partition_batch_ids_path(spark: SparkSession, path: str) -> list[int]:
    """``batch_id`` partition census of a path-backed store from the
    DIRECTORY LISTING (namenode RPCs only — zero Spark jobs; r15,
    guide §1.2: the ``select("batch_id").distinct().collect()`` it
    replaces cost a full shuffle-distinct job per maintenance call).
    A partition counts iff its directory holds at least one
    non-hidden file — the same leaf-file rule Spark's partition
    discovery applies, so a crash-leftover empty directory is not
    mistaken for a generation (dynamic overwrite and partitionBy
    writes only ever create a data file for a partition with rows,
    so file-bearing ⇔ row-bearing for these stores)."""
    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    p = jvm.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    out = []
    for st in fs.listStatus(p):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("batch_id=")):
            continue
        kids = fs.listStatus(st.getPath())
        if any(
            not k.getPath().getName().startswith(("_", "."))
            for k in kids
        ):
            out.append(int(name.split("=", 1)[1]))
    return sorted(out)


def partition_batch_ids_table(spark: SparkSession, table: str) -> list[int]:
    """``batch_id`` partition census of a catalog TABLE via
    ``SHOW PARTITIONS`` — metastore metadata, zero Spark jobs (r15).
    Exact for these stores: every write path registers partitions
    through saveAsTable/insertInto and every removal goes through
    ``ALTER TABLE .. DROP PARTITION``, so the catalog cannot drift
    from the files."""
    return sorted(
        int(r[0].split("=", 1)[1])
        for r in spark.sql(f"SHOW PARTITIONS {table}").collect()
    )


def compact_generations(
    spark: SparkSession,
    path: str,
    upto_batch_id: int,
    data_cols: list[str],
    dedup_cols: list[str] | None = None,
    extra_partition_cols: list[str] | None = None,
) -> int:
    """Fold committed per-batch partitions of the parquet store at
    ``path`` into one frozen generation; see module docstring.
    ``extra_partition_cols`` preserves nested partitioning below
    batch_id (e.g. the ANN codes' list_id).  Returns the number of
    source partitions folded."""
    if spark.conf.get("spark.sql.files.ignoreMissingFiles", "false") == "true":
        raise RuntimeError(
            "compact_generations refuses to run with "
            "spark.sql.files.ignoreMissingFiles=true: a concurrent "
            "reader racing the post-fold deletes would silently scan a "
            "partial store"
        )
    df = spark.read.parquet(path)
    bids = partition_batch_ids_path(spark, path)  # metadata, no job
    fold_ids = [b for b in bids if b < 0 or (0 <= b < int(upto_batch_id))]
    if len(fold_ids) <= 1 and not any(b >= 0 for b in fold_ids):
        return 0  # nothing but (at most) one frozen generation
    next_gen = min([b for b in bids if b < 0], default=0) - 1
    folded = df.where(F.col("batch_id").isin(fold_ids)).select(*data_cols)
    if dedup_cols:
        folded = folded.dropDuplicates(dedup_cols)
    write_generation(folded, path, next_gen, *(extra_partition_cols or []))
    # sources go away only now — the new generation is durably in place
    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    fs = jvm.Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for bid in fold_ids:
        fs.delete(jvm.Path(f"{path}/batch_id={bid}"), True)
    return len(fold_ids)


def erase_rows(
    spark: SparkSession,
    path: str,
    key_col: str,
    ids: list,
    extra_partition_cols: list[str] | None = None,
    touched: list[tuple] | None = None,
) -> int:
    """Remove every row whose ``key_col`` is in ``ids`` from a
    batch_id-partitioned store — the shared mechanics behind the
    round-7 erasure ops (text_ingest.delete_docs,
    ann_ingest.delete_vectors, corpus_dedup.delete_doc_signatures).

    Only partitions that actually CONTAIN a doomed row are touched:
    their surviving rows dynamic-overwrite the partition, and a
    partition left EMPTY is deleted outright (dynamic overwrite cannot
    express "replace with nothing" — without the explicit delete the
    stale rows would silently survive).  Idempotent: re-running with
    the same ids touches nothing.  Run with the owning stream stopped
    (the compaction contract).  ``ids`` is a driver-side list — an
    erasure request is metadata-sized by nature; the touched-partition
    collects are the same metadata shape as compaction's.  Returns the
    number of partitions rewritten or removed.

    ``touched`` (r15, guide §1.2 — erasure was ~3 Spark jobs per
    store) lets a caller that already knows the doomed partitions
    pass them as value tuples in ``part_cols`` order and skip the
    touched-partition scan; extras that hold no doomed row are
    rewritten byte-identically (harmless), and a tuple naming a
    missing partition is a no-op delete.  The kept-partition census
    rides the survivors write itself as an ``Observation`` — one
    Spark job total instead of three when ``touched`` is given."""
    from py4j.java_gateway import java_import

    from pyspark.sql import Observation

    part_cols = ["batch_id", *(extra_partition_cols or [])]
    ids = list(ids)
    if touched is not None:
        touched = [tuple(t) for t in touched]
        if not touched:
            return 0  # before the read — even inference costs a job
    df = spark.read.parquet(path)
    if touched is None:
        touched = [
            tuple(r[c] for c in part_cols)
            for r in df.where(F.col(key_col).isin(ids))
            .select(*part_cols)
            .distinct()
            .collect()
        ]
    if not touched:
        return 0
    pair_cond = F.lit(False)
    for vals in touched:  # exact partition tuples, not a cross product
        c = F.lit(True)
        for col, v in zip(part_cols, vals):
            c = c & (F.col(col) == v)
        pair_cond = pair_cond | c
    survivors = df.where(pair_cond & ~F.col(key_col).isin(ids))
    # the kept-partition census rides the write (the partitions whose
    # survivors row count is zero must be deleted below — dynamic
    # overwrite leaves them untouched); an Observation is computed
    # DURING the write action, so no separate collect job runs
    obs = Observation()
    (
        survivors.observe(
            obs,
            F.collect_set(
                F.struct(*[F.col(c) for c in part_cols])
            ).alias("kept"),
        )
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*part_cols)
        .parquet(path)
    )
    keep = {tuple(r) for r in obs.get["kept"]}
    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    fs = jvm.Path(path).getFileSystem(spark._jsc.hadoopConfiguration())
    for vals in touched:
        if vals not in keep:  # partition emptied entirely
            sub = "/".join(
                f"{c}={v}" for c, v in zip(part_cols, vals)
            )
            fs.delete(jvm.Path(f"{path}/{sub}"), True)
    return len(touched)


# --- manifest-committed table compaction (r14: graph postings + LM
# count stores) -------------------------------------------------------
#
# corpus_dedup.compact_store_table's crash window (insert done, drops
# not) leaves DUPLICATE rows, which is safe there only because dup
# bands can merely over-reject.  Count stores (LM) would double their
# sums, and the graph postings contract wants exactness too — so these
# stores commit each compaction through a MANIFEST row instead:
#
#   1. fold the visible rows below the watermark into a new frozen
#      partition  batch_id = min(existing) - 1   (invisible until 3);
#   2. nothing yet — a crash here leaves an orphan frozen partition
#      that the visibility mask never reads (next_gen always decrements
#      past it);
#   3. append the manifest row (gen, upto) — THE commit point: readers
#      switch to frozen(gen) ∪ batches >= upto atomically;
#   4. drop the superseded source partitions — a crash between 3 and 4
#      leaves masked garbage, not double counting.
#
# Visibility (one tiny manifest read per serve, maintenance-cadence
# rows): batch_id == latest committed frozen gen OR batch_id >=
# watermark.  As-of reads below watermark - 1 are REFUSED by the
# caller (compaction deliberately destroys that time travel; the
# guard makes it loud instead of wrong).


def read_compact_manifest(
    spark: SparkSession, manifest_path: str
) -> tuple[int, int | None]:
    """(watermark, latest_frozen_gen): watermark = highest committed
    ``upto`` (0 if never compacted), latest_frozen_gen = the gen
    carrying it (None if never compacted)."""
    man = read_store_or_none(spark, manifest_path)
    if man is None:
        return 0, None
    rows = man.select("gen", "upto").collect()
    if not rows:
        return 0, None
    best = max(rows, key=lambda r: (int(r["upto"]), -int(r["gen"])))
    return int(best["upto"]), int(best["gen"])


def visible_partitions(
    df: DataFrame, watermark: int, frozen_gen: int | None
) -> DataFrame:
    """The manifest-committed view of a compacted table: the latest
    frozen generation plus every live batch at or above the
    watermark.  Orphan frozen partitions (crash between fold and
    manifest) and superseded sources (crash between manifest and
    drops) are both masked."""
    cond = F.col("batch_id") >= int(watermark)
    if frozen_gen is not None:
        cond = cond | (F.col("batch_id") == int(frozen_gen))
    return df.where(cond)


def compact_table_manifest(
    spark: SparkSession,
    table: str,
    manifest_path: str,
    upto_batch_id: int,
    fold,
) -> int:
    """Manifest-committed compaction of a bucketed, batch_id-partitioned
    TABLE (see block comment above).  ``fold`` maps the visible
    below-watermark relation (data columns only, no batch_id) to the
    frozen generation's rows — identity for postings (consumers
    distinct anyway), a count re-aggregation for the LM store.
    Returns the number of live source partitions folded.  Run with the
    owning stream stopped; shares streaming_dedup_sink_bucketed's
    session-scoped partitionOverwriteMode caveat."""
    if spark.conf.get(
        "spark.sql.files.ignoreMissingFiles", "false"
    ) == "true":
        raise RuntimeError(
            "compact_table_manifest refuses to run with "
            "spark.sql.files.ignoreMissingFiles=true (see "
            "compact_generations)"
        )
    wm, frozen = read_compact_manifest(spark, manifest_path)
    if int(upto_batch_id) <= wm:
        return 0  # nothing new below the requested watermark
    df = spark.table(table)
    live = partition_batch_ids_table(spark, table)  # metadata, no job
    fold_ids = [
        b for b in live if wm <= b < int(upto_batch_id)
    ]
    if frozen is not None:
        fold_ids.append(frozen)
    if not fold_ids or not any(b >= 0 for b in fold_ids):
        return 0
    next_gen = min(live, default=0) - 1 if min(live, default=0) < 0 else -1
    data_cols = [c for c in df.columns if c != "batch_id"]
    folded = fold(
        df.where(F.col("batch_id").isin(fold_ids)).select(*data_cols)
    ).withColumn("batch_id", F.lit(int(next_gen)).cast("bigint"))
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        folded.select(*data_cols, "batch_id").write.mode(
            "overwrite"
        ).insertInto(table)
    finally:
        spark.conf.set(conf_key, prev)
    # THE commit point: the manifest row makes frozen(next_gen) the
    # serving base and masks everything below upto_batch_id
    (
        spark.range(1)
        .select(F.lit(int(upto_batch_id)).cast("bigint").alias("upto"))
        .write.mode("overwrite")
        .parquet(f"{manifest_path}/gen={int(next_gen)}")
    )
    # Superseded sources go away only now (masked either way).  The
    # sweep covers every live id below the new watermark — not just
    # fold_ids — because a prior crash between manifest-commit and
    # drops can leave masked partitions under the OLD watermark; by
    # induction their rows were folded into the previous frozen
    # generation (which this fold consumed), so dropping them loses
    # nothing, and folding them again would double-count, which is
    # why fold_ids above starts at wm.
    dropped = 0
    sweep = {b for b in live if 0 <= b < int(upto_batch_id)}
    if frozen is not None:
        sweep.add(frozen)
    for bid in sorted(sweep):
        spark.sql(
            f"ALTER TABLE {table} DROP IF EXISTS "
            f"PARTITION (batch_id={int(bid)})"
        )
        dropped += 1 if bid >= 0 and bid in fold_ids else 0
    return dropped
