"""Incremental (streaming) corpus deduplication — MinHash-LSH dedup as
a ``foreachBatch`` stage against a persistent signature store.

The batch dedup family (operators/dedup.py) answers "which docs in THIS
corpus are near-dups"; an ingest pipeline needs the incremental
question: "is this NEW doc a near-dup of anything already accepted?"
The reference has no analogue (its dedup is the webhook receiver's
in-memory id set, external-api/app.py:4-11); this is the training-data
version of that seam done at warehouse scale.

Design (per micro-batch):

1. MinHash signatures + LSH bands for the batch (same
   ``minhash_signatures``/``banded_signatures`` plans as batch dedup —
   one code path, two execution modes).
2. Band equi-join against the ACCEPTED band store (parquet): any band
   match marks the doc as a near-dup candidate; candidates are dropped
   — or, with ``min_jaccard`` set on the sink, dropped only after the
   exact shingle-Jaccard verifier clears them (the batch family's
   LSH→verify composition, shingling ONLY the candidate docs re-read
   from the accepted output).
3. Within-batch dedup by the same band join (salted, bucket-local).
4. Survivors' bands append to the store under ``batch_id=N`` —
   idempotent replay (a replayed batch overwrites its own partition,
   exactly the parquet_sink contract), so crash-replay cannot admit a
   duplicate OR lose an accepted signature.

Scale shape: the store join is a band-bucket equi-join (shuffle keyed
on (band, bh)) — identical cost model to batch LSH; the store is
partitioned by batch_id and compacts like any rollup.  State never
lives on the driver and never in executor memory — it IS the store.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    _salted_bucket_pairs,
    banded_signatures,
    minhash_signatures,
)
from .compaction import write_generation


def batch_bands(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, band, bh) for a micro-batch of documents."""
    return banded_signatures(minhash_signatures(docs, text_col))


def _read_store_or_none(
    spark: SparkSession, path: str, exclude_batch_id: int | None
) -> DataFrame | None:
    """Read a per-batch-partitioned store artifact, masking the
    in-flight batch's OWN partition (crash-replay safety), returning
    None ONLY on the missing-path case.

    Any other analysis failure (schema inference, corrupt metadata)
    must propagate, or the caller would silently dedup against nothing
    and admit duplicates forever — one shared classification so the
    band store and the accepted-docs artifact cannot drift apart."""
    from .compaction import read_store_or_none

    df = read_store_or_none(spark, path)
    if df is None:
        return None
    if exclude_batch_id is not None and "batch_id" in df.columns:
        df = df.where(F.col("batch_id") != int(exclude_batch_id))
    return df


def accepted_bands(
    spark: SparkSession, store_path: str, exclude_batch_id: int | None = None
) -> DataFrame:
    """The persistent accepted-signature store (empty on first batch).

    ``exclude_batch_id`` masks the in-flight batch's OWN partition:
    on crash-replay the store may already hold the replayed batch's
    bands, and without the mask its docs would reject themselves —
    the incremental-dedup replay bug (partition pruning makes the
    mask a metadata-only filter)."""
    df = _read_store_or_none(spark, store_path, exclude_batch_id)
    if df is None:  # store not created yet (PATH_NOT_FOUND)
        return spark.createDataFrame(
            [], "doc_id long, band int, bh string"
        )
    return df.select("doc_id", "band", "bh")


def dedup_batch_against_store(
    batch: DataFrame,
    store: DataFrame,
    bands: DataFrame | None = None,
) -> DataFrame:
    """Return the subset of ``batch`` docs that are NOT near-dups of the
    store or of an earlier-id doc in the same batch.

    Both rejections are band equi-joins (left_anti): bucket-local,
    never all-pairs.  Within-batch survivors keep the LOWEST doc_id of
    each near-dup group (deterministic canonical), matching the batch
    family's canonical-min convention.

    If ``store`` carries a ``band_key`` column (the bucketed-table
    store), the rejection join keys on it so the store side scans its
    buckets with no Exchange — the distinct() and the join both reuse
    the table's hash bucketing (``band_key = band:bh`` is bijective, so
    semantics are identical to the (band, bh) join).

    The within-batch self-join's posture is MEASURED per batch (r13
    verdict item 8): the largest band bucket is read back (one 1-row
    planning collect per trigger — request-bounded; it recomputes the
    batch-sized band derivation once, deliberately NOT checkpointed —
    a LogicalRDD reused across this tree's many self-joined branches
    mis-resolved attributes and doubled n_common, see
    test_redelivered_doc_id_raises), and the salt split applies only
    when the batch actually carries a hot bucket; a clean micro-batch
    pays no salt explode or per-bucket count window.

    ``bands`` optionally supplies the batch's band derivation
    precomputed (the sinks pass it PERSISTED, r14): the derivation
    feeds ~4 consumers here — the planning collect, the store
    rejection join, and both sides of the within-batch self-join — and
    without the cache each consumer re-ran the full
    tokenize→minhash→band pipeline over the batch (guide §1.2: don't
    compute things twice).  persist(), never localCheckpoint — the
    self-join needs the logical plan intact (the LogicalRDD hazard
    above)."""
    from ..operators.diagnostics import adaptive_bucket_pairs

    if bands is None:
        bands = batch_bands(batch)
    if "band_key" in store.columns:
        vs_store = (
            _with_band_key(bands)
            .join(
                store.select("band_key").distinct(), ["band_key"], "left_semi"
            )
            .select("doc_id")
            .distinct()
        )
    else:
        vs_store = bands.join(
            store.select("band", "bh").distinct(), ["band", "bh"], "left_semi"
        ).select("doc_id").distinct()
    # Measured bucket-local self-join (same skew bound as the batch
    # family): both postures emit ordered pairs a.id < b.id and the
    # salt split is lossless, so rejecting every b.doc_id is exactly
    # "drop all but the lowest id of each near-dup band group" —
    # identical result set either way; what the measurement changes is
    # whether a degenerate band value inside one large micro-batch can
    # concentrate its pair work in a single task.
    wb_pairs, _salted, _max_cnt = adaptive_bucket_pairs(
        bands, ["band", "bh"], "doc_id"
    )
    vs_batch = (
        wb_pairs.select(F.col("b.doc_id").alias("doc_id")).distinct()
    )
    rejected = vs_store.unionByName(vs_batch).distinct()
    return batch.join(rejected, "doc_id", "left_anti")


def append_accepted(
    accepted: DataFrame,
    store_path: str,
    batch_id: int,
    bands: DataFrame | None = None,
) -> None:
    """Idempotently append the accepted docs' bands under their batch
    partition (replay overwrites, never duplicates).

    ``bands`` optionally supplies the BATCH's band derivation already
    computed (and persisted) by the dedup step: bands are a pure
    per-document function of the text, so semi-joining them on the
    accepted doc_ids yields exactly ``batch_bands(accepted)`` without
    re-running the tokenize→minhash pipeline over the survivors (r14
    — this was a full second derivation per trigger)."""
    src = (
        batch_bands(accepted)
        if bands is None
        else bands.join(
            accepted.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    )
    write_generation(
        src.select("doc_id", "band", "bh"), store_path, batch_id
    )


def _candidate_pairs(
    bands: DataFrame, store: DataFrame
) -> DataFrame:
    """Ordered near-dup candidate pairs (doc_a rejects doc_b): store
    hits (store doc -> batch doc) plus salted within-batch pairs
    (lower id -> higher id).  Pure band equi-joins, bucket-local.

    A ``band_key`` column on ``store`` (the bucketed-table store)
    switches the store join to that key, so the verified path rides the
    table's bucketing exactly like :func:`store_rejection_join` — no
    Exchange above the store scan (ADVICE r5).  The within-batch side
    takes the measured posture (adaptive_bucket_pairs, r13 item 8);
    the bands relation is deliberately NOT checkpointed here — see
    :func:`dedup_batch_against_store` on the LogicalRDD-reuse
    hazard."""
    from ..operators.diagnostics import adaptive_bucket_pairs

    if "band_key" in store.columns:
        vs_store = (
            _with_band_key(bands)
            .alias("n")
            .join(
                store.alias("s"),
                F.col("n.band_key") == F.col("s.band_key"),
            )
            .select(
                F.col("s.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"),
            )
        )
    else:
        vs_store = (
            bands.alias("n")
            .join(
                store.alias("s"),
                (F.col("n.band") == F.col("s.band"))
                & (F.col("n.bh") == F.col("s.bh")),
            )
            .select(
                F.col("s.doc_id").alias("doc_a"),
                F.col("n.doc_id").alias("doc_b"),
            )
        )
    wb_pairs, _salted, _max_cnt = adaptive_bucket_pairs(
        bands, ["band", "bh"], "doc_id"
    )
    vs_batch = wb_pairs.select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    return vs_store.unionByName(vs_batch).distinct()


def dedup_batch_verified(
    batch: DataFrame,
    store: DataFrame,
    accepted_docs: DataFrame | None,
    min_jaccard: float,
    bands: DataFrame | None = None,
) -> DataFrame:
    """:func:`dedup_batch_against_store` with the batch family's
    LSH→verify composition: a band candidate rejects a batch doc only
    if the EXACT shingle Jaccard of the pair clears ``min_jaccard`` —
    so a hash-collision band match on genuinely different text no
    longer drops a document.

    Scale shape: candidates are the same bucket-local band joins;
    verification shingling is restricted by semi-join to the candidate
    docs on BOTH sides (batch docs and the store docs re-read from
    ``accepted_docs``), so per-batch cost is
    O(|candidates| x shingles/doc) regardless of corpus size.

    Two lazy contract guards ride the returned plan (the ivf_topk
    0-row-union assert_true pattern — candidate-bounded, no extra
    Spark job), both of which would otherwise corrupt verification
    SILENTLY:

    1. doc-level coverage (VERDICT r5 item 1): every candidate doc_id
       must have text in the unioned relation.  A *partially* trimmed
       accepted-docs output (retention deleting some batch partitions
       while the band store keeps their signatures) would drop those
       pairs out of the jaccard inner join and ADMIT their duplicates
       — the artifact-level :func:`_verified_inputs_or_raise` cannot
       see it.  Raise instead.
    2. doc_id uniqueness (the ingest contract, VERDICT r5 item 7): a
       doc_id appearing more than once across batch + accepted docs
       makes the shingle relation ambiguous (two texts merge into one
       shingle set and jaccard is computed against their union).
       The check is candidate-scoped — the only place the ambiguity
       can corrupt a verification verdict — so its cost stays bounded
       by |candidates|, not the corpus."""
    from ..operators.dedup import doc_shingles, jaccard_verify_candidates

    if bands is None:
        bands = batch_bands(batch)
    cands = _candidate_pairs(bands, store)
    cand_ids = (
        cands.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cands.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sides = batch.select("doc_id", "text")
    if accepted_docs is not None:
        sides = sides.unionByName(accepted_docs.select("doc_id", "text"))
    # per-candidate text coverage: n rows of text per candidate doc_id
    # (0 -> trimmed accepted doc, the fail-open; >1 -> colliding id)
    cover = (
        cand_ids.join(
            sides.select("doc_id", F.lit(1).alias("_present")),
            "doc_id",
            "left",
        )
        .groupBy("doc_id")
        .agg(F.count("_present").alias("_n"))
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("_n") == 0, 1).otherwise(0)), F.lit(0)
            ).alias("_n_missing"),
            F.coalesce(
                F.sum(F.when(F.col("_n") > 1, 1).otherwise(0)), F.lit(0)
            ).alias("_n_dupid"),
        )
    )
    guard = (
        cover.select(
            F.assert_true(
                (F.col("_n_missing") == 0) & (F.col("_n_dupid") == 0),
                F.concat(
                    F.lit("verified dedup contract violation: "),
                    F.col("_n_missing").cast("string"),
                    F.lit(
                        " candidate doc(s) have no text in the "
                        "batch+accepted relation (partially trimmed "
                        "accepted-docs output — verification would fail "
                        "open and admit their duplicates) and "
                    ),
                    F.col("_n_dupid").cast("string"),
                    F.lit(
                        " candidate doc_id(s) appear more than once "
                        "(globally-unique doc_id ingest contract broken "
                        "— the shingle relation is ambiguous); restore "
                        "the accepted output / fix the id assignment "
                        "before resuming"
                    ),
                ),
            ).alias("_a")
        )
        # always-false predicate whose evaluation forces _a (see the
        # ivf_topk guard for the constant-folding caveat + tripwire).
        # Output columns are cast FROM _a (always-null, non-foldable)
        # instead of lit(None): a downstream join's pushed-down
        # isnotnull filter would constant-fold a literal-null branch —
        # assert_true and all — out of the plan (round-6 lesson).
        .where(F.col("_a").isNotNull())
        .select(
            *[
                F.col("_a").cast(f.dataType).alias(f.name)
                for f in batch.schema.fields
            ]
        )
    )
    sh = doc_shingles(sides.join(cand_ids, "doc_id", "left_semi"))
    verified = jaccard_verify_candidates(sh, cands, min_jaccard)
    rejected = verified.select(F.col("doc_b").alias("doc_id")).distinct()
    return batch.join(rejected, "doc_id", "left_anti").unionByName(guard)


def _accepted_docs(
    spark: SparkSession, out_path: str, exclude_batch_id: int | None = None
) -> DataFrame | None:
    """The accepted documents written so far (None before the first
    batch), with the same in-flight replay mask and missing-path
    classification as the band store (shared ``_read_store_or_none``)."""
    return _read_store_or_none(spark, out_path, exclude_batch_id)


def _verified_inputs_or_raise(
    store: DataFrame, accepted: DataFrame | None
) -> DataFrame | None:
    """Fail-CLOSED guard for verified mode: a non-empty band store with
    a missing accepted-docs artifact means every store-side candidate
    would silently lose its verification shingles (the pair drops out
    of the jaccard inner join) and every duplicate of an accepted doc
    would be ADMITTED.  That violates the module invariant — refuse
    instead.  Only evaluated on the None path (first batch), where the
    store-emptiness probe is a metadata-cheap job on an empty/absent
    store."""
    if accepted is None and not store.isEmpty():
        raise RuntimeError(
            "verified dedup: the signature store holds accepted bands "
            "but the accepted-docs output is missing — verification "
            "would fail open and admit duplicates of every accepted "
            "doc; restore the output artifact (or rebuild the store) "
            "before resuming"
        )
    return accepted


def streaming_dedup_sink(
    store_path: str,
    out_path: str,
    min_jaccard: float | None = None,
):
    """``foreachBatch`` callback: admit only docs that are near-dups of
    nothing accepted so far; append survivors (and their signatures)
    idempotently.  Compose with ``start_fanout``.

    ``min_jaccard=None`` (default) rejects on any band match;
    a float enables the exact-Jaccard verified mode
    (:func:`dedup_batch_verified`)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        store = accepted_bands(spark, store_path, exclude_batch_id=batch_id)
        # the batch's band derivation is computed ONCE per trigger and
        # persisted: its ~5 consumers (planning collect, store join,
        # both self-join sides, the accepted-bands append) otherwise
        # each re-ran the tokenize→minhash pipeline (r14, guide §1.2)
        bands = batch_bands(batch_df).persist()
        try:
            if min_jaccard is None:
                survivors = dedup_batch_against_store(
                    batch_df, store, bands=bands
                )
            else:
                accepted = _verified_inputs_or_raise(
                    store,
                    _accepted_docs(
                        spark, out_path, exclude_batch_id=batch_id
                    ),
                )
                survivors = dedup_batch_verified(
                    batch_df, store, accepted, min_jaccard, bands=bands
                )
            survivors = survivors.persist()
            try:
                write_generation(survivors, out_path, batch_id)
                append_accepted(survivors, store_path, batch_id, bands=bands)
            finally:
                survivors.unpersist()
        finally:
            bands.unpersist()

    return process


# --- bucketed signature store (scale path) ----------------------------
#
# At steady state the accepted-signature store dwarfs every incoming
# micro-batch, and the parquet-path store above re-shuffles THE STORE
# side of the rejection join on every batch.  The bucketed variant
# persists the store as a table hash-bucketed on the band key: the
# store side of the join reads its buckets in place (zero Exchange —
# the write_bucketed_table fact-fact strategy applied to streaming
# state), so per-batch join cost scales with the batch, not the store.

STORE_BUCKETS = 16


def _with_band_key(bands: DataFrame) -> DataFrame:
    return bands.withColumn(
        "band_key",
        F.concat(F.col("band").cast("string"), F.lit(":"), F.col("bh")),
    )


def streaming_dedup_sink_bucketed(
    store_table: str,
    out_path: str,
    num_buckets: int = STORE_BUCKETS,
    min_jaccard: float | None = None,
):
    """``foreachBatch`` callback like :func:`streaming_dedup_sink`, but
    the signature store is a band-key-bucketed TABLE: first batch
    creates it (partitioned by batch_id for replay masking, bucketed
    for the shuffle-free store side), later batches ``insertInto`` it
    under dynamic partition overwrite — a replayed batch id replaces
    its own partition only.

    Concurrency caveat: ``insertInto`` does not honor the per-write
    ``partitionOverwriteMode`` option, so the sink flips the SESSION
    conf around the insert (saved/restored in a finally).  Any
    concurrent overwrite-mode write in the same SparkSession during
    that window inherits dynamic semantics — run this sink in its own
    SparkSession (or serialize store writes) if other partitioned
    overwrites share the session.  Structured Streaming invokes
    ``foreachBatch`` for one batch at a time per query, so the sink
    never races itself.

    ``min_jaccard`` enables the exact-Jaccard verified mode exactly as
    on :func:`streaming_dedup_sink` — and candidate generation really
    does ride the bucketed band store: the store relation keeps its
    ``band_key`` column, which switches both the rejection join and
    :func:`_candidate_pairs` onto the table's bucket key, so the store
    side scans its buckets with no Exchange in either mode (ADVICE
    r5)."""

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        exists = spark.catalog.tableExists(store_table)
        if exists:
            store = (
                spark.table(store_table)
                .where(F.col("batch_id") != int(batch_id))
                .select("doc_id", "band", "bh", "band_key")
            )
        else:
            store = spark.createDataFrame(
                [], "doc_id long, band int, bh string"
            )
        # one persisted band derivation per trigger (see
        # streaming_dedup_sink): the survivors' store rows below are a
        # semi-join on it instead of a second tokenize→minhash pass
        bands = batch_bands(batch_df).persist()
        try:
            if min_jaccard is None:
                survivors = dedup_batch_against_store(
                    batch_df, store, bands=bands
                )
            else:
                accepted = _verified_inputs_or_raise(
                    store,
                    _accepted_docs(
                        spark, out_path, exclude_batch_id=batch_id
                    ),
                )
                survivors = dedup_batch_verified(
                    batch_df, store, accepted, min_jaccard, bands=bands
                )
            survivors = survivors.persist()
            try:
                write_generation(survivors, out_path, batch_id)
                surv_bands = _with_band_key(
                    bands.join(
                        survivors.select("doc_id").distinct(),
                        "doc_id",
                        "left_semi",
                    ).select("doc_id", "band", "bh")
                ).withColumn("batch_id", F.lit(int(batch_id)))
                if not exists:
                    (
                        surv_bands.write.mode("overwrite")
                        .partitionBy("batch_id")
                        .bucketBy(num_buckets, "band_key")
                        .sortBy("band_key")
                        .format("parquet")
                        .saveAsTable(store_table)
                    )
                else:
                    # session-level conf (saved/restored): the per-write
                    # option is not visible to the analyzer's
                    # self-overwrite check, which must see DYNAMIC mode
                    # to allow replacing only the replayed batch
                    # partition of a table the same plan reads
                    conf_key = "spark.sql.sources.partitionOverwriteMode"
                    prev = spark.conf.get(conf_key, "static")
                    spark.conf.set(conf_key, "dynamic")
                    try:
                        surv_bands.write.mode("overwrite").insertInto(
                            store_table
                        )
                    finally:
                        spark.conf.set(conf_key, prev)
            finally:
                survivors.unpersist()
        finally:
            bands.unpersist()

    return process


def store_rejection_join(spark: SparkSession, store_table: str, batch: DataFrame):
    """The store-vs-batch rejection join against the bucketed table —
    exposed for plan inspection: the store side must scan its buckets
    with no Exchange above the scan."""
    bands = _with_band_key(batch_bands(batch))
    store = spark.table(store_table).select("band_key").distinct()
    return bands.join(store, ["band_key"], "left_semi")


def store_candidate_join(
    spark: SparkSession, store_table: str, batch: DataFrame
) -> DataFrame:
    """The VERIFIED-mode candidate join against the bucketed table —
    exposed for plan inspection: with the store's ``band_key`` carried
    through, the store side must likewise scan its buckets with no
    Exchange above the scan (:func:`_candidate_pairs` band_key path)."""
    store = spark.table(store_table).select(
        "doc_id", "band", "bh", "band_key"
    )
    return _candidate_pairs(batch_bands(batch), store)


def compact_store(
    spark: SparkSession, store_path: str, upto_batch_id: int
) -> int:
    """Fold the signature store's per-batch partitions below
    ``upto_batch_id`` — plus any previous frozen generations — into a
    NEW frozen generation (``batch_id = -(g+1)``) and drop the
    originals.  The standard streaming-state compaction: at one
    partition (and >= one file) per micro-batch, a long-running
    ingest accumulates thousands of tiny partitions whose
    listing/footer overhead dominates every store read.

    Crash safety by construction: the new generation is written to a
    partition id that never existed, and the folded sources are
    deleted strictly AFTER that write completes — at no point is any
    accepted band absent from the store.  A crash between write and
    deletes leaves both generations present, i.e. duplicate bands,
    which can only over-reject already-rejected dups (idempotent for
    dedup semantics), never admit one; re-running compaction folds
    the leftovers.

    Replay safety is the invariant that sizes ``upto_batch_id``: the
    sink masks only the IN-FLIGHT batch's own partition, so a batch
    that may still be replayed must keep its own partition id.  Pass
    the checkpoint's committed watermark (highest batch id that can
    never re-run); batches >= upto_batch_id are left untouched.

    Run ONLY with the ingest stream stopped (maintenance window): the
    final deletes race an in-flight ``accepted_bands`` scan, and with
    ``spark.sql.files.ignoreMissingFiles=true`` a concurrent reader
    would silently scan a partial store and admit duplicates — so that
    conf being set is a hard error here, not a convenience.
    Returns the number of source partitions folded."""
    if spark.conf.get("spark.sql.files.ignoreMissingFiles", "false") == "true":
        raise RuntimeError(
            "compact_store refuses to run with "
            "spark.sql.files.ignoreMissingFiles=true: a concurrent store "
            "reader racing the post-fold deletes would silently read a "
            "partial store and admit duplicates"
        )
    from .compaction import partition_batch_ids_path

    df = spark.read.parquet(store_path)
    bids = partition_batch_ids_path(spark, store_path)  # metadata, no job
    fold_ids = [
        b for b in bids if b < 0 or (0 <= b < int(upto_batch_id))
    ]
    if len(fold_ids) <= 1 and not any(b >= 0 for b in fold_ids):
        return 0  # nothing but (at most) one frozen generation
    next_gen = min([b for b in bids if b < 0], default=0) - 1
    folded = df.where(F.col("batch_id").isin(fold_ids))
    write_generation(
        folded.select("doc_id", "band", "bh").coalesce(
            max(1, len(fold_ids) // 8)
        ),
        store_path,
        next_gen,
    )
    # sources go away only now — the new generation is durably in place
    from py4j.java_gateway import java_import

    jvm = spark._jvm
    java_import(jvm, "org.apache.hadoop.fs.Path")
    fs = jvm.Path(store_path).getFileSystem(spark._jsc.hadoopConfiguration())
    for bid in fold_ids:
        fs.delete(jvm.Path(f"{store_path}/batch_id={bid}"), True)
    return len(fold_ids)


def compact_store_table(
    spark: SparkSession, store_table: str, upto_batch_id: int
) -> int:
    """:func:`compact_store` for the BUCKETED table store: fold every
    committed per-batch partition below the replay watermark (plus any
    previous frozen generations) into a new frozen partition
    (``batch_id = -(g+1)``) and drop the sources.

    Same two-phase crash contract as the parquet path — the frozen
    generation is inserted (dynamic partition overwrite, preserving the
    table's band-key bucketing so the store side of the rejection join
    stays Exchange-free) strictly BEFORE the source partitions are
    dropped via ``ALTER TABLE .. DROP PARTITION``; a crash in between
    leaves duplicate bands, which can only over-reject near-dups, never
    admit one.  Run with the ingest stream stopped (the drops race an
    in-flight store scan), and see
    :func:`streaming_dedup_sink_bucketed` for the session-scoped
    ``partitionOverwriteMode`` caveat the insert shares.
    Returns the number of source partitions folded."""
    if spark.conf.get("spark.sql.files.ignoreMissingFiles", "false") == "true":
        raise RuntimeError(
            "compact_store_table refuses to run with "
            "spark.sql.files.ignoreMissingFiles=true (see compact_store)"
        )
    from .compaction import partition_batch_ids_table

    df = spark.table(store_table)
    bids = partition_batch_ids_table(spark, store_table)  # metadata
    fold_ids = [
        b for b in bids if b < 0 or (0 <= b < int(upto_batch_id))
    ]
    if len(fold_ids) <= 1 and not any(b >= 0 for b in fold_ids):
        return 0  # nothing but (at most) one frozen generation
    next_gen = min([b for b in bids if b < 0], default=0) - 1
    # insertInto is positional: select in the table's column order
    # (data cols first, partition col last, as saveAsTable laid it out)
    data_cols = [c for c in df.columns if c != "batch_id"]
    folded = (
        df.where(F.col("batch_id").isin(fold_ids))
        .select(*data_cols)
        .withColumn("batch_id", F.lit(int(next_gen)))
    )
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key, "static")
    spark.conf.set(conf_key, "dynamic")
    try:
        folded.write.mode("overwrite").insertInto(store_table)
    finally:
        spark.conf.set(conf_key, prev)
    # sources go away only now — the frozen generation is durably in place
    for bid in fold_ids:
        spark.sql(
            f"ALTER TABLE {store_table} DROP IF EXISTS "
            f"PARTITION (batch_id={int(bid)})"
        )
    return len(fold_ids)


def delete_doc_signatures(
    spark: SparkSession,
    store_path: str,
    out_path: str,
    doc_ids: list[int],
) -> int:
    """Erase documents from the dedup state: their bands leave the
    signature store and their rows leave the accepted-docs artifact
    (the shared partition-local eraser, compaction.erase_rows).

    Without this, an erased doc leaves GHOST bands behind: any future
    near-duplicate of it would be rejected against a document that no
    longer exists — erasure from the retrieval index alone
    (text_ingest.delete_docs) is not erasure from the pipeline.
    Semantics stated plainly: erasure removes the doc's DATA and its
    future influence; historical decisions stand (a doc rejected in a
    past batch as a near-dup of the erased doc stays rejected — the
    store is not a time machine, and replaying history against edited
    state would break replay idempotence).  Verified mode stays
    consistent: candidates against an erased doc cannot arise (its
    bands are gone), so its missing shingles are never needed.

    Applies to the parquet-path store.  The bucketed-TABLE store
    variant is not wrapped here: plain Spark tables have no ACID
    ``DELETE`` (that is a lakehouse-format feature), so it erases the
    same way this does — ``INSERT OVERWRITE`` each touched batch
    partition with its survivors (which preserves the table's
    bucketing) plus ``ALTER TABLE .. DROP PARTITION`` for emptied
    ones.  Returns the number of partitions rewritten across both
    artifacts."""
    from .compaction import erase_rows

    ids = [int(d) for d in doc_ids]
    n = erase_rows(spark, store_path, "doc_id", ids)
    n += erase_rows(spark, out_path, "doc_id", ids)
    return n
