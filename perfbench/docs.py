"""The ``doc_curate`` workload: generated documents through the curated
ingest (``curated_ingest_sink``: near-dup dedup, then text indexing of
the admitted docs) in 1,000-doc triggers, then deletion requests for
5% of the admitted ids through ``streaming_erasure_sink`` — run after
ingest has stopped, the maintenance window the erasure contract asks
for.  Both streams are started with ``start_fanout``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from contextlib import contextmanager

import numpy as np

from common import (
    EngineSnapshot,
    engine_layer,
    epoch,
    generate,
    latency_notes,
    log,
    median,
    overhead_pct,
    percentile,
    progress,
)
from tracing import Tracer

DOCS_PER_FILE = 1000
SETUP_REPS = 3
ERASE_FRAC = 0.05
WARMUP_BATCHES = 2  # leading batches of the measured drain left out of timing
RECALL_FLOOR = 0.9  # expected ~0.97: 16 minhashes in 4 bands at Jaccard ~0.88


def _doc_stream(spark, src: str):
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("text", T.StringType())]
    )
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)


def _request_stream(spark, src: str):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("doc_id", T.LongType())])
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).json(src)


@contextmanager
def _patched(tracer: Tracer):
    """Spans around the layer calls ``curated_ingest_sink`` and
    ``streaming_erasure_sink`` make, by wrapping the module attributes
    they look up; partitions rewritten are read off ``curated_erase``'s
    return value.  Restored on exit."""
    from eventstream_fanout_spark.streaming import corpus_dedup, curated_ingest, text_ingest

    rewritten: list[int] = []
    if not tracer.enabled:
        yield rewritten
        return
    saved = {
        (curated_ingest, "streaming_dedup_sink"): curated_ingest.streaming_dedup_sink,
        (curated_ingest, "streaming_text_index_sink"): curated_ingest.streaming_text_index_sink,
        (curated_ingest, "curated_erase"): curated_ingest.curated_erase,
        (text_ingest, "delete_docs"): text_ingest.delete_docs,
        (corpus_dedup, "delete_doc_signatures"): corpus_dedup.delete_doc_signatures,
    }

    def sink_factory(name, make):
        return lambda *a, **k: tracer.wrap(name, make(*a, **k))

    def counting(fn):
        def run(*a, **k):
            n = fn(*a, **k)
            rewritten.append(int(n))
            return n

        return run

    curated_ingest.streaming_dedup_sink = sink_factory(
        "corpus_dedup", saved[(curated_ingest, "streaming_dedup_sink")]
    )
    curated_ingest.streaming_text_index_sink = sink_factory(
        "text_ingest", saved[(curated_ingest, "streaming_text_index_sink")]
    )
    curated_ingest.curated_erase = counting(saved[(curated_ingest, "curated_erase")])
    text_ingest.delete_docs = tracer.wrap(
        "text_ingest.erase", saved[(text_ingest, "delete_docs")], batch_arg=None
    )
    corpus_dedup.delete_doc_signatures = tracer.wrap(
        "corpus_dedup.erase", saved[(corpus_dedup, "delete_doc_signatures")], batch_arg=None
    )
    try:
        yield rewritten
    finally:
        for (mod, attr), fn in saved.items():
            setattr(mod, attr, fn)


class Curation:
    """One store/out/index triple and the two streams over it; records
    each batch's return time."""

    def __init__(self, spark, base: str, tracer: Tracer):
        self.spark = spark
        self.base = base
        self.tracer = tracer
        self.ends: dict[str, dict[int, float]] = {"ingest": {}, "erase": {}}
        self.paths = (f"{base}/store", f"{base}/out", f"{base}/index")

    def _stamped(self, phase: str, name: str, sink):
        def run(df, batch_id):
            sink(df, batch_id)
            self.ends[phase][batch_id] = time.time()

        return self.tracer.wrap(name, run)

    def _start(self, phase: str, stream, sink, span: str):
        from eventstream_fanout_spark.streaming.fanout import FanoutSink, start_fanout

        q = start_fanout(
            stream,
            [FanoutSink(phase, self._stamped(phase, span, sink))],
            checkpoint_dir=f"{self.base}/{phase}-checkpoint",
            query_name=f"{os.path.basename(self.base)}-{phase}",
        )
        q.awaitTermination(170)
        q.stop()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q

    def ingest(self, src: str):
        from eventstream_fanout_spark.streaming.curated_ingest import curated_ingest_sink

        sink = curated_ingest_sink(*self.paths)
        return self._start("ingest", _doc_stream(self.spark, src), sink, "curated_ingest")

    def erase(self, src: str):
        from eventstream_fanout_spark.streaming.curated_ingest import streaming_erasure_sink

        sink = streaming_erasure_sink(*self.paths)
        return self._start(
            "erase", _request_stream(self.spark, src), sink, "curated_ingest.erase"
        )


def _ids(spark, path: str) -> list[int]:
    return [int(r[0]) for r in spark.read.parquet(path).select("doc_id").collect()]


def _files(path: str) -> int:
    return sum(
        1
        for f in glob.glob(f"{path}/**/*", recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith((".", "_"))
    )


def _measure(spark, root, tracer: Tracer, seed: int, n_files: int, tag: str, part: int, cpus: int):
    """Ingest ``n_files`` fresh files, erase 5% of what was admitted,
    check both against the ground truth."""
    src = root(f"{tag}-docs")
    generate(
        "docs", "--seed", str(seed * 10 + part), "--out", src,
        "--truth", root(f"{tag}.npz"), "--n-docs", str(n_files * DOCS_PER_FILE),
        "--per-file", str(DOCS_PER_FILE), "--first-id", str(part * 10_000_000 + 1),
    )
    truth = np.load(root(f"{tag}.npz"))
    cur = Curation(spark, root(tag), tracer)
    before = EngineSnapshot(spark) if tracer.enabled else None
    with _patched(tracer) as rewritten:
        t0 = time.time()
        q = cur.ingest(src)
        ingest_wall = max(cur.ends["ingest"].values()) - t0
        progs = progress(q)
        snap = EngineSnapshot(spark) - before if tracer.enabled else None

        _, out, index = cur.paths
        admitted = sorted(_ids(spark, out))
        rng = np.random.default_rng(seed * 10 + part)
        n_req = max(1, int(round(ERASE_FRAC * len(admitted))))
        doomed = sorted(int(x) for x in rng.choice(admitted, n_req, replace=False))
        # the deletion requests arrive as one file: one erasure trigger
        req_src = root(f"{tag}-requests")
        os.makedirs(req_src)
        with open(os.path.join(req_src, ".requests.json"), "w") as fh:
            fh.writelines(json.dumps({"doc_id": d}) + "\n" for d in doomed)
        os.rename(os.path.join(req_src, ".requests.json"), os.path.join(req_src, "requests.json"))
        t1 = time.time()
        cur.erase(req_src)
        erase_wall = max(cur.ends["erase"].values()) - t1
    log(f"{tag}: ingest {n_files} files {ingest_wall:.2f}s, erase {n_req} ids {erase_wall:.2f}s")

    # -- checks against the generator's ground truth --------------------
    failures: list[str] = []
    failed = 0
    doc_ids, dup_of = truth["doc_id"], truth["dup_of"]
    is_dup = dup_of >= 0
    adm = set(admitted)
    rejected = set(doc_ids.tolist()) - adm
    true_dups = set(doc_ids[is_dup].tolist())
    wrong_reject = rejected - true_dups
    unknown = adm - set(doc_ids.tolist())
    recall = len(rejected & true_dups) / max(1, len(true_dups))
    precision = len(rejected & true_dups) / max(1, len(rejected))
    if wrong_reject or unknown:
        failures.append(f"dedup(rejected_originals={len(wrong_reject)},unknown={len(unknown)})")
        failed += len(wrong_reject) + len(unknown)
    if recall < RECALL_FLOOR:
        missed = len(true_dups - rejected)
        failures.append(f"dedup.recall({recall:.4f}<{RECALL_FLOOR})")
        failed += missed
    kept = adm - set(doomed)
    after_out = _ids(spark, out)
    after_index = _ids(spark, f"{index}/doclens")
    for name, got in (("accepted", after_out), ("doclens", after_index)):
        bad = len(set(got) ^ kept) + (len(got) - len(set(got)))
        if bad:
            failures.append(f"erasure.{name}(bad_ids={bad})")
            failed += bad

    n_batches = len(cur.ends["ingest"])
    trig = {p["batchId"]: epoch(p["timestamp"]) for p in progs}
    # the drain's first batches are its warm-up (the JIT is still
    # compiling this plan's code paths): timing starts at their end
    ends = cur.ends["ingest"]
    order = sorted(ends)
    timed = order[WARMUP_BATCHES:]
    lat = [(ends[b] - trig[b]) * 1000 for b in timed]
    steady_s = ends[order[-1]] - ends[order[WARMUP_BATCHES - 1]]
    m = {
        "throughput_rps": (DOCS_PER_FILE * len(timed) / steady_s, "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p90_ms": (percentile(lat, 90), "ms"),
        "_attempted": len(doc_ids) + n_req,
        "_failed": failed,
        "_failures": failures,
        "_notes": latency_notes(
            lat, f"{len(timed)} batches of {DOCS_PER_FILE} docs after {WARMUP_BATCHES} warm-up"
        ),
        "_report": (
            f"erase_rps {n_req / erase_wall:.4f} 1/s ({n_req} requests)  "
            f"dedup_recall {recall:.6f}  dedup_precision {precision:.6f}  "
            f"batch s: {' '.join(f'{x / 1000:.2f}' for x in lat)}"
        ),
    }
    if tracer.enabled:
        busy, selfs = tracer.busy(), tracer.self_times()
        nb = max(1, n_batches)
        ne = max(1, len(cur.ends["erase"]))
        store = cur.paths[0]
        m.update({
            "corpus_dedup.busy_ms": (busy.get("corpus_dedup", 0) * 1000 / nb, "ms"),
            "corpus_dedup.self_ms": (selfs.get("corpus_dedup", 0) * 1000 / nb, "ms"),
            "corpus_dedup.admitted": (len(adm), "count"),
            "corpus_dedup.rejected": (len(rejected), "count"),
            "corpus_dedup.store_files": (_files(store), "count"),
            "corpus_dedup.recall": (recall, "ratio"),
            "corpus_dedup.precision": (precision, "ratio"),
            "text_ingest.busy_ms": (busy.get("text_ingest", 0) * 1000 / nb, "ms"),
            "text_ingest.self_ms": (selfs.get("text_ingest", 0) * 1000 / nb, "ms"),
            "text_ingest.postings_rows": (spark.read.parquet(f"{index}/postings").count(), "count"),
            "text_ingest.index_files": (_files(index), "count"),
            "curated_ingest.self_ms": (selfs.get("curated_ingest", 0) * 1000 / nb, "ms"),
            "curated_ingest.erase_busy_ms": (busy.get("curated_ingest.erase", 0) * 1000 / ne, "ms"),
            "curated_ingest.erase_rps": (n_req / erase_wall, "1/s"),
            "curated_ingest.partitions_rewritten": (sum(rewritten), "count"),
            "curated_ingest.rewrites_per_doc": (sum(rewritten) / n_req, "ratio"),
            "sources.input_rows": (sum(p["numInputRows"] for p in progs), "count"),
            "sources.get_batch_ms": (
                sum(p["durationMs"].get("getBatch", 0) + p["durationMs"].get("latestOffset", 0) for p in progs) / nb,
                "ms",
            ),
            "loadgen.rows_offered": (len(doc_ids) + n_req, "count"),
        })
        m.update(engine_layer(progs, cur.ends["ingest"], snap, ingest_wall, cpus))
    return m


def run_curate(ctx) -> dict:
    spark_factory, root, seed, seconds, tracer = (
        ctx["spark_factory"], ctx["root"], ctx["seed"], ctx["seconds"], ctx["tracer"]
    )
    generate(
        "docs", "--seed", str(seed * 10), "--out", root("setup-docs"),
        "--truth", root("setup.npz"), "--n-docs", str(SETUP_REPS * DOCS_PER_FILE),
        "--per-file", str(DOCS_PER_FILE), "--first-id", "1",
    )
    files = sorted(glob.glob(root("setup-docs", "part-*.json")))
    t_setup = time.time()
    spark = spark_factory()
    session_s = time.time() - t_setup
    # each repetition: a fresh store and query on one full-size trigger;
    # the last, warm one also sizes the measured run
    reps = []
    for i in range(SETUP_REPS):
        src = root(f"setup{i}-src")
        os.makedirs(src)
        os.rename(files[i], os.path.join(src, "part.json"))
        cur = Curation(spark, root(f"setup{i}"), Tracer("setup", False))
        t0 = time.time()
        cur.ingest(src)
        reps.append(cur.ends["ingest"][min(cur.ends["ingest"])] - t0)
    # the drain, its warm-up batches included, lasts about ``seconds``
    # and times at least two batches
    n_files = max(WARMUP_BATCHES + 2, math.ceil(seconds / max(reps[-1], 0.05)))
    log(f"session {session_s:.2f}s, setup reps {[round(r, 2) for r in reps]} -> {n_files} files")
    cpus = ctx["cpus"]
    if not tracer.enabled:
        m = _measure(spark, root, tracer, seed, n_files, "measured", 1, cpus)
    else:
        # the traced phase between two untraced ones, each on a fresh
        # store, so that warm-up favours neither side of the overhead;
        # one timed trigger each keeps the run inside its time limit
        off = Tracer(tracer.workload, False)
        n = WARMUP_BATCHES + 1
        before = _measure(spark, root, off, seed, n, "untraced1", 2, cpus)
        m = _measure(spark, root, tracer, seed, n, "measured", 1, cpus)
        after = _measure(spark, root, off, seed, n, "untraced2", 3, cpus)
        m["trace.overhead_pct"] = (overhead_pct([before, after], m, "throughput_rps"), "%")
    m["setup_s"] = (session_s + median(reps), "s")
    m["_session_s"] = session_s
    return m
