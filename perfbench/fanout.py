"""The CDC fan-out workloads: ``fanout_backfill`` (closed drain of a
pre-generated backlog) and ``fanout_live`` (open loop at a fixed rate).

Plan, built only from the package's public functions:
``json_file_stream`` -> ``parse_cdc_envelope`` [-> ``dedup_within_watermark``]
-> ``start_fanout`` with ``enrich_events`` as the transform and three
sinks: ``parquet_sink(project=warehouse_typed)``, a per-batch
``windowed_counts`` leaderboard through ``leaderboard_sink``, and
``webhook_sink``.
"""

from __future__ import annotations

import glob
import json
import math
import os
import subprocess
import sys
import time
from collections import Counter

import numpy as np

from common import (
    EngineSnapshot,
    HERE,
    RunRoot,
    engine_layer,
    epoch,
    file_batches,
    generate,
    latency_notes,
    log,
    median,
    overhead_pct,
    percentile,
    progress,
)
from loadgen import EVENT_TYPES, LATE, OK
from tracing import Tracer

BACKFILL_FILE = 20_000  # events per backfill trigger
LIVE_RATE, LIVE_INTERVAL = 2000, 0.25  # events/s, seconds per file
LIVE_WARM_S = 6.0  # leading seconds of the live schedule left out of latency
LATENCY_LIMIT_MS = 5000  # the reference's promise: an event in the sinks within 5 s
SETUP_REPS = 3
WINDOW_US = 10 * 60 * 1_000_000


class FanoutPipeline:
    """Builds and starts the fan-out query; records when each batch's
    last sink returned and, traced, spans around the transform and each
    sink under a per-batch ``fanout`` span."""

    def __init__(self, spark, dim, tracer: Tracer):
        self.spark = spark
        self.dim = dim
        self.tracer = tracer
        self.ends: dict[int, float] = {}
        self.enrich_rows = 0
        self.enrich_hits = 0
        self._pending: list = []  # spans opened before the batch id is known

    def _transform(self, batch_df):
        from pyspark.sql import functions as F

        from eventstream_fanout_spark.operators.enrichment import enrich_events

        if not self.tracer.enabled:
            return enrich_events(batch_df, self.dim)
        root = self.tracer.open("fanout", -1)
        span = self.tracer.open("enrichment", -1)
        # materialise here so enrichment gets its own span: the program
        # persists the transformed batch anyway
        out = enrich_events(batch_df, self.dim).persist()
        row = out.agg(F.count(F.lit(1)), F.count("c_name")).first()
        self.enrich_rows += row[0]
        self.enrich_hits += row[1]
        self.tracer.close(span)
        self._pending = [root, span]
        return out

    def _sink(self, name, write, first: bool, last: bool):
        from eventstream_fanout_spark.streaming.fanout import FanoutSink

        traced = self.tracer.wrap(f"fanout.{name}", write)

        def run(df, batch_id):
            if first:
                for s in self._pending:
                    s.trace = (s.trace[0], int(batch_id))
            traced(df, batch_id)
            if last:
                self.ends[batch_id] = time.time()
                if self._pending:
                    self.tracer.close(self._pending[0])
                    self._pending = []

        return FanoutSink(name, run)

    def start(self, src: str, out: str, live: bool, trigger: dict | None, name: str):
        from eventstream_fanout_spark.operators.enrichment import warehouse_typed
        from eventstream_fanout_spark.sources.cdc import parse_cdc_envelope
        from eventstream_fanout_spark.streaming.aggregates import (
            dedup_within_watermark,
            windowed_counts,
        )
        from eventstream_fanout_spark.streaming.fanout import (
            leaderboard_sink,
            parquet_sink,
            start_fanout,
            webhook_sink,
        )
        from eventstream_fanout_spark.streaming.sources import json_file_stream

        # backfill: one fixed-size file per trigger; live: every file
        # that has landed (self-sized batches)
        stream = parse_cdc_envelope(
            json_file_stream(self.spark, src, max_files_per_trigger=None if live else 1)
        ).drop("op")
        if live:
            stream = dedup_within_watermark(stream, ["event_id"])
        board = leaderboard_sink(f"{out}/leaderboard", 10, "user_id")

        def board_write(df, batch_id):
            counts = windowed_counts(df, "user_id").select(
                "window_start", "user_id", "n_events"
            )
            board.write(counts, batch_id)

        warehouse = parquet_sink(f"{out}/warehouse", project=warehouse_typed)
        webhook = webhook_sink(f"{out}/webhook")
        sinks = [
            self._sink("warehouse", warehouse.write, True, False),
            self._sink("leaderboard", board_write, False, False),
            self._sink("webhook", webhook.write, False, True),
        ]
        return start_fanout(
            stream,
            sinks,
            checkpoint_dir=f"{out}/checkpoint",
            transform=self._transform,
            trigger=trigger,
            query_name=name,
        )


def content_dim(spark, path: str):
    """The generated content dimension in the shape ``enrich_events``
    joins (``c_custkey`` = content key).  ``c_acctbal`` carries the
    content length in ms, so the package's ``100 * value / c_acctbal``
    is the percent of the content watched (at most ~300)."""
    from pyspark.sql import functions as F

    raw = spark.read.schema(
        "content_key long, slug string, title string, "
        "content_type string, length_seconds int"
    ).json(path)
    dim = raw.select(
        F.col("content_key").alias("c_custkey"),
        F.col("slug").alias("c_name"),
        F.col("content_type").alias("c_mktsegment"),
        (F.col("length_seconds") * F.lit(1000.0)).alias("c_acctbal"),
    ).cache()
    dim.count()
    return dim


def _setup(spark, root: RunRoot, dim, files: list[str], live: bool) -> list[float]:
    """Start a fresh query (new checkpoint, new sinks) on one input file
    per repetition; seconds from start to its first batch's return."""
    times = []
    for i, f in enumerate(files):
        src = root(f"setup{i}", "src")
        os.makedirs(src)
        os.rename(f, os.path.join(src, os.path.basename(f)))
        pipe = FanoutPipeline(spark, dim, Tracer("setup", False))
        t0 = time.time()
        q = pipe.start(src, root(f"setup{i}"), live, None, f"setup{i}")
        q.awaitTermination(170)
        q.stop()
        if not pipe.ends:
            raise RuntimeError(f"setup query {i} committed no batch: {q.exception()}")
        times.append(pipe.ends[min(pipe.ends)] - t0)
    return times


# -- correctness ----------------------------------------------------


def _expected(truth, batch_of_file: dict[int, int], watermark_us: dict[int, int]):
    """Which truth rows must reach the sinks exactly once (a mask), and
    the batch each row was read in.  Duplicates never do (the original
    is always earlier and on time); a late row does only if the
    watermark its batch filters late rows with had not passed it (Spark
    drops ``ts <= watermark``; ``watermark_us`` maps batch id to that
    value)."""
    kinds, ts = truth["kind"], truth["ts_us"]
    batch = np.array([batch_of_file.get(int(f), -1) for f in truth["file_no"]])
    wm = np.array([watermark_us.get(int(b), 0) for b in batch])
    keep = (batch >= 0) & ((kinds == OK) | ((kinds == LATE) & (ts > wm)))
    return keep, batch


def _expected_rows(truth, keep, dim_path: str):
    """The warehouse rows of the expected events, recomputed from the
    generator's truth and dimension file without the program: a left
    join on the content key, ``engagement_seconds = value / 1000`` and
    ``engagement_pct = round(100 * value / (length_s * 1000), 2)``
    half-up, NULL when the key is unknown or the value or length is
    NULL, rendered as a decimal(5,2) string."""
    import pandas as pd

    with open(dim_path) as fh:
        dim = {r["content_key"]: r for r in map(json.loads, fh)}
    keys = truth["key"][keep]
    rows = [dim.get(int(k)) for k in keys]
    value = truth["value"][keep].astype(np.float64)
    value[value < 0] = np.nan
    length_ms = np.array(
        [r["length_seconds"] * 1000.0 if r and r["length_seconds"] is not None else np.nan
         for r in rows]
    )
    with np.errstate(invalid="ignore"):
        pct = np.floor(100.0 * value / length_ms * 100.0 + 0.5) / 100.0
    return pd.DataFrame({
        "event_id": truth["event_id"][keep],
        "ts_us": truth["ts_us"][keep],
        "user_id": keys,
        "event_type": [EVENT_TYPES[e] for e in truth["etype"][keep]],
        "value": value,
        "prop_k": truth["k"][keep],
        "c_name": [r["slug"] if r else None for r in rows],
        "c_mktsegment": [r["content_type"] if r else None for r in rows],
        "c_acctbal": length_ms,
        "engagement_seconds": value / 1000.0,
        "engagement_pct": [None if np.isnan(x) else f"{x:.2f}" for x in pct],
    })


def _board_recompute(keys, ts_us) -> set[tuple[int, int, int, int]]:
    counts = Counter(zip((ts_us // WINDOW_US) * WINDOW_US, keys.tolist()))
    per_window: dict[int, list] = {}
    for (w, k), n in counts.items():
        per_window.setdefault(int(w), []).append((-n, int(k)))
    out = set()
    for w, rows in per_window.items():
        for rank, (neg_n, k) in enumerate(sorted(rows)[:10], start=1):
            out.add((w, k, -neg_n, rank))
    return out


def check_outputs(spark, out: str, dim_path: str, truth, batch_of_file, watermark_us):
    """Checks the sinks against the generator's ground truth.
    ``batch_of_file`` maps each file whose batch's callback returned to
    that batch.  Returns (failed record count, list of failed checks)."""
    from pyspark.sql import functions as F

    keep, batch = _expected(truth, batch_of_file, watermark_us)
    ids = truth["event_id"][keep]
    failures: list[str] = []
    failed = 0

    unprocessed = int((batch < 0).sum())
    if unprocessed:
        failures.append(f"unprocessed_files(events={unprocessed})")
        failed += unprocessed

    wh = spark.read.parquet(f"{out}/warehouse")
    if dict(wh.dtypes).get("engagement_pct") != "decimal(5,2)":
        failures.append("warehouse.engagement_pct_type")
        failed += len(ids)
    want = _expected_rows(truth, keep, dim_path)
    got = wh.select(
        *[c for c in want.columns if c not in ("ts_us", "engagement_pct")],
        F.unix_micros("ts").alias("ts_us"),
        F.col("engagement_pct").cast("string").alias("engagement_pct"),
    ).toPandas()
    want_ids, got_ids = Counter(ids.tolist()), Counter(got["event_id"].tolist())
    missing = sum((want_ids - got_ids).values())
    extra = sum((got_ids - want_ids).values())
    if missing or extra:
        kinds = dict(zip(truth["event_id"].tolist(), truth["kind"].tolist()))
        bad = list((got_ids - want_ids) + (want_ids - got_ids))[:10]
        log(f"warehouse ids that differ (event_id, kind): {[(i, kinds.get(i)) for i in bad]}")
        failures.append(f"warehouse(missing={missing},extra={extra})")
        failed += missing + extra
    both = want.merge(got.drop_duplicates("event_id"), on="event_id", suffixes=("", "_got"))
    wrong = np.zeros(len(both), dtype=bool)
    columns = []
    for c in want.columns[1:]:
        a, b = both[c], both[f"{c}_got"]
        differs = ~((a == b) | (a.isna() & b.isna())).to_numpy()
        if differs.any():
            columns.append(c)
            wrong |= differs
    if wrong.any():
        log(f"warehouse rows with wrong values: {both[wrong].head(5).to_dict('records')}")
        failures.append(f"warehouse.values(rows={int(wrong.sum())},columns={columns})")
        failed += int(wrong.sum())

    log("checked warehouse")
    deliveries: Counter = Counter()
    for path in glob.glob(f"{out}/webhook/*.jsonl"):
        with open(path) as fh:
            for line in fh:
                deliveries[json.loads(line)["idempotency_key"]] += 1
    want_keys = Counter(str(int(i)) for i in ids)
    bad = sum(((deliveries - want_keys) + (want_keys - deliveries)).values())
    if bad:
        failures.append(f"webhook(bad_deliveries={bad})")
        failed += bad

    log("checked webhook")
    batch = batch[keep]
    in_last = batch == (int(batch.max()) if len(batch) else -1)
    board = {
        (r[0], r[1], r[2], r[3])
        for r in spark.read.parquet(f"{out}/leaderboard")
        .select(F.unix_micros("window_start"), "user_id", "n_events", "rank")
        .collect()
    }
    if board != _board_recompute(truth["key"][keep][in_last], truth["ts_us"][keep][in_last]):
        failures.append("leaderboard.top10")
        failed += int(in_last.sum())
    return failed, failures


# -- the two workloads ----------------------------------------------


def _layers_common(pipe: FanoutPipeline, tracer: Tracer, out: str, n_batches: int):
    n = max(1, n_batches)
    busy, selfs = tracer.busy(), tracer.self_times()
    wh_files = glob.glob(f"{out}/warehouse/**/*.parquet", recursive=True)
    return {
        "enrichment.busy_ms": (busy.get("enrichment", 0) * 1000 / n, "ms"),
        "enrichment.self_ms": (selfs.get("enrichment", 0) * 1000 / n, "ms"),
        "enrichment.rows_out": (pipe.enrich_rows, "count"),
        "enrichment.dim_hit_ratio": (pipe.enrich_hits / max(1, pipe.enrich_rows), "ratio"),
        "fanout.batch_ms": (busy.get("fanout", 0) * 1000 / n, "ms"),
        "fanout.overhead_ms": (selfs.get("fanout", 0) * 1000 / n, "ms"),
        "fanout.self_ms": (
            sum(v for k, v in selfs.items() if k.startswith("fanout")) * 1000 / n,
            "ms",
        ),
        "fanout.warehouse.busy_ms": (busy.get("fanout.warehouse", 0) * 1000 / n, "ms"),
        "fanout.warehouse.files": (len(wh_files) / n, "count"),
        "fanout.warehouse.bytes": (sum(os.path.getsize(f) for f in wh_files) / n, "bytes"),
        "fanout.leaderboard.busy_ms": (busy.get("fanout.leaderboard", 0) * 1000 / n, "ms"),
        "fanout.webhook.busy_ms": (busy.get("fanout.webhook", 0) * 1000 / n, "ms"),
        "fanout.webhook.files": (len(glob.glob(f"{out}/webhook/*.jsonl")) / n, "count"),
    }


def _state_layer(progs, n_batches: int) -> dict:
    ops = [op for p in progs for op in p.get("stateOperators", [])]
    last = ops[-1] if ops else {}
    n = max(1, n_batches)
    return {
        "aggregates.state_rows": (last.get("numRowsTotal", 0), "count"),
        "aggregates.state_bytes": (last.get("memoryUsedBytes", 0), "bytes"),
        "aggregates.commit_ms": (sum(op.get("commitTimeMs", 0) for op in ops) / n, "ms"),
        "aggregates.dropped_late": (sum(op.get("numRowsDroppedByWatermark", 0) for op in ops), "count"),
        "aggregates.dropped_dup": (
            sum(op.get("customMetrics", {}).get("numDroppedDuplicateRows", 0) for op in ops),
            "count",
        ),
    }


def _sources_layer(progs, pipe, state: dict, lag_s: float) -> dict:
    n = max(1, len(pipe.ends))
    rows_in = sum(p["numInputRows"] for p in progs)
    dropped_state = state["aggregates.dropped_late"][0] + state["aggregates.dropped_dup"][0]
    return {
        "sources.input_rows": (rows_in, "count"),
        "sources.dropped_rows": (rows_in - pipe.enrich_rows - dropped_state, "count"),
        "sources.get_batch_ms": (
            sum(
                p["durationMs"].get("getBatch", 0) + p["durationMs"].get("latestOffset", 0)
                for p in progs
                if p["batchId"] in pipe.ends
            )
            / n,
            "ms",
        ),
        "sources.lag_s_max": (lag_s, "s"),
    }


def _measure(spark, root, dim, tracer, src, tag, live, trigger, wait):
    pipe = FanoutPipeline(spark, dim, tracer)
    out = root(tag)
    before = EngineSnapshot(spark) if tracer.enabled else None
    t0 = time.time()
    q = pipe.start(src, out, live, trigger, tag)
    try:
        wait(q)
    finally:
        q.stop()
    wall = time.time() - t0
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    snap = EngineSnapshot(spark) - before if tracer.enabled else None
    return pipe, out, progress(q), t0, wall, snap


def _run(ctx, live: bool) -> dict:
    spark_factory, root, seed, seconds, tracer, cpus = (
        ctx["spark_factory"], ctx["root"], ctx["seed"], ctx["seconds"], ctx["tracer"], ctx["cpus"]
    )
    # set-up repetitions run on files of the workload's own trigger size
    per_file = int(LIVE_RATE * LIVE_INTERVAL) if live else BACKFILL_FILE
    generate(
        "backlog", "--seed", str(seed), "--out", root("setup"), "--truth", root("setup.npz"),
        "--dim", root("dim.json"), "--part", "0", "--files", str(SETUP_REPS),
        "--per-file", str(per_file),
    )
    t_setup = time.time()
    spark = spark_factory()
    dim = content_dim(spark, root("dim.json"))
    session_s = time.time() - t_setup
    reps = _setup(spark, root, dim, sorted(glob.glob(root("setup", "part-*.json"))), live)
    setup_s = session_s + median(reps)
    log(f"session {session_s:.2f}s, setup reps {[round(r, 2) for r in reps]}")

    def phase(tr: Tracer, tag: str, part: int) -> dict:
        if live:
            # a traced run measures three phases: each gets half the
            # window, which keeps the run inside its time limit
            window = seconds / 2 if tracer.enabled else seconds
            return _live(spark, root, dim, tr, seed, window, cpus, tag)
        # the last (warm) repetition sizes the backfill; one more file
        # is the measured drain's own first, warm-up batch
        n_files = 1 + max(3, math.ceil(seconds / max(reps[-1], 0.05)))
        return _backfill(spark, root, dim, tr, seed, n_files, cpus, tag, part)

    if not tracer.enabled:
        result = phase(tracer, "measured", 1)
    else:
        # the traced phase between two untraced ones, each on fresh
        # sinks, so that warm-up favours neither side of the overhead
        off = Tracer(tracer.workload, False)
        before = phase(off, "untraced1", 2)
        result = phase(tracer, "measured", 1)
        after = phase(off, "untraced2", 3)
        key = "latency_p50_ms" if live else "throughput_rps"
        result["trace.overhead_pct"] = (overhead_pct([before, after], result, key), "%")
    result["setup_s"] = (setup_s, "s")
    result["_session_s"] = session_s
    return result


def _batch_of_file(out: str, ends: dict[int, float]) -> dict[int, int]:
    """Generated file number -> the batch that read it, for the batches
    whose fan-out callback returned (from the file source's own log)."""
    fb = file_batches(f"{out}/checkpoint")
    return {int(name[5:10]): b for name, b in fb.items() if b in ends}


def _backfill(spark, root, dim, tracer, seed, n_files, cpus, tag, part) -> dict:
    src = root(f"{tag}-backlog")
    generate(
        "backlog", "--seed", str(seed), "--part", str(part), "--out", src,
        "--truth", root(f"{tag}.npz"), "--dim", root("dim.json"),
        "--files", str(n_files), "--per-file", str(BACKFILL_FILE),
    )
    truth = np.load(root(f"{tag}.npz"))
    pipe, out, progs, t0, wall, snap = _measure(
        spark, root, dim, tracer, src, tag, False, None,
        lambda q: q.awaitTermination(170),
    )
    log(f"drained {n_files} files in {wall:.2f}s; checking")
    batch_of_file = _batch_of_file(out, pipe.ends)
    n_offered = len(truth["event_id"])
    trig = {p["batchId"]: epoch(p["timestamp"]) for p in progs}
    # the first batch of the drain is its warm-up: timing starts at its end
    order = sorted(pipe.ends)
    steady = order[1:]
    lat = [(pipe.ends[b] - trig[b]) * 1000 for b in steady]
    records = BACKFILL_FILE * len(steady)
    steady_s = pipe.ends[order[-1]] - pipe.ends[order[0]]
    failed, failures = check_outputs(spark, out, root("dim.json"), truth, batch_of_file, {})
    m = {
        "throughput_rps": (records / steady_s, "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p90_ms": (percentile(lat, 90), "ms"),
        "_attempted": n_offered,
        "_failed": failed,
        "_failures": failures,
        "_notes": latency_notes(
            lat, f"{len(lat)} batches of {BACKFILL_FILE} events after 1 warm-up batch"
        ),
    }
    if tracer.enabled:
        m.update(_layers_common(pipe, tracer, out, len(pipe.ends)))
        state = _state_layer(progs, len(pipe.ends))
        m.update(state)
        m.update(_sources_layer(progs, pipe, state, max(trig.values()) - t0))
        m.update(engine_layer(progs, pipe.ends, snap, wall, cpus))
        m["loadgen.rows_offered"] = (n_offered, "count")
        m["loadgen.late_ms_max"] = (0.0, "ms")
    return m


def _live(spark, root, dim, tracer, seed, seconds, cpus, tag) -> dict:
    sched_s = LIVE_WARM_S + seconds
    src, stop, manifest_path = root(f"{tag}-live"), root(f"{tag}.stop"), root(f"{tag}.manifest")
    start_at = time.time() + 1.0
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(HERE, "loadgen.py"), "live",
            "--seed", str(seed), "--out", src, "--truth", root(f"{tag}.npz"),
            "--dim", root("dim.json"), "--rate", str(LIVE_RATE),
            "--interval", str(LIVE_INTERVAL), "--seconds", str(sched_s),
            "--start-at", repr(start_at), "--manifest", manifest_path, "--stop", stop,
        ]
    )
    os.makedirs(src, exist_ok=True)

    def wait(q):
        try:
            while gen.poll() is None:
                if q.exception() is not None or not q.isActive:
                    return
                time.sleep(0.05)
            q.processAllAvailable()
        finally:
            open(stop, "w").close()
            gen.wait(timeout=60)

    pipe, out, progs, t0, wall, snap = _measure(
        spark, root, dim, tracer, src, tag, True,
        {"processingTime": "0 seconds"}, wait,
    )
    if gen.returncode != 0:
        raise RuntimeError(f"load generator exited with {gen.returncode}")
    truth = np.load(root(f"{tag}.npz"))
    with open(manifest_path) as fh:
        manifest = [json.loads(line) for line in fh]
    batch_of_file = _batch_of_file(out, pipe.ends)
    # a batch drops rows at or below the PREVIOUS batch's watermark
    # (Spark's watermark for late events; its own is for state eviction)
    wm = {
        p["batchId"] + 1: int(epoch(p["eventTime"]["watermark"]) * 1_000_000)
        for p in progs
        if "watermark" in p.get("eventTime", {})
    }
    per_file = int(LIVE_RATE * LIVE_INTERVAL)
    lat, late_gen, lag, batches = [], [], [], set()
    trig = {p["batchId"]: epoch(p["timestamp"]) for p in progs}
    for m in manifest:
        late_gen.append(m["written"] - m["sched"])
        b = batch_of_file.get(m["file"])
        if b is None:
            continue
        lag.append(trig[b] - m["sched"])
        if m["sched"] >= start_at + LIVE_WARM_S:
            lat.append((pipe.ends[b] - m["sched"]) * 1000)  # per file
            batches.add(b)
    n_offered = len(truth["event_id"])
    log(f"live phase {wall:.2f}s, {len(pipe.ends)} batches; checking")
    failed, failures = check_outputs(spark, out, root("dim.json"), truth, batch_of_file, wm)
    m = {
        "throughput_rps": (n_offered / (max(pipe.ends.values()) - start_at), "1/s"),
        "latency_p50_ms": (percentile(lat, 50), "ms"),
        "latency_p90_ms": (percentile(lat, 90), "ms"),
        "_attempted": n_offered,
        "_failed": failed,
        "_failures": failures,
        "_notes": latency_notes(
            lat, f"{len(lat) * per_file} events in {len(batches)} batches", LATENCY_LIMIT_MS
        ),
        "_gen_late_ms_max": max(late_gen) * 1000 if late_gen else 0.0,
        "_report": "batch s/rows: " + " ".join(
            f"{pipe.ends[p['batchId']] - trig[p['batchId']]:.2f}/{p['numInputRows']}"
            for p in progs if p["batchId"] in pipe.ends
        ),
    }
    if tracer.enabled:
        m.update(_layers_common(pipe, tracer, out, len(pipe.ends)))
        state = _state_layer(progs, len(pipe.ends))
        m.update(state)
        m.update(_sources_layer(progs, pipe, state, max(lag) if lag else 0.0))
        m.update(engine_layer(progs, pipe.ends, snap, wall, cpus))
        m["loadgen.rows_offered"] = (n_offered, "count")
        m["loadgen.late_ms_max"] = (m["_gen_late_ms_max"], "ms")
    return m


def run_backfill(ctx) -> dict:
    return _run(ctx, live=False)


def run_live(ctx) -> dict:
    return _run(ctx, live=True)
