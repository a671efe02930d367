"""Seeded load generator for the perfbench workloads — a standalone
process, separate from the system under test.

Modes (``python3 perfbench/loadgen.py <mode> --help``):

``backlog``  a content dimension plus a pre-generated backlog of
             Debezium JSON envelopes (schemas disabled), one file per
             fixed-size trigger.
``live``     the same envelopes on an open-loop schedule: one file every
             ``--interval`` seconds at ``--rate`` events/s, whatever the
             stream is doing.  Every file's scheduled time is stamped in
             a manifest beside the actual write time, so the harness can
             time events from when they were due and check how late the
             generator itself ran.
``docs``     documents of ~50 words; a share of them are one-word edits
             of earlier documents (near-duplicates).

Every file is written under a dot-prefixed temporary name and then
renamed, so a file source never lists a partial file.  Ground truth
(each event's id, kind, time and field values; the near-duplicate map)
goes to a ``.npz`` beside the output.  One process, one thread.

Event shape (the package's CDC contract, ``sources/cdc.py``):
``user_id`` carries the content key the dimension is keyed by (the
package's flagship mapping joins ``events.user_id = c_custkey``),
``value`` the watched duration in ms, ``props`` a JSON string with
``k``, ``device`` and the viewer ``user``.  Durations run up to three
times the content length.
"""

from __future__ import annotations

import argparse
import json
import os
import time

import numpy as np

EVENT_TYPES = ("play", "pause", "finish", "click")
DEVICES = ("ios", "android", "web", "web-safari", "tv")
CONTENT_TYPES = ("podcast", "newsletter", "video")

# event kinds in the ground truth
OK, DUP, LATE, DELETE, MALFORMED = 0, 1, 2, 3, 4

BASE_TS_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
N_CONTENT = 2000  # rows of the content dimension
# live schedule only: shares of redelivered duplicates (of an event from
# the last ~10 s, inside the watermark) and of events 20 minutes late
DUP_FRAC, LATE_FRAC = 0.02, 0.01
LATE_BY_US = 20 * 60 * 1_000_000
# documents: vocabulary size and share of one-word edits of an original
VOCAB, NEAR_DUP_FRAC = 20_000, 0.3


def atomic_write(path: str, text: str) -> None:
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, path)


def iso(ts_us: int) -> str:
    secs, us = divmod(int(ts_us), 1_000_000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{us:06d}Z"


def zipf_keys(rng: np.random.Generator, n: int, size: int, a: float = 1.2):
    """Zipf-skewed keys folded into ``1..n`` (rank 1 is the hottest)."""
    return ((rng.zipf(a, size) - 1) % n) + 1


def write_dimension(rng: np.random.Generator, path: str) -> None:
    lengths = rng.integers(60, 3600, N_CONTENT)
    null_len = rng.random(N_CONTENT) < 0.02
    types = rng.integers(0, len(CONTENT_TYPES), N_CONTENT)
    lines = []
    for i in range(N_CONTENT):
        key = i + 1
        length = "null" if null_len[i] else str(int(lengths[i]))
        lines.append(
            f'{{"content_key": {key}, "slug": "c-{key}", '
            f'"title": "Content {key}", '
            f'"content_type": "{CONTENT_TYPES[types[i]]}", '
            f'"length_seconds": {length}}}'
        )
    atomic_write(path, "\n".join(lines) + "\n")


class EventFactory:
    """Envelope lines for one seed: content keys over the dimension's
    ``N_CONTENT`` rows (plus ~1% unknown keys the left join misses)."""

    def __init__(self, seed: int, lengths: dict[int, int | None]):
        self.rng = np.random.default_rng(seed)
        self.lengths = lengths
        self.next_id = 1

    def _after(self, eid: int, ts_us: int, key: int, u: float, r: np.ndarray):
        """The envelope's ``after`` object, and its truth fields
        ``(value_ms or -1 for NULL, event type index, props k)``."""
        length = self.lengths.get(key) or 600
        value = -1 if r[0] < 0.01 else round(u * 3.0 * length * 1000.0)
        dur = "null" if value < 0 else repr(value)
        etype = int(r[1] * len(EVENT_TYPES))
        device = DEVICES[int(r[2] * len(DEVICES))]
        user = int(r[3] * 50_000)
        k = int(r[4] * 100)
        props = (
            f'{{\\"k\\": {k}, \\"device\\": \\"{device}\\", '
            f'\\"user\\": \\"u{user}\\"}}'
        )
        line = (
            f'{{"event_id": {eid}, "ts": "{iso(ts_us)}", "user_id": {key}, '
            f'"event_type": "{EVENT_TYPES[etype]}", "value": {dur}, "props": "{props}"}}'
        )
        return line, (value, etype, k)

    def envelopes(
        self, ts_us: np.ndarray, dup_pool: list[tuple[str, tuple]] | None = None
    ) -> tuple[list[str], list[tuple]]:
        """One envelope line per entry of ``ts_us`` (event times), and
        per line its truth ``(event_id, kind, ts_us, key, value_ms,
        event type index, props k)`` — id 0 for deletes and malformed
        lines.  With a ``dup_pool`` (the live schedule) a share of lines
        are redeliveries, which re-send a recent line from the pool
        verbatim, and a share are late; the pool collects
        ``(line, truth)`` of the on-time events."""
        rng = self.rng
        dup_frac, late_frac = (DUP_FRAC, LATE_FRAC) if dup_pool is not None else (0.0, 0.0)
        n = len(ts_us)
        keys = zipf_keys(rng, N_CONTENT, n)
        unknown = rng.random(n) < 0.01
        keys = np.where(unknown, N_CONTENT + 1 + rng.integers(0, 1000, n), keys)
        kind_r = rng.random(n)
        u = rng.random(n)
        r = rng.random((n, 5))
        lines: list[str] = []
        truth: list[tuple] = []
        none = (0, 0, -1, 0, 0)  # ts_us, key, value, etype, k
        for i in range(n):
            kr = kind_r[i]
            if kr < 0.005:
                lines.append(
                    '{"payload": {"op": "d", "before": null, "after": null, '
                    f'"ts_ms": {int(ts_us[i]) // 1000}}}}}'
                )
                truth.append((0, DELETE, *none))
            elif kr < 0.01:
                lines.append('{"payload": {"op": "c", "after": {"event_id": ')
                truth.append((0, MALFORMED, *none))
            elif dup_pool and kr < 0.01 + dup_frac:
                line, orig = dup_pool[int(u[i] * len(dup_pool))]
                lines.append(line)
                truth.append((orig[0], DUP, *orig[2:]))
            else:
                ts = int(ts_us[i])
                kind = OK
                if kr >= 1.0 - late_frac:
                    ts -= LATE_BY_US
                    kind = LATE
                eid = self.next_id
                self.next_id += 1
                key = int(keys[i])
                after, fields = self._after(eid, ts, key, float(u[i]), r[i])
                line = (
                    '{"payload": {"op": "c", "before": null, "after": '
                    + after
                    + f', "ts_ms": {ts // 1000}}}}}'
                )
                row = (eid, kind, ts, key, *fields)
                lines.append(line)
                truth.append(row)
                if dup_pool is not None and kind == OK:
                    dup_pool.append((line, row))
        return lines, truth


def read_lengths(dim_path: str) -> dict[int, int | None]:
    with open(dim_path) as fh:
        rows = [json.loads(line) for line in fh]
    return {r["content_key"]: r["length_seconds"] for r in rows}


TRUTH_COLUMNS = ("event_id", "kind", "ts_us", "key", "value", "etype", "k")


def save_truth(path: str, files: list[int], rows: list[tuple]) -> None:
    """Event truth as int64 columns (``TRUTH_COLUMNS`` plus file_no);
    ``value`` is the duration in ms, -1 for NULL."""
    cols = np.asarray(rows, dtype=np.int64).reshape(-1, len(TRUTH_COLUMNS))
    tmp = path + ".tmp.npz"
    np.savez(
        tmp,
        **{name: cols[:, i] for i, name in enumerate(TRUTH_COLUMNS)},
        file_no=np.asarray(files, dtype=np.int64),
    )
    os.rename(tmp, path)


def cmd_backlog(a) -> None:
    """``--part`` numbers independent backlogs of one seed (distinct
    random streams and event-id ranges); the dimension is written once
    and reused by every later part."""
    os.makedirs(a.out, exist_ok=True)
    if not os.path.exists(a.dim):
        write_dimension(np.random.default_rng(a.seed), a.dim)
    fac = EventFactory(a.seed * 1000 + a.part + 1, read_lengths(a.dim))
    fac.next_id = a.part * 1_000_000_000 + 1
    files: list[int] = []
    rows: list[tuple] = []
    for f in range(a.files):
        # one event per ms of event time, continuing across files
        ts = BASE_TS_US + (np.arange(a.per_file) + f * a.per_file) * 1000
        lines, truth = fac.envelopes(ts)
        atomic_write(os.path.join(a.out, f"part-{f:05d}.json"), "\n".join(lines) + "\n")
        files += [f] * len(truth)
        rows += truth
    save_truth(a.truth, files, rows)


def cmd_live(a) -> None:
    """Open loop: file ``i`` is due at ``start_at + i * interval``.  The
    schedule never waits for the consumer; a generator that falls
    behind writes the overdue files at once and reports its lateness."""
    fac = EventFactory(a.seed * 1000 + 999, read_lengths(a.dim))
    fac.next_id = 999_000_000_001
    os.makedirs(a.out, exist_ok=True)
    per_file = int(round(a.rate * a.interval))
    pool: list[tuple[str, tuple]] = []
    files: list[int] = []
    rows: list[tuple] = []
    manifest = []
    for f in range(int(a.seconds / a.interval)):
        if os.path.exists(a.stop):
            break
        sched = a.start_at + f * a.interval
        # redeliveries re-send one of the last ~10 s of events: well
        # inside the 10-minute watermark
        del pool[: max(0, len(pool) - per_file * 40)]
        lines, truth = fac.envelopes(np.full(per_file, int(sched * 1_000_000)), pool)
        text = "\n".join(lines) + "\n"
        delay = sched - time.time()
        if delay > 0:
            time.sleep(delay)
        name = f"part-{f:05d}.json"
        atomic_write(os.path.join(a.out, name), text)
        manifest.append({"file": f, "sched": sched, "written": time.time()})
        files += [f] * len(truth)
        rows += truth
    save_truth(a.truth, files, rows)
    atomic_write(a.manifest, "\n".join(json.dumps(m) for m in manifest) + "\n")


def make_vocab(n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    out = []
    for i in range(n):
        w, x = "", i
        while True:
            w += letters[x % 26]
            x //= 26
            if x == 0:
                break
        out.append("w" + w)
    return out


def cmd_docs(a) -> None:
    """Documents in id order; each near-duplicate is a one-word edit of
    an earlier ORIGINAL (``dup_of`` in the truth, -1 for originals)."""
    rng = np.random.default_rng(a.seed)
    os.makedirs(a.out, exist_ok=True)
    vocab = make_vocab(VOCAB)
    n = a.n_docs
    is_dup = rng.random(n) < NEAR_DUP_FRAC
    is_dup[: max(1, a.per_file // 10)] = False  # a dup needs an earlier original
    texts: list[str] = []
    dup_of = np.full(n, -1, dtype=np.int64)
    originals: list[int] = []
    for i in range(n):
        if is_dup[i] and originals:
            src = originals[int(rng.integers(0, len(originals)))]
            words = texts[src - a.first_id].split(" ")
            pos = int(rng.integers(0, len(words)))
            words[pos] = vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(words))
            dup_of[i] = src
        else:
            n_words = int(rng.integers(40, 61))
            words = rng.integers(0, len(vocab), n_words)
            texts.append(" ".join(vocab[w] for w in words))
            originals.append(a.first_id + i)
    for f in range(0, n, a.per_file):
        lines = [
            json.dumps({"doc_id": a.first_id + i, "text": texts[i]})
            for i in range(f, min(n, f + a.per_file))
        ]
        atomic_write(
            os.path.join(a.out, f"part-{f // a.per_file:05d}.json"),
            "\n".join(lines) + "\n",
        )
    tmp = a.truth + ".tmp.npz"
    np.savez(tmp, doc_id=np.arange(n) + a.first_id, dup_of=dup_of)
    os.rename(tmp, a.truth)


def main(argv: list[str] | None = None) -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="mode", required=True)

    b = sub.add_parser("backlog", help="dimension + pre-generated envelope backlog")
    b.add_argument("--files", type=int, required=True)
    b.add_argument("--per-file", type=int, required=True)
    b.add_argument("--part", type=int, required=True, help="independent backlog number")

    lv = sub.add_parser("live", help="open-loop envelope files on a fixed schedule")
    lv.add_argument("--rate", type=float, required=True, help="events per second")
    lv.add_argument("--interval", type=float, required=True, help="seconds per file")
    lv.add_argument("--seconds", type=float, required=True, help="schedule length")
    lv.add_argument("--start-at", type=float, required=True, help="epoch of file 0")
    lv.add_argument("--manifest", required=True)
    lv.add_argument("--stop", required=True, help="stop early once this file exists")

    d = sub.add_parser("docs", help="documents with near-duplicates")
    d.add_argument("--n-docs", type=int, required=True)
    d.add_argument("--per-file", type=int, required=True)
    d.add_argument("--first-id", type=int, required=True)

    for s in (b, lv, d):
        s.add_argument("--seed", type=int, required=True)
        s.add_argument("--out", required=True, help="directory the files land in")
        s.add_argument("--truth", required=True, help="ground-truth .npz path")
    for s in (b, lv):
        s.add_argument("--dim", required=True, help="content dimension JSONL path")

    a = p.parse_args(argv)
    {"backlog": cmd_backlog, "live": cmd_live, "docs": cmd_docs}[a.mode](a)


if __name__ == "__main__":
    main()
