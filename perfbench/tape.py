"""Seeded Upstox-shaped tick tape, its open-loop publisher, and the
read-back of which micro-batch consumed which tape file.

The tape is built in memory before any clock starts.  Each file holds
JSON lines, one Upstox ``live_feed`` message per line, each message
carrying one to three instrument feeds (the shape ``schemas.TICK_SCHEMA``
parses).  Instruments are Zipf-skewed; about 5% of ticks have an empty
order-book ladder, a few have no last-traded price (the parser drops
them), and a few are far older than the watermark (the candle operator
drops them).  Event time runs ``SPEEDUP`` times faster than the publish
schedule, so one-minute windows close and state is evicted during a run.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

import numpy as np

N_INSTRUMENTS = 48
ZIPF_S = 1.1
SPEEDUP = 240             # event-time ms per wall-clock ms
EMPTY_LADDER_SHARE = 0.05
NO_PRICE_SHARE = 0.002
LATE_EVERY = 25           # one far-late tick every this many scheduled files
LATE_BY_MS = 2 * 3600 * 1000
FLUSH_AHEAD_MS = 7 * 60 * 1000  # > watermark delay + window length
T0_MS = 1_704_096_000_000       # 2024-01-01 08:00:00 UTC


@dataclass
class TapeFile:
    name: str
    body: bytes
    due_s: float           # offset from the schedule start; -1 = published on demand
    messages: int
    ticks: int             # instrument feeds, valid or not
    kind: str              # warm | lead | burst<k> | steady | flush


@dataclass
class Tape:
    files: list[TapeFile] = field(default_factory=list)
    late_ticks: int = 0    # ticks the watermark must drop
    no_price_ticks: int = 0  # ticks the parser must drop
    late_before_ms: int = T0_MS  # every late tick is older than this
    flush_from_ms: int = 0       # the flush tick's window starts here
    # priced ticks per (one-minute window start ms, instrument)
    candle_ticks: Counter = field(default_factory=Counter)

    def by_kind(self, kind: str) -> list[TapeFile]:
        return [f for f in self.files if f.kind == kind]


def instruments() -> list[str]:
    return [f"NSE_EQ|INE{i:03d}A01{i % 10}{(7 * i) % 10}" for i in range(N_INSTRUMENTS)]


class _Book:
    """Per-instrument random-walk prices and order-book ladders, drawn in
    bulk per file and formatted with templates (the tape must be ready
    within the benchmark's set-up time)."""

    def __init__(self, rng: np.random.Generator, ms_per_tick: int):
        self.rng = rng
        self.names = instruments()
        weights = 1.0 / np.arange(1, N_INSTRUMENTS + 1) ** ZIPF_S
        self.p = weights / weights.sum()
        self.price = [round(float(x), 2) for x in rng.uniform(100.0, 3000.0, N_INSTRUMENTS)]
        self.next_ms = T0_MS
        self.step_ms = ms_per_tick

    def lines(self, n_ticks: int, tape: Tape, fixed_ltt: int | None = None) -> list[str]:
        """JSON lines carrying ``n_ticks`` feeds.  Event times are unique per
        instrument, so open/close (min_by/max_by on event time) are
        deterministic.  ``fixed_ltt`` gives one priced feed at that time."""
        rng, n = self.rng, n_ticks
        # numpy draws, converted to Python scalars for fast formatting
        inst = rng.choice(N_INSTRUMENTS, size=n, p=self.p).tolist()
        sizes = np.minimum(rng.integers(1, 4, n), 1 if fixed_ltt is not None else 3).tolist()
        noise = rng.normal(0.0, 0.0008, n).tolist()
        empty = (rng.random(n) < EMPTY_LADDER_SHARE).tolist()
        no_price = ((rng.random(n) < NO_PRICE_SHARE) & (fixed_ltt is None)).tolist()
        off = (rng.integers(0, 8, (n, 2)) * 0.05).tolist()
        qty = rng.integers(1, 2000, (n, 10)).tolist()
        ltq = rng.integers(1, 500, n).tolist()
        vtt = rng.integers(1, 10**7, n).tolist()
        tbq = rng.integers(1, 10**6, (n, 2)).astype(float).tolist()
        tape.no_price_ticks += sum(no_price)
        out, t = [], 0
        while t < n:
            k = min(sizes[t], n - t)
            feeds, seen = [], set()
            ts0 = self.next_ms if fixed_ltt is None else fixed_ltt
            for j in range(t, t + k):
                i = inst[j]
                while i in seen:  # one feed per instrument per message
                    i = (i + 1) % N_INSTRUMENTS
                seen.add(i)
                px = max(1.0, round(self.price[i] * (1.0 + noise[j]), 2))
                self.price[i] = px
                ltt = fixed_ltt if fixed_ltt is not None else self.next_ms
                self.next_ms += self.step_ms
                if empty[j]:
                    ladder = ""
                else:
                    b0, a0, q = px - off[j][0], px + off[j][1], qty[j]
                    ladder = ",".join(
                        f'{{"bidQ":"{q[2 * v]}","bidP":{round(b0 - 0.05 * v, 2)!r},'
                        f'"askQ":"{q[2 * v + 1]}","askP":{round(a0 + 0.05 * v, 2)!r}}}'
                        for v in range(5))
                ltp = "" if no_price[j] else f'"ltp":{px!r},'
                if not no_price[j]:
                    tape.candle_ticks[(ltt - ltt % 60_000, self.names[i])] += 1
                feeds.append(
                    f'"{self.names[i]}":{{"fullFeed":{{"requestMode":"full_d5","marketFF":{{'
                    f'"ltpc":{{{ltp}"ltt":"{ltt}","ltq":"{ltq[j]}","cp":{px!r}}},'
                    f'"marketLevel":{{"bidAskQuote":[{ladder}]}},"optionGreeks":{{}},'
                    f'"marketOHLC":{{"ohlc":[]}},"atp":{px!r},"vtt":"{vtt[j]}",'
                    f'"tbq":{tbq[j][0]!r},"tsq":{tbq[j][1]!r}}}}}}}')
            out.append(f'{{"type":"live_feed","currentTs":"{ts0}","feeds":{{{",".join(feeds)}}}}}')
            t += k
        return out


def build_tape(
    seed: int,
    rate_ticks_s: int,
    file_interval_s: float,
    lead_s: float,
    steady_s: float,
    warm_files: int,
    burst_ticks: int,
    n_bursts: int,
    burst_files: int,
) -> Tape:
    """Build the whole tape up front, in publish order (warm files, the
    ``lead_s`` schedule, the bursts, the ``steady_s`` schedule, the flush
    tick), so event time only moves forward; the same arguments give the
    same bytes."""
    rng = np.random.default_rng(seed)
    book = _Book(rng, int(SPEEDUP * 1000 / rate_ticks_s))
    tape = Tape()

    def make(name: str, due: float, kind: str, n_ticks: int, late: bool = False) -> None:
        lines = []
        if late:
            # each late tick is alone in its (instrument, window) group, so
            # the state operator's dropped-row count equals the tick count
            lines += book.lines(1, tape, fixed_ltt=T0_MS - LATE_BY_MS + tape.late_ticks * 60_000)
            tape.late_ticks += 1
        lines += book.lines(n_ticks - len(lines), tape)
        body = ("\n".join(lines) + "\n").encode()
        tape.files.append(TapeFile(name, body, due, len(lines), n_ticks, kind))

    per_file = max(2, round(rate_ticks_s * file_interval_s))
    scheduled = 0

    def schedule(kind: str, seconds: float) -> None:
        nonlocal scheduled
        for i in range(int(round(seconds / file_interval_s))):
            make(f"{kind}-{i:06d}.json", i * file_interval_s, kind, per_file,
                 late=(scheduled % LATE_EVERY == LATE_EVERY - 1))
            scheduled += 1

    for i in range(warm_files):
        make(f"warm-{i:04d}.json", -1, "warm", per_file)
    schedule("lead", lead_s)
    for b in range(n_bursts):
        for j in range(burst_files):
            make(f"burst{b}-{j:03d}.json", -1, f"burst{b}", burst_ticks // burst_files)
    schedule("steady", steady_s)
    # the flush tick pushes the watermark past every tape window
    book.next_ms += FLUSH_AHEAD_MS
    tape.flush_from_ms = book.next_ms - book.next_ms % 60_000
    body = (book.lines(1, tape, fixed_ltt=book.next_ms)[0] + "\n").encode()
    tape.files.append(TapeFile("flush.json", body, -1, 1, 1, "flush"))
    return tape


def publish(files: list[TapeFile], staging: str, feed_dir: str) -> float:
    """Write the files outside the watched directory, then rename them all
    in, so the file source never lists a half-written file and a group of
    files lands within microseconds.  Returns the time of the first rename."""
    for f in files:
        with open(os.path.join(staging, f.name), "wb") as fh:
            fh.write(f.body)
    t = time.time()
    for f in files:
        os.rename(os.path.join(staging, f.name), os.path.join(feed_dir, f.name))
    return t


class Publisher(threading.Thread):
    """Open-loop publisher: file ``i`` is due at ``start + due_s`` and is
    published then, however far behind the pipeline is."""

    def __init__(self, files: list[TapeFile], staging: str, feed_dir: str, start: float):
        super().__init__(daemon=True)
        self.files, self.staging, self.feed_dir, self.start_at = files, staging, feed_dir, start
        self.published: dict[str, tuple[float, float]] = {}  # name -> (due, actual)
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for f in self.files:
                due = self.start_at + f.due_s
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.published[f.name] = (due, publish([f], self.staging, self.feed_dir))
        except BaseException as exc:  # reported by the caller after join
            self.error = exc


def percentile(values, p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``% of
    the sample at or below it."""
    if not values:
        raise ValueError("percentile of an empty sample")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def file_batches(checkpoint: str) -> dict[str, int]:
    """Map each file name the file source consumed to the id of the
    micro-batch that read it, from the checkpoint.

    The source log (``sources/0``) records each file under the source's own
    log offset, which runs behind the batch id once no-data batches (those
    run only to advance the watermark) have happened; the offset log
    (``offsets/<batch id>``) gives the log offset each batch read up to.
    The source log compacts every few batches into ``<n>.compact`` files
    holding every earlier entry, so both kinds of file are read."""
    log_dir = os.path.join(checkpoint, "sources", "0")
    off_dir = os.path.join(checkpoint, "offsets")
    if not (os.path.isdir(log_dir) and os.path.isdir(off_dir)):
        return {}  # the query has not planned its first batch yet
    file_offset: dict[str, int] = {}
    for name in os.listdir(log_dir):
        if not name.split(".")[0].isdigit() or name.endswith((".tmp", ".crc")):
            continue
        with open(os.path.join(log_dir, name)) as fh:
            lines = fh.read().splitlines()
        for line in lines[1:]:  # first line is the log version
            if line.strip():
                entry = json.loads(line)
                file_offset[os.path.basename(entry["path"])] = int(entry["batchId"])
    batch_end: list[tuple[int, int]] = []
    for name in os.listdir(off_dir):
        if name.isdigit():
            with open(os.path.join(off_dir, name)) as fh:
                lines = fh.read().splitlines()
            # version, batch metadata, then one offset per source
            if len(lines) > 2 and lines[2].startswith("{"):
                batch_end.append((int(name), int(json.loads(lines[2])["logOffset"])))
    batch_end.sort()
    out = {}
    for f, off in file_offset.items():
        reached = [b for b, end in batch_end if end >= off]
        if reached:
            out[f] = reached[0]
    return out


def commit_times(checkpoint: str) -> dict[int, float]:
    """Batch id -> time its commit-log entry was written."""
    d = os.path.join(checkpoint, "commits")
    if not os.path.isdir(d):
        return {}
    return {
        int(n): os.stat(os.path.join(d, n)).st_mtime_ns / 1e9
        for n in os.listdir(d)
        if n.isdigit()
    }
