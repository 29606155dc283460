"""Seeded input generator for the benchmark.

Independent of ``privacy_cdc_lakehouse_spark.sources.debezium``: the
Debezium envelopes, the document corpus and the embeddings are built
here in plain Python/numpy from ``--seed``, so the package under test
only ever receives generated inputs. The same seed and knobs give the
same rows, byte for byte.

The CDC log is one Kafka partition: offsets increase by one per event
and event time never decreases per key (Debezium's per-key ordering),
so the latest state of a key is its last event in offset order.
"""

from __future__ import annotations

import datetime as _dt
import json
import random
from dataclasses import dataclass

import numpy as np

TOPIC = "pg.public.orders"
STATUSES = ("created", "paid", "shipped", "cancelled")
# Base event time: 2024-01-01T00:00:00Z.
T0_MS = 1_704_067_200_000


@dataclass(frozen=True)
class CdcKnobs:
    """Traffic dimensions of the CDC event log."""

    base_keys: int  # orders created by the base log (the backfill)
    users: int  # distinct user ids; orders pick one uniformly
    batch_events: int  # events per micro-batch file
    batches: int  # micro-batch files generated for the run
    insert_share: float  # stream op mix: inserts ...
    delete_share: float  # ... deletes; the rest are updates
    recency_skew: float  # updates/deletes pick the newest keys ~ u**skew
    redeliver_share: float  # share of files that re-deliver a slice of the previous one
    redeliver_slice: float  # re-delivered rows as a share of a batch
    bare_share: float  # envelopes without the "payload" wrapper
    polluted_share: float  # amount strings with quotes or padding
    tie_share: float  # updates that reuse the key's previous ts_ms


@dataclass(frozen=True)
class Event:
    offset: int
    order_id: int
    user_id: int
    op: str  # c / u / d
    ts_ms: int
    amount: str | None  # the JSON string as sent (maybe polluted)
    status: str | None
    v: str  # the Kafka record value (JSON)


class CdcLog:
    """Generates the base log and the stream's micro-batch files."""

    def __init__(self, seed: int, knobs: CdcKnobs):
        self.k = knobs
        self.rng = random.Random(seed * 1_000_003 + 17)
        self.offset = 0
        self.clock = T0_MS
        self.next_key = 1
        self.live: list[int] = []  # live keys, oldest first
        self.pos: dict[int, int] = {}  # key -> index in self.live
        self.state: dict[int, tuple[int, str, str, int]] = {}  # uid, amt, status, ts

    # -- one event ---------------------------------------------------------

    def _amount(self) -> str:
        s = f"{self.rng.uniform(1.0, 500.0):.2f}"
        if self.rng.random() < self.k.polluted_share:
            s = f'"{s}"' if self.rng.random() < 0.5 else f"  {s} "
        return s

    def _envelope(self, payload: dict) -> str:
        if self.rng.random() < self.k.bare_share:
            return json.dumps(payload, separators=(",", ":"))
        return json.dumps({"payload": payload}, separators=(",", ":"))

    def _emit(self, order_id: int, op: str, tie: bool = False) -> Event:
        self.clock += self.rng.randint(1, 400)
        if op == "c":
            uid = self.rng.randrange(1, self.k.users + 1)
            row = (uid, self._amount(), "created", self.clock)
            before = None
        else:
            uid, amt, status, last_ts = self.state[order_id]
            ts = last_ts if tie else self.clock
            before = self._row(order_id, uid, amt, status)
            if op == "u":
                nxt = self.rng.choice([s for s in STATUSES if s != status])
                row = (uid, self._amount(), nxt, ts)
            else:
                row = (uid, amt, status, ts)
        ts_ms = row[3]
        after = None if op == "d" else self._row(order_id, *row[:3])
        payload = {"before": before, "after": after, "op": op, "ts_ms": ts_ms}
        ev = Event(
            offset=self.offset,
            order_id=order_id,
            user_id=row[0],
            op=op,
            ts_ms=ts_ms,
            amount=None if op == "d" else row[1],
            status=None if op == "d" else row[2],
            v=self._envelope(payload),
        )
        self.offset += 1
        if op == "d":
            self._remove(order_id)
            del self.state[order_id]
        else:
            self.state[order_id] = row
        return ev

    @staticmethod
    def _row(order_id, uid, amt, status) -> dict:
        return {
            "order_id": order_id,
            "user_id": uid,
            "amount_eur": amt,
            "status": status,
            "created_at": "2024-01-01 00:00:00",
        }

    def _remove(self, key: int) -> None:
        i = self.pos.pop(key)
        last = self.live.pop()
        if last != key:
            self.live[i] = last
            self.pos[last] = i

    def _create(self) -> Event:
        key = self.next_key
        self.next_key += 1
        ev = self._emit(key, "c")
        self.pos[key] = len(self.live)
        self.live.append(key)
        return ev

    def _pick_recent(self) -> int:
        # Keys are appended as they are created; swap-removal keeps the
        # list roughly ordered by age, so a power of u favours the tail.
        n = len(self.live)
        i = n - 1 - int(n * self.rng.random() ** self.k.recency_skew)
        return self.live[max(0, min(n - 1, i))]

    def _change(self, op: str) -> Event:
        key = self._pick_recent()
        tie = op == "u" and self.rng.random() < self.k.tie_share
        return self._emit(key, op, tie=tie)

    def _next(self) -> Event:
        """One event drawn from the op mix."""
        r = self.rng.random()
        if r < self.k.insert_share or len(self.live) < 10:
            return self._create()
        if r < self.k.insert_share + self.k.delete_share:
            return self._change("d")
        return self._change("u")

    # -- logs --------------------------------------------------------------

    def base_log(self) -> list[Event]:
        """The op mix until ``base_keys`` orders have been created."""
        out = []
        while self.next_key <= self.k.base_keys:
            out.append(self._next())
        return out

    def batch(self) -> list[Event]:
        """One micro-batch of fresh events."""
        return [self._next() for _ in range(self.k.batch_events)]

    def stream_files(self) -> list[list[Event]]:
        """``batches`` files; every ``1/redeliver_share``-th one, starting
        with the second, first re-delivers a slice of the file before it.

        The positions are fixed so every seed puts the same work in the
        first files a short run consumes; the seed picks the slice.
        """
        period = max(1, round(1 / self.k.redeliver_share)) if self.k.redeliver_share else 0
        files: list[list[Event]] = []
        for i in range(self.k.batches):
            fresh = self.batch()
            if period and i % period == 1:
                src = files[-1]
                n = max(1, int(len(src) * self.k.redeliver_slice))
                start = self.rng.randrange(0, len(src) - n + 1)
                fresh = src[start : start + n] + fresh
            files.append(fresh)
        return files


def envelope_table(events: list[Event]):
    """Bronze envelope rows as a pyarrow table (the file source schema)."""
    import pyarrow as pa

    n = len(events)
    kts = [
        _dt.datetime(2024, 1, 1) + _dt.timedelta(milliseconds=e.ts_ms - T0_MS)
        for e in events
    ]
    return pa.table(
        {
            "topic": pa.array([TOPIC] * n, pa.string()),
            "partition": pa.array([0] * n, pa.int32()),
            "offset": pa.array([e.offset for e in events], pa.int64()),
            "kafka_ts": pa.array(kts, pa.timestamp("us")),
            "k": pa.array([str(e.order_id) for e in events], pa.string()),
            "v": pa.array([e.v for e in events], pa.string()),
            "ingested_at": pa.array([None] * n, pa.timestamp("us")),
        }
    )


# ----------------------------- corpus ---------------------------------------


@dataclass(frozen=True)
class CorpusKnobs:
    """Traffic dimensions of the curation corpus."""

    docs: int  # documents in the corpus
    words_per_doc: int  # mean words per document
    vocab: int  # distinct vocabulary words
    near_dup_share: float  # docs that are edited copies of another doc
    edit_share: float  # words replaced in a near-duplicate
    pii_share: float  # docs carrying an email and a phone number
    vectors: int  # embedding rows
    clusters: int  # embedding cluster centres
    dim: int  # embedding width
    spread: float  # cluster noise relative to unit centres
    queries: int  # lsh_topk query vectors


def _vocab(rng: random.Random, n: int) -> list[str]:
    letters = "abcdefghijklmnopqrstuvwxyz"
    seen: set[str] = set()
    out = []
    while len(out) < n:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def corpus(seed: int, knobs: CorpusKnobs) -> dict:
    """Documents (with planted near-duplicates and PII) and embeddings.

    Returns ``{"docs": [(doc_id, text)], "emails": {doc_id: [..]},
    "phones": {doc_id: [..]}, "vectors": float32 array, "queries":
    float32 array}``.
    """
    rng = random.Random(seed * 7_919 + 3)
    vocab = _vocab(rng, knobs.vocab)
    # Zipf-like word choice so shingles repeat across documents.
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(vocab))]
    docs: list[tuple[int, str]] = []
    emails: dict[int, list[str]] = {}
    phones: dict[int, list[str]] = {}
    bodies: list[list[str]] = []
    # Near-duplicates and PII sit at fixed positions, so every seed gives
    # the pipeline the same amount of each; the seed picks the words.
    dup_every = round(1 / knobs.near_dup_share) if knobs.near_dup_share else 0
    pii_every = round(1 / knobs.pii_share) if knobs.pii_share else 0
    for doc_id in range(knobs.docs):
        if dup_every and doc_id % dup_every == dup_every - 1:
            words = list(bodies[rng.randrange(len(bodies))])
            for _ in range(max(1, int(len(words) * knobs.edit_share))):
                words[rng.randrange(len(words))] = rng.choice(vocab)
        else:
            n = max(8, int(rng.gauss(knobs.words_per_doc, knobs.words_per_doc / 4)))
            words = rng.choices(vocab, weights=weights, k=n)
        bodies.append(words)
        text_words = list(words)
        if pii_every and doc_id % pii_every == 0:
            mail = f"{rng.choice(vocab)}.{doc_id}@{rng.choice(vocab)}.example.com"
            phone = f"+1 555 {rng.randint(100, 999)} {rng.randint(1000, 9999)}"
            text_words.insert(rng.randrange(len(text_words) + 1), mail)
            text_words.insert(rng.randrange(len(text_words) + 1), phone)
            emails[doc_id] = [mail]
            phones[doc_id] = [phone]
        docs.append((doc_id, " ".join(text_words)))
    nrng = np.random.default_rng(seed)
    centres = nrng.standard_normal((knobs.clusters, knobs.dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    which = nrng.integers(0, knobs.clusters, knobs.vectors)
    vecs = centres[which] + knobs.spread * nrng.standard_normal(
        (knobs.vectors, knobs.dim)
    ) / np.sqrt(knobs.dim)
    qwhich = nrng.integers(0, knobs.clusters, knobs.queries)
    qs = centres[qwhich] + knobs.spread * nrng.standard_normal(
        (knobs.queries, knobs.dim)
    ) / np.sqrt(knobs.dim)
    return {
        "docs": docs,
        "emails": emails,
        "phones": phones,
        "vectors": vecs.astype(np.float32),
        "queries": qs.astype(np.float32),
    }
