"""Independent reference for the benchmark's correctness checks.

Everything expected here is computed in plain Python, hashlib and
numpy from the generated inputs; nothing calls into the package under
test. The benchmark compares what the package produced (read back
through its public read API) against these values.
"""

from __future__ import annotations

import hashlib
import json
import math
import re

import numpy as np

_AMOUNT_JUNK = re.compile(r'["\s]')
_WS = re.compile(r"\s+")


def clean_amount(s: str | None) -> float | None:
    if s is None:
        return None
    try:
        return float(_AMOUNT_JUNK.sub("", s))
    except ValueError:
        return None


def pseudonym(user_id: int, salt: str) -> str:
    """sha2(user_id || '::' || salt, 256) as lowercase hex."""
    return hashlib.sha256(f"{user_id}::{salt}".encode()).hexdigest()


def parse_envelope(v: str) -> dict | None:
    """One Kafka value -> change row, or None when it has no key.

    Enveloped (``{"payload": {...}}``) and bare payloads both parse;
    row fields come from ``after`` and fall back to ``before`` (a
    delete carries only ``before``).
    """
    d = json.loads(v) if v and v.strip() else {}
    p = d["payload"] if isinstance(d.get("payload"), dict) else d
    after = p.get("after") or {}
    before = p.get("before") or {}

    def field(k):
        return after[k] if after.get(k) is not None else before.get(k)

    if field("order_id") is None:
        return None
    return {
        "order_id": int(field("order_id")),
        "user_id": field("user_id"),
        "amount": field("amount_eur"),
        "status": field("status"),
        "op": p.get("op"),
        "ts_ms": p.get("ts_ms"),
    }


class LakeModel:
    """Expected medallion state, replayed from the raw Kafka records.

    Only each record's ``offset`` and value ``v`` are read. Bronze keeps
    each offset once however often it is delivered; per delivered file,
    the newest change of a key by ``(ts_ms, offset)`` is applied to
    silver (a delete removes the row); an erasure removes a user's rows
    at the moment it runs.
    """

    def __init__(self) -> None:
        # order_id -> (user_id, amount_eur, status, last_change_s, ts_ms, offset)
        self.silver: dict[int, tuple] = {}
        self.offsets: set[int] = set()
        self.delivered = 0

    def deliver(self, records) -> int:
        """Apply one delivered file; return how many records were new."""
        self.delivered += len(records)
        fresh = [r for r in records if r.offset not in self.offsets]
        for r in fresh:
            self.offsets.add(r.offset)
        latest: dict[int, tuple] = {}
        for r in fresh:
            row = parse_envelope(r.v)
            if row is None:
                continue
            rank = (row["ts_ms"] is not None, row["ts_ms"] or 0, r.offset)
            cur = latest.get(row["order_id"])
            if cur is None or rank > cur[0]:
                latest[row["order_id"]] = (rank, row)
        for key, ((_, ts_ms, offset), row) in latest.items():
            if row["op"] == "d":
                self.silver.pop(key, None)
            else:
                self.silver[key] = (
                    row["user_id"],
                    clean_amount(row["amount"]),
                    row["status"],
                    ts_ms // 1000,
                    ts_ms,
                    offset,
                )
        return len(fresh)

    def erase(self, user_id: int) -> int:
        gone = [k for k, r in self.silver.items() if r[0] == user_id]
        for k in gone:
            del self.silver[k]
        return len(gone)

    @property
    def max_offset(self) -> int:
        return max(self.offsets) if self.offsets else -1

    def silver_rows(self) -> dict[int, tuple]:
        """order_id -> (user_id, amount_eur, status, last_change_s)."""
        return {k: r[:4] for k, r in self.silver.items()}

    def privacy_rows(self, salt: str) -> dict[int, tuple]:
        """order_id -> (user_key, amount_eur, status, last_change_s)."""
        return {
            k: (pseudonym(r[0], salt), r[1], r[2], r[3])
            for k, r in self.silver.items()
        }


def diff_rows(expected: dict, observed: dict, limit: int = 5) -> list[str]:
    """Human-readable differences between two keyed row maps."""
    out = []
    for k in sorted(set(expected) | set(observed)):
        e, o = expected.get(k), observed.get(k)
        if not _rows_equal(e, o):
            out.append(f"key {k}: expected {e} got {o}")
            if len(out) >= limit:
                break
    return out


def _rows_equal(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) or isinstance(y, float):
            if x is None or y is None or not math.isclose(x, y, rel_tol=1e-12):
                return False
        elif x != y:
            return False
    return True


# ----------------------------- corpus ---------------------------------------


def words(text: str) -> list[str]:
    return [w for w in _WS.split(text) if w]


def shingles(text: str, n: int = 3) -> set[str]:
    """Distinct word n-grams; a doc shorter than n is one shingle."""
    ws = words(text)
    return {" ".join(ws[i : i + n]) for i in range(max(len(ws) - n, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    uni = len(sa | sb)
    return len(sa & sb) / uni if uni else 0.0


def redacted(text: str, emails: list[str], phones: list[str]) -> str:
    for m in emails:
        text = text.replace(m, "[REDACTED:email]")
    for p in phones:
        text = text.replace(p, "[REDACTED:phone]")
    return text


def exact_topk(vectors: np.ndarray, queries: np.ndarray, k: int) -> list[list[int]]:
    """Brute-force cosine top-k ids per query (ties to the lower id)."""
    v = vectors.astype(np.float64)
    q = queries.astype(np.float64)
    v = v / np.linalg.norm(v, axis=1, keepdims=True)
    q = q / np.linalg.norm(q, axis=1, keepdims=True)
    sims = q @ v.T
    out = []
    for row in sims:
        order = np.lexsort((np.arange(len(row)), -row))
        out.append([int(i) for i in order[:k]])
    return out


def cosine(a: np.ndarray, b: np.ndarray) -> float:
    a = a.astype(np.float64)
    b = b.astype(np.float64)
    d = float(np.linalg.norm(a) * np.linalg.norm(b))
    return float(a @ b) / d if d > 0 else 0.0
