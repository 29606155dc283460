"""The reference on hand-built Debezium envelopes."""

import json
from collections import namedtuple

from perfbench import reference as ref

Rec = namedtuple("Rec", "offset v")


def env(op, ts, after=None, before=None, bare=False):
    payload = {"before": before, "after": after, "op": op, "ts_ms": ts}
    return json.dumps(payload if bare else {"payload": payload})


def row(oid, uid, amount, status):
    return {"order_id": oid, "user_id": uid, "amount_eur": amount, "status": status}


def test_latest_state_tombstones_ties_and_redelivery():
    m = ref.LakeModel()
    first = [
        Rec(0, env("c", 1_000, row(1, 10, "5.00", "created"))),
        Rec(1, env("c", 2_000, row(2, 20, ' "7.50" ', "created"), bare=True)),
        Rec(2, env("c", 3_000, row(3, 30, "1.00", "created"))),
        # Equal ts_ms: the higher offset wins.
        Rec(3, env("u", 1_000, row(1, 10, "6.00", "paid"), row(1, 10, "5.00", "created"))),
        # Tombstone: only `before`; the key leaves silver.
        Rec(4, env("d", 3_500, None, row(3, 30, "1.00", "created"))),
    ]
    assert m.deliver(first) == 5
    assert m.silver_rows() == {1: (10, 6.0, "paid", 1), 2: (20, 7.5, "created", 2)}
    # A redelivered slice changes nothing; fresh rows still apply.
    again = first[3:] + [Rec(5, env("u", 4_200, row(2, 20, " 8 ", "shipped"), bare=True))]
    assert m.deliver(again) == 1
    assert m.silver_rows() == {1: (10, 6.0, "paid", 1), 2: (20, 8.0, "shipped", 4)}
    assert m.max_offset == 5 and len(m.offsets) == 6 and m.delivered == 8


def test_keyless_record_is_ignored():
    m = ref.LakeModel()
    assert m.deliver([Rec(0, "{}"), Rec(1, env("c", 5, row(None, 1, "1", "created")))]) == 2
    assert m.silver_rows() == {}


def test_erasure_and_privacy_projection():
    m = ref.LakeModel()
    m.deliver([Rec(i, env("c", 1_000 * i, row(i, i % 2, "1.00", "created"))) for i in range(4)])
    assert m.erase(0) == 2
    assert sorted(m.silver_rows()) == [1, 3]
    priv = m.privacy_rows("s")
    assert priv == {k: (ref.pseudonym(1, "s"), 1.0, "created", k) for k in (1, 3)}


def test_pseudonym_is_salted_sha256_hex():
    import hashlib

    assert ref.pseudonym(42, "pepper") == hashlib.sha256(b"42::pepper").hexdigest()


def test_jaccard_on_word_trigrams():
    a = "the quick brown fox jumps"
    b = "the quick brown cat jumps"
    # a: {the quick brown, quick brown fox, brown fox jumps}
    # b: {the quick brown, quick brown cat, brown cat jumps}
    assert ref.jaccard(a, b) == 1 / 5
    assert ref.shingles("two  words") == {"two words"}
    # An empty document is one empty shingle, as in the operator.
    assert ref.shingles("") == {""}


def test_redaction_reference():
    text = "hi a.1@b.example.com call +1 555 123 4567 now"
    out = ref.redacted(text, ["a.1@b.example.com"], ["+1 555 123 4567"])
    assert out == "hi [REDACTED:email] call [REDACTED:phone] now"


def test_exact_topk_breaks_ties_to_lower_id():
    import numpy as np

    vecs = np.array([[1.0, 0.0], [1.0, 0.0], [0.0, 1.0]], dtype=np.float32)
    q = np.array([[1.0, 0.1]], dtype=np.float32)
    assert ref.exact_topk(vecs, q, 2) == [[0, 1]]
