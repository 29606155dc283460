"""The generator is a pure function of its seed and knobs."""

from dataclasses import replace

import numpy as np

from perfbench import gen
from perfbench.workloads import CDC_KNOBS, CORPUS_KNOBS

TINY = replace(CDC_KNOBS, base_keys=300, batch_events=40, batches=6, users=30)
TINY_CORPUS = replace(CORPUS_KNOBS, docs=60, vocab=200, vectors=50, queries=4)


def _cdc(seed):
    log = gen.CdcLog(seed, TINY)
    return log.base_log(), log.stream_files()


def test_cdc_log_is_deterministic_per_seed():
    assert _cdc(7) == _cdc(7)
    assert _cdc(7) != _cdc(8)


def test_cdc_offsets_are_one_partition_log():
    base, files = _cdc(3)
    fresh = list(base)
    for f in files:
        seen = {e.offset for e in fresh}
        fresh += [e for e in f if e.offset not in seen]
    assert [e.offset for e in fresh] == list(range(len(fresh)))


def test_cdc_log_exercises_every_envelope_shape():
    base, files = _cdc(3)
    events = base + [e for f in files for e in f]
    assert {e.op for e in events} == {"c", "u", "d"}
    assert any('"payload"' not in e.v for e in events)  # bare envelopes
    assert any(e.amount and e.amount != e.amount.strip() for e in events)
    assert any(e.amount and e.amount.startswith('"') for e in events)
    redelivered = sum(len(f) - TINY.batch_events for f in files)
    assert redelivered > 0


def test_cdc_op_mix_follows_the_knobs_in_base_log_and_stream():
    log = gen.CdcLog(11, replace(TINY, base_keys=2_000, batch_events=500, batches=2))
    for events in (log.base_log(), [e for f in log.stream_files() for e in f]):
        n = len(events)
        creates = sum(e.op == "c" for e in events) / n
        deletes = sum(e.op == "d" for e in events) / n
        assert abs(creates - TINY.insert_share) < 0.05
        assert abs(deletes - TINY.delete_share) < 0.03


def test_corpus_is_deterministic_per_seed():
    a, b, c = (gen.corpus(s, TINY_CORPUS) for s in (5, 5, 6))
    assert a["docs"] == b["docs"] and a["emails"] == b["emails"]
    assert np.array_equal(a["vectors"], b["vectors"])
    assert np.array_equal(a["queries"], b["queries"])
    assert a["docs"] != c["docs"]


def test_envelope_table_has_the_bronze_columns():
    base, _ = _cdc(1)
    t = gen.envelope_table(base[:5])
    assert t.column_names == ["topic", "partition", "offset", "kafka_ts", "k", "v", "ingested_at"]
    assert t.num_rows == 5
