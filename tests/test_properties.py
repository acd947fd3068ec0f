"""Property-based tests (hypothesis): invariants the example-driven suite
can't sweep — scaler ladder over the whole metric space, StreamLog
append/trim algebra, the PEL functions against a plain msgid dict,
cross-engine rounding parity on arbitrary floats."""

from __future__ import annotations

import itertools
import os
from collections import Counter
from types import SimpleNamespace
from unittest import mock

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from redis_streams_spark.sources import stream_log
from redis_streams_spark.sources.fake_redis import FakeRedis
from redis_streams_spark.sources.redis_log import RedisStreamLog
from redis_streams_spark.sources.stream_log import StreamLog
from redis_streams_spark.streaming import Consumer, Scale
from redis_streams_spark.streaming.common import (
    pel_ack,
    pel_claim,
    pel_counts,
    pel_evict,
    pel_own,
    pel_reown,
    pel_scan,
)
from redis_streams_spark.streaming.scaler import Scaler


class _FakeScaler(Scaler):
    """Scaler with injected metrics (no log IO) for ladder properties."""

    def __init__(self, length: int, pending: int, consumers: int):
        self.stream_length = length
        self.stream_pending = pending
        self.consumers_of_group = consumers
        self.length_pending_rate = 0

    def collect_metrics(self):
        return self.stream_length, self.stream_pending


@settings(max_examples=300, deadline=None)
@given(
    length=st.integers(min_value=0, max_value=10_000),
    pending=st.integers(min_value=0, max_value=10_000),
    consumers=st.integers(min_value=0, max_value=50),
    out_rate=st.integers(min_value=0, max_value=100),
    in_rate=st.integers(min_value=0, max_value=100),
)
def test_scaler_ladder_invariants(length, pending, consumers, out_rate, in_rate):
    sca = _FakeScaler(length, pending, consumers)
    if in_rate > out_rate:
        with pytest.raises(ValueError):
            sca.get_scale_decision(scale_out_rate=out_rate, scale_in_rate=in_rate)
        return
    rate, suggestion = sca.get_scale_decision(
        scale_out_rate=out_rate, scale_in_rate=in_rate
    )
    # rate domain: 0 (no pending) or clamped to [1, 100]
    assert rate == 0 or 1 <= rate <= 100
    assert suggestion in {s.value for s in Scale}
    # exact reference semantics (scaler.py:85-97)
    if rate == 0 and length == 0:
        assert suggestion == Scale.NOSCALE.value
    elif rate == 0 and length >= 1:
        assert suggestion == Scale.OUT.value
    elif rate < in_rate and consumers > 1:
        assert suggestion == Scale.IN.value
    elif rate >= out_rate:
        assert suggestion == Scale.OUT.value
    else:
        assert suggestion == Scale.NOSCALE.value
    # scaling out is always suggested when the backlog dwarfs pending
    if pending > 0 and length >= pending and out_rate <= 100 and rate >= out_rate:
        assert suggestion == Scale.OUT.value


@settings(max_examples=25, deadline=None)
@given(
    n_msgs=st.integers(min_value=0, max_value=40),
    maxlen=st.integers(min_value=1, max_value=10),
    # clock readings in ms, in append order (cycled); steps back freely
    ticks=st.lists(
        st.integers(min_value=1_000_000, max_value=1_000_005), min_size=1, max_size=8
    ),
)
def test_streamlog_append_trim_algebra(tmp_path_factory, n_msgs, maxlen, ticks):
    """Runs on both backends, which must also mint the same ids."""
    root = str(tmp_path_factory.mktemp("sl"))
    server = f"props-{os.path.basename(root)}"
    minted = []
    try:
        for log in (
            StreamLog(root, "s"),
            RedisStreamLog(root, "s", client=FakeRedis(server)),
        ):
            clock = itertools.cycle(ticks)
            with mock.patch.object(
                stream_log, "time", SimpleNamespace(time=lambda: next(clock) / 1000)
            ):
                ids = [log.append({"i": i}) for i in range(n_msgs)]
            assert ids == sorted(ids) and len(set(ids)) == n_msgs
            minted.append(ids)
            log.trim(maxlen)
            assert log.xlen() == min(n_msgs, maxlen)
            assert log.count() == n_msgs  # positions never shift
            kept = log.read_slice(0, log.count())
            if n_msgs:
                # newest messages retained, in order
                assert [c["i"] for _, _, c in kept] == [
                    str(i) for i in range(max(0, n_msgs - maxlen), n_msgs)
                ]
    finally:
        FakeRedis.reset_server(server)
    assert minted[0] == minted[1]


def _both_backends(root: str, server: str):
    return (
        StreamLog(root, "s"),
        RedisStreamLog(root, "s", client=FakeRedis(server)),
    )


_N_MSGS = 12
_CONSUMERS = st.sampled_from(["a", "b", "c"])
_MSG_IDX = st.lists(st.integers(min_value=0, max_value=_N_MSGS - 1), max_size=6)
_PEL_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("claim"), _CONSUMERS, st.integers(min_value=0, max_value=5)),
        st.tuples(st.just("own"), _CONSUMERS, st.integers(min_value=0, max_value=5)),
        st.tuples(st.just("ack"), _MSG_IDX),
        st.tuples(
            # min-idle on the 10-ms step of the clock: hits the boundary
            st.just("xclaim"), _MSG_IDX, _CONSUMERS, st.sampled_from([0, 10, 20, 30])
        ),
        st.tuples(st.just("remove"), _CONSUMERS),
    ),
    max_size=25,
)


def _pel_step(state: dict, op: tuple, now: int, log, ids: list[str]):
    """Apply ``op`` through the PEL functions (inside update_group)."""
    kind = op[0]
    if kind == "claim":
        start = state["last_delivered_pos"]
        rows = log.read_slice(start, min(start + op[2], _N_MSGS))
        pel_claim(state, op[1], [(pos, msgid) for pos, msgid, _ in rows], now)
        state["last_delivered_pos"] = start + len(rows)
        return rows
    if kind == "own":
        return pel_own(state, op[1], op[2], redeliver=True)
    if kind == "ack":
        return pel_ack(state, [ids[k] for k in op[1]])
    if kind == "xclaim":
        return pel_reown(state, [ids[k] for k in op[1]], op[2], op[3], now)
    return pel_evict(state, op[1])


def _model_step(model: dict, op: tuple, now: int, ids: list[str], result) -> None:
    """The same op on a plain msgid -> entry dict; checks ``result``."""
    kind = op[0]
    if kind == "claim":
        for pos, msgid, _ in result:
            model[msgid] = {
                "pos": pos, "consumer": op[1], "delivered_ms": now, "times_delivered": 1
            }
        return
    if kind == "own":
        own = sorted((e["pos"], m) for m, e in model.items() if e["consumer"] == op[1])
        assert result == (own[: op[2]], len(own))
        for _, msgid in own[: op[2]]:
            model[msgid]["times_delivered"] += 1
        return
    if kind == "ack":
        gone = {ids[k] for k in op[1]} & set(model)
        assert result == len(gone)
        for msgid in gone:
            del model[msgid]
        return
    if kind == "xclaim":
        moved = [
            msgid
            for msgid in {ids[k] for k in op[1]} & set(model)
            if now - model[msgid]["delivered_ms"] >= op[3]
        ]
        assert result == len(moved)
        for msgid in moved:
            e = model[msgid]
            e.update(consumer=op[2], delivered_ms=now, times_delivered=e["times_delivered"] + 1)
        return
    lost = [m for m, e in model.items() if e["consumer"] == op[1]]
    assert result == len(lost)
    for msgid in lost:
        del model[msgid]


@settings(max_examples=60, deadline=None)
@given(ops=_PEL_OPS)
def test_pel_functions_match_a_msgid_dict(tmp_path_factory, ops):
    """Random claim / redeliver / ack / XCLAIM / remove-consumer sequences
    through update_group on both backends agree with a plain msgid ->
    entry dict; each consumer's entries stay in position order and the
    PEL is empty exactly when nothing is pending."""
    root = str(tmp_path_factory.mktemp("pel"))
    server = f"pel-{os.path.basename(root)}"
    try:
        for log in _both_backends(root, server):
            ids = log.append_many([{"i": i} for i in range(_N_MSGS)])
            log.create_group("g")
            model: dict[str, dict] = {}
            for step, op in enumerate(ops):
                now = 10 * step
                result = log.update_group(
                    "g", lambda state: _pel_step(state, op, now, log, ids)
                )
                _model_step(model, op, now, ids, result)
                state = log.group_state("g")
                assert pel_scan(state) == model
                assert pel_counts(state) == Counter(e["consumer"] for e in model.values())
                assert (len(state["pel"]) == 0) == (not model)
                for consumer in pel_counts(state):
                    pos = [e["pos"] for e in pel_scan(state, consumer).values()]
                    assert pos == sorted(pos)
    finally:
        FakeRedis.reset_server(server)


def test_per_message_pel_is_migrated_on_first_touch(tmp_path):
    """A group state written with one PEL object per message reads the
    same through the PEL functions and is rewritten, keyed by consumer,
    by the first transaction that touches the PEL."""
    server = f"pel-migrate-{tmp_path.name}"
    try:
        for log in _both_backends(str(tmp_path), server):
            ids = log.append_many([{"i": i} for i in range(4)])
            log.create_group("g")
            old = {
                ids[2]: {"pos": 2, "consumer": "a", "delivered_ms": 5, "times_delivered": 1},
                ids[0]: {"pos": 0, "consumer": "a", "delivered_ms": 5, "times_delivered": 2},
                ids[1]: {"pos": 1, "consumer": "b", "delivered_ms": 6, "times_delivered": 1},
            }
            log.update_group("g", lambda s: s.update(pel=old, last_delivered_pos=3))
            assert pel_scan(log.group_state("g")) == old
            batch = Consumer(
                log, "s", "g", consumer_id="a", batch_size=3, max_wait_time_ms=50
            ).get_items()
            assert [m.msgid for m in batch] == [ids[0], ids[2], ids[3]]
            state = log.group_state("g")
            assert set(state["pel"]) == {"a", "b"}
            assert [e["times_delivered"] for e in pel_scan(state, "a").values()] == [3, 2, 1]
            assert pel_scan(state, "b") == {ids[1]: old[ids[1]]}
    finally:
        FakeRedis.reset_server(server)


@settings(max_examples=200, deadline=None)
@given(
    value=st.floats(
        min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
    ),
    scale=st.sampled_from([2, 4, 6]),
)
def test_rnd_sql_matches_python_semantics(value, scale):
    """DuckDB's rnd_sql is self-consistent with plain arithmetic: the
    epsilon keeps the result within 1e-9+half-ulp of the true value and
    is idempotent (rounding an already-rounded value is a no-op)."""
    con = duckdb.connect()
    r1 = con.sql(f"SELECT round(5e-10 + {value!r}, {scale})").fetchone()[0]
    r2 = con.sql(f"SELECT round(5e-10 + {r1!r}, {scale})").fetchone()[0]
    assert r2 == r1  # idempotent
    assert abs(r1 - value) <= 0.5 * 10 ** (-scale) + 1e-9
    con.close()


# ---------------------------------------------------------------------------
# Cross-engine text-primitive parity on adversarial strings.
#
# The oracle gate proves parity on the fixture corpus; these prove it on
# hypothesis-generated strings (empty tokens, runs of separators, digits,
# accented latin).  Examples are BATCHED: each hypothesis example carries a
# list of strings evaluated in ONE Spark job + ONE DuckDB query, keeping
# wall time sane.  Alphabet note: tokenization lowercases, and Java and
# DuckDB agree on ASCII + latin-1 lower(); locale-sensitive exotica
# (dotted-I, final sigma) are out of the engine's documented contract.
# ---------------------------------------------------------------------------

_TEXT_ALPHABET = st.sampled_from(
    list("abcXYZ012 .,;:!?-_/") + ["à", "é", "ñ", "Å", "ü"]
)
_DOC_STRINGS = st.lists(
    st.text(alphabet=_TEXT_ALPHABET, min_size=0, max_size=40),
    min_size=1,
    max_size=25,
)


@settings(max_examples=12, deadline=None)
@given(texts=_DOC_STRINGS)
def test_text_primitives_cross_engine(spark, texts):
    from redis_streams_spark.functions.hashing import h32, h32_sql
    from redis_streams_spark.functions.textfns import (
        word_shingles,
        word_shingles_sql,
        words,
        words_sql,
    )
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "id long, text string"
    )
    # shingle arrays compare as SETS: array_distinct/list_distinct do not
    # agree on element order (see word_shingles docstring)
    srows = {
        r.id: (r.w, sorted(r.sh), r.h)
        for r in df.select(
            "id",
            words("text").alias("w"),
            word_shingles(words("text"), 3).alias("sh"),
            h32(F.col("text")).alias("h"),
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") AS v(id, text)",
        texts,
    )
    drows = {
        i: (w, sorted(sh), h)
        for i, w, sh, h in con.sql(
            f"SELECT id, {words_sql('text')}, "
            f"{word_shingles_sql(words_sql('text'), 3)}, {h32_sql('text')} FROM t"
        ).fetchall()
    }
    assert srows == drows


# ---- exactness of the prefix-filter set-similarity joins -------------
# One Spark round-trip per example is too slow for hypothesis, so the
# property runs pure-Python over the SAME prefix/length-filter logic the
# operator encodes, and a single Spark example cross-checks the wiring
# (tests/test_round5_ops.py holds the Spark-side equality tests).


def _prefix_survivors(sets_, t):
    """Reference implementation of candidate generation: rare-first
    (df, token) order, prefix length |x| - ceil(t|x|) + 1, length filter
    both directions."""
    import math
    from collections import Counter

    df = Counter()
    for s in sets_.values():
        for tok in s:
            df[tok] += 1
    prefixes = {}
    for d, s in sets_.items():
        ordered = sorted(s, key=lambda tok: (df[tok], tok))
        k = len(s) - math.ceil(t * len(s)) + 1
        prefixes[d] = set(ordered[:k])
    cands = set()
    docs = sorted(sets_)
    for i, a in enumerate(docs):
        for b in docs[i + 1:]:
            la, lb = len(sets_[a]), len(sets_[b])
            if lb < t * la or la < t * lb:
                continue
            if prefixes[a] & prefixes[b]:
                cands.add((a, b))
    return cands


@settings(max_examples=200, deadline=None)
@given(
    docs=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=2,
        max_size=12,
    ),
    tq=st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
def test_prefix_filter_never_loses_a_true_pair(docs, tq):
    """For EVERY pair with Jaccard >= t, the prefix+length filter must
    keep it as a candidate — the no-false-negative theorem the Spark
    operator relies on, swept over random set families."""
    cands = _prefix_survivors(docs, tq)
    names = sorted(docs)
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            inter = len(docs[a] & docs[b])
            union = len(docs[a] | docs[b])
            if union and inter / union >= tq:
                assert (a, b) in cands, (a, b, docs[a], docs[b], tq)


@settings(max_examples=200, deadline=None)
@given(
    docs=st.dictionaries(
        st.integers(min_value=0, max_value=20),
        st.frozensets(st.integers(min_value=0, max_value=30), min_size=1, max_size=12),
        min_size=2,
        max_size=12,
    ),
    tq=st.sampled_from([0.4, 0.6, 0.8]),
)
def test_containment_prefix_never_loses_a_true_pair(docs, tq):
    """Containment variant: A-prefix × full-B-index candidates must keep
    every ordered pair with |A∩B|/|A| >= t."""
    import math
    from collections import Counter

    df = Counter()
    for s in docs.values():
        for tok in s:
            df[tok] += 1
    cands = set()
    for a, sa in docs.items():
        ordered = sorted(sa, key=lambda tok: (df[tok], tok))
        k = len(sa) - math.ceil(tq * len(sa)) + 1
        pref = set(ordered[:k])
        for b, sb in docs.items():
            if a == b or len(sb) < tq * len(sa):
                continue
            if pref & sb:
                cands.add((a, b))
    for a, sa in docs.items():
        for b, sb in docs.items():
            if a != b and len(sa & sb) / len(sa) >= tq:
                assert (a, b) in cands, (a, b, sa, sb, tq)


def test_weighted_sample_invariant_to_partition_layout(spark, sf_dir):
    """q_weighted_sample's result must be a pure function of the DATA:
    identical under any partitioning of the input — the property that
    separates hash-keyed sampling from RNG TABLESAMPLE (whose output
    depends on task layout)."""
    from redis_streams_spark.queries.analytics5 import q_weighted_sample

    base = [tuple(r) for r in q_weighted_sample(spark, sf_dir).collect()]

    # recompute from an adversarially re-partitioned orders table
    from pyspark.sql import functions as F

    from redis_streams_spark.functions.hashing import h32
    from redis_streams_spark.functions.rounding import rnd
    from redis_streams_spark.session import load_table

    orders = load_table(spark, sf_dir, "orders").repartition(7, "o_orderpriority")
    u = (h32(F.col("o_orderkey").cast("string")) + 1) / F.lit(4294967296.0)
    keyed = orders.select(
        "o_orderkey",
        "o_totalprice",
        rnd(F.exp(F.log(u) / F.col("o_totalprice")), 9).alias("sample_key"),
    )
    shuffled = [
        tuple(r)
        for r in keyed.orderBy(F.desc("sample_key"), "o_orderkey")
        .limit(20)
        .collect()
    ]
    assert base == shuffled


# -- round-7 sketch guarantees under arbitrary batch splits ---------------

@given(
    items=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=300),
    k=st.integers(min_value=1, max_value=8),
    splits=st.lists(st.integers(min_value=1, max_value=50), max_size=10),
)
@settings(max_examples=80, deadline=None)
def test_misra_gries_guarantees_any_batching(items, k, splits):
    """The Misra-Gries merge keeps its textbook guarantees no matter how
    the stream is cut into micro-batches: estimates never exceed truth,
    undercount is bounded by the tracked decrement total (itself
    <= n/(k+1)), the summary never exceeds k entries, and every item
    above the n/(k+1) frequency threshold survives."""
    from collections import Counter

    from redis_streams_spark.streaming.topk import misra_gries_merge

    truth = Counter(str(x) for x in items)
    n = len(items)
    # cut the stream at the hypothesis-chosen points
    batches, pos = [], 0
    for w in splits:
        if pos >= n:
            break
        batches.append(items[pos : pos + w])
        pos += w
    if pos < n:
        batches.append(items[pos:])

    counters, dec = {}, 0
    for batch in batches:
        counters, m = misra_gries_merge(
            counters, dict(Counter(str(x) for x in batch)), k
        )
        dec += m

    assert len(counters) <= k
    assert dec <= n // (k + 1)
    for item, est in counters.items():
        assert 0 < est <= truth[item]
        assert truth[item] - est <= dec
    for item, c in truth.items():
        if c > n / (k + 1):
            assert item in counters


@given(
    vals=st.lists(
        st.floats(min_value=1e-6, max_value=1e12, exclude_min=True),
        min_size=1,
        max_size=200,
    ),
    cut=st.integers(min_value=0, max_value=200),
)
@settings(max_examples=80, deadline=None)
def test_quantile_sketch_bound_and_merge(vals, cut):
    """Log-histogram estimates stay within BASE of the exact order
    statistic for every tracked quantile, and merging two partial
    histograms equals the single-pass histogram."""
    import math

    import numpy as np

    from redis_streams_spark.streaming.quantiles import (
        BASE,
        N_BINS,
        QUANTILES,
        bin_index,
        estimate_quantiles,
    )

    a = np.bincount(bin_index(np.array(vals[:cut] or [])), minlength=N_BINS) if vals[:cut] else np.zeros(N_BINS, dtype=int)
    b = np.bincount(bin_index(np.array(vals[cut:] or [])), minlength=N_BINS) if vals[cut:] else np.zeros(N_BINS, dtype=int)
    u = np.bincount(bin_index(np.array(vals)), minlength=N_BINS)
    assert ((a + b) == u).all()

    s = sorted(vals)
    for q, est in zip(QUANTILES, estimate_quantiles(u)):
        exact = s[max(1, math.ceil(q * len(s))) - 1]
        assert exact <= est * (1 + 1e-9)
        assert est < exact * BASE * (1 + 1e-9)
