"""Property-based tests (hypothesis) — SURVEY.md §5's missing layer.

Pure-function properties run hundreds of examples (no Spark); the one
Spark-backed property (as-of join vs an in-memory reference model) runs a
small example budget since each example is a distributed job.
"""

from __future__ import annotations

from datetime import datetime, timedelta

from hypothesis import given, settings, strategies as st

from graphdb_td2_spark.dedup.minhash import HASH_P, hash_params


@given(st.integers(min_value=1, max_value=64))
def test_hash_params_deterministic_and_bounded(n):
    a = hash_params(n)
    assert a == hash_params(n)  # deterministic
    assert len(a) == n
    for mult, add in a:
        assert 1 <= mult < (1 << 30)  # product with a 32-bit hash fits i64
        assert 0 <= add < HASH_P
    # prefix-stability: params for j hashes are a prefix of params for n
    assert hash_params(max(1, n - 1)) == a[: max(1, n - 1)]


def _asof_reference(left_rows, right_rows):
    """In-memory model: latest right payload with rts <= ts per key."""
    out = {}
    for k, ts, ev in left_rows:
        best = None
        for rk, rts, payload in right_rows:
            if rk == k and rts <= ts and (best is None or rts > best[0] or (rts == best[0] and payload > best[1])):
                best = (rts, payload)
        out[ev] = best[1] if best else None
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            st.integers(0, 50),
        ),
        min_size=1,
        max_size=12,
        unique=True,
    ),
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=0,
        max_size=8,
        unique=True,
    ),
)
def test_asof_join_matches_reference_model(spark, left_spec, right_spec):
    from graphdb_td2_spark.operators.asof import asof_join

    base = datetime(2024, 1, 1)
    left_rows = [
        (k, base + timedelta(minutes=m), f"e{i}") for i, (k, m) in enumerate(left_spec)
    ]
    # dedupe right per (key, ts) keeping max payload — the documented
    # uniqueness precondition
    best: dict[tuple, int] = {}
    for i, (k, m) in enumerate(right_spec):
        best[(k, m)] = max(best.get((k, m), -1), 100 + i)
    right_rows = [
        (k, base + timedelta(minutes=m), payload) for (k, m), payload in best.items()
    ]
    left = spark.createDataFrame(left_rows, "k long, ts timestamp, ev string")
    if right_rows:
        right = spark.createDataFrame(
            right_rows, "k long, rts timestamp, payload long"
        )
    else:
        right = spark.createDataFrame([], "k long, rts timestamp, payload long")
    got = {
        r.ev: r.payload
        for r in asof_join(
            left, right, on=["k"], left_ts="ts", right_ts="rts",
            right_payload=["payload"],
        ).collect()
    }
    want = _asof_reference(
        [(k, base + timedelta(minutes=m), f"e{i}") for i, (k, m) in enumerate(left_spec)],
        right_rows,
    )
    assert got == want


def _burst_reference(rows, gap_s):
    """In-memory model: ordered within-gap pairs per key."""
    out = set()
    for k1, i1, s1 in rows:
        for k2, i2, s2 in rows:
            if k1 != k2:
                continue
            if (s1 < s2 or (s1 == s2 and i1 < i2)) and s2 - s1 <= gap_s:
                out.add((k1, i1, i2, (s2 - s1) * 1_000_000))
    return out


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 900)),
        min_size=1,
        max_size=14,
    ),
    st.sampled_from([60, 300]),
)
def test_banded_range_join_matches_reference_model(spark, spec, gap_s):
    from graphdb_td2_spark.operators.range_join import banded_range_self_pairs

    rows = [(k, i, s) for i, (k, s) in enumerate(spec)]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, secs long"
    ).selectExpr("user_id", "event_id", "timestamp_seconds(secs) AS ts")
    got = {
        (r.user_id, r.id_a, r.id_b, r.gap_us)
        for r in banded_range_self_pairs(
            df, key="user_id", ts="ts", id_col="event_id", gap_seconds=gap_s
        ).collect()
    }
    assert got == _burst_reference(rows, gap_s)
