"""Property-based semantics tests (hypothesis): randomized inputs vs
brute-force Python oracles for the operators whose edge cases are
combinatorial (as-of matching, keyed first-writer-wins upsert,
chronological split invariants)."""

from __future__ import annotations

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdatasmallprice_spark.operators.asof import asof_join_backward
from bigdatasmallprice_spark.operators.splits import split_label_by_ratio
from bigdatasmallprice_spark.operators.upsert import upsert_do_nothing

BASE = dt.datetime(2026, 1, 1)

SETTINGS = dict(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# (key, minute-offset) event sets; duplicates filtered per (key, ts)
events_strategy = st.lists(
    st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=25
).map(lambda xs: sorted(set(xs)))


@given(probe=events_strategy, source=events_strategy)
@settings(**SETTINGS)
def test_asof_matches_bruteforce(spark, probe, source):
    pdf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=m)) for k, m in probe], "k long, ts timestamp"
    )
    sdf = spark.createDataFrame(
        [(k, BASE + dt.timedelta(minutes=m), 100 * k + m) for k, m in source],
        "k long, ts timestamp, v long",
    )
    got = {
        (r["k"], r["ts"]): r["v"]
        for r in asof_join_backward(pdf, sdf, ["k"], "ts", ["v"]).collect()
    }
    assert len(got) == len(probe)
    for k, m in probe:
        eligible = [(sm, 100 * k + sm) for sk, sm in source if sk == k and sm <= m]
        expect = max(eligible)[1] if eligible else None
        assert got[(k, BASE + dt.timedelta(minutes=m))] == expect, (k, m)


kv_strategy = st.lists(
    st.tuples(st.integers(0, 8), st.integers(0, 100)), min_size=0, max_size=20
)


@given(existing=kv_strategy, batch=kv_strategy)
@settings(**SETTINGS)
def test_upsert_first_writer_wins_property(spark, existing, batch):
    # dedupe existing per key (it's the already-ingested, keyed table)
    exist = {}
    for k, v in existing:
        exist.setdefault(k, v)
    e = spark.createDataFrame([(k, v) for k, v in exist.items()] or [(None, None)],
                              "k long, v long").filter("k IS NOT NULL")
    b = spark.createDataFrame(batch or [(None, None)], "k long, v long").filter(
        "k IS NOT NULL"
    )
    out = {r["k"]: r["v"] for r in upsert_do_nothing(e, b, keys=["k"], order_by=["v"]).collect()}
    # existing rows always survive untouched
    for k, v in exist.items():
        assert out[k] == v
    # batch-only keys appear exactly once, with the batch's smallest v
    # (first-writer by the order_by tiebreak)
    batch_only = {k for k, _ in batch} - set(exist)
    for k in batch_only:
        assert out[k] == min(v for kk, v in batch if kk == k)
    assert set(out) == set(exist) | batch_only


@given(
    n=st.integers(1, 60),
    fracs=st.sampled_from(
        [(0.5, 0.1), (0.5, 0.25), (0.7, 0.15), (0.8, 0.1), (0.7, 0.0)]
    ),
)
@settings(**SETTINGS)
def test_chrono_split_invariants(spark, n, fracs):
    train_frac, val_frac = fracs
    df = spark.createDataFrame(
        [(i, BASE + dt.timedelta(hours=i)) for i in range(n)], "i long, ts timestamp"
    )
    lab = split_label_by_ratio(df, ["ts", "i"], train_frac, val_frac).collect()
    by = {}
    for r in lab:
        by.setdefault(r["split"], []).append(r["i"])
    n_train = len(by.get("train", []))
    n_val = len(by.get("val", []))
    n_test = len(by.get("test", []))
    # totality + declared floor sizes
    assert n_train + n_val + n_test == n
    assert n_train == int(n * train_frac)
    assert n_val == int(n * val_frac)
    # chronological: every train row precedes every val row precedes test
    if n_train and n_val:
        assert max(by["train"]) < min(by["val"])
    if n_val and n_test:
        assert max(by["val"]) < min(by["test"])
    if n_train and n_test and not n_val:
        assert max(by["train"]) < min(by["test"])


def test_split_rejects_degenerate_fractions(spark):
    import pytest as _pytest

    df = spark.createDataFrame([(1, BASE)], "i long, ts timestamp")
    with _pytest.raises(ValueError):
        split_label_by_ratio(df, ["ts"], 0.8, 0.25)
    with _pytest.raises(ValueError):
        split_label_by_ratio(df, ["ts"], 0.0, 0.5)


# ── JWT round-trip under randomized claims ─────────────────────────────────


@given(
    sub=st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=0x2FF), max_size=40),
    exp=st.integers(min_value=0, max_value=2**40),
    now=st.integers(min_value=0, max_value=2**40),
    secret=st.text(alphabet=st.characters(min_codepoint=33, max_codepoint=126), min_size=1, max_size=32),
)
@settings(max_examples=60, deadline=None)
def test_jwt_roundtrip_property(sub, exp, now, secret):
    """Decode(encode(sub, exp)) recovers the claims; validity is exactly
    exp > now; any other secret rejects."""
    from bigdatasmallprice_spark.functions.auth import jwt_decode_py, jwt_encode_py

    tok = jwt_encode_py(sub, exp, secret)
    out = jwt_decode_py(tok, secret, now)
    assert out["sub"] == sub and out["exp"] == exp
    assert out["valid"] == (exp > now)
    assert jwt_decode_py(tok, secret + "x", now)["error"] == "invalid"


# ── PII scrub: nothing survives redaction, clean text untouched ───────────

_pii_email = st.builds(
    lambda u, d, t: f"{u}@{d}.{t}",
    st.text(alphabet="abcXYZ09._%+-", min_size=1, max_size=12).filter(
        lambda s: not s.startswith(".")
    ),
    st.text(alphabet="abcxyz09-", min_size=1, max_size=10).filter(
        lambda s: s.strip("-")
    ),
    st.sampled_from(["com", "org", "ch", "info"]),
)
_pii_phone = st.builds(
    lambda a, b, c: f"+{a:02d} {b:02d} {c:07d}",
    st.integers(1, 99),
    st.integers(0, 99),
    st.integers(0, 9_999_999),
)
_pii_ip = st.builds(
    lambda a, b, c, d: f"{a}.{b}.{c}.{d}",
    *(st.integers(0, 255) for _ in range(4)),
)
_pii_filler = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=0x17F, exclude_characters="@+"),
    max_size=30,
)


@given(
    pieces=st.lists(
        st.one_of(_pii_email, _pii_phone, _pii_ip, _pii_filler), min_size=1, max_size=8
    )
)
@settings(max_examples=50, deadline=None, suppress_health_check=[HealthCheck.too_slow])
def test_pii_redaction_is_exhaustive(spark, pieces):
    """Adversarial scrub check: however emails/phones/IPs are mixed into
    text, the redacted output contains NO residual match of any PII
    pattern (placeholders don't re-trigger), and redaction is
    idempotent."""
    import re

    from bigdatasmallprice_spark.queries.curationq import (
        _RE_EMAIL,
        _RE_IPV4,
        _RE_PHONE,
        redact,
    )

    text = " ".join(pieces)
    df = spark.createDataFrame([(text,)], "dirty string")
    out = df.select(redact(F.col("dirty")).alias("clean")).collect()[0].clean
    for pat in (_RE_EMAIL, _RE_PHONE, _RE_IPV4):
        assert not re.search(pat, out), (pat, text, out)
    again = (
        spark.createDataFrame([(out,)], "dirty string")
        .select(redact(F.col("dirty")).alias("clean"))
        .collect()[0]
        .clean
    )
    assert again == out  # idempotent


# ---------------------------------------------------------------------------
# bloom filter: membership is complete (no false negatives) for any corpus
# ---------------------------------------------------------------------------


@given(
    corpus=st.lists(st.text(min_size=0, max_size=12), min_size=1, max_size=40, unique=True),
)
@settings(max_examples=10, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_bloom_never_misses_property(spark, corpus):
    """For ANY string corpus (including empty strings and unicode),
    every member must probe as a candidate — the one guarantee the
    prefilter's correctness rests on."""
    from bigdatasmallprice_spark.operators.dedup import bloom_bits, bloom_membership

    df = spark.createDataFrame([(i, t) for i, t in enumerate(corpus)], "id long, t string")
    bits = bloom_bits(df, text_col="t", m=1 << 10, k=3)
    got = bloom_membership(df, bits, ["id"], text_col="t", m=1 << 10, k=3).collect()
    assert all(r.bloom_hit for r in got), [r for r in got if not r.bloom_hit]
