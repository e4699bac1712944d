"""Property-based invariants (SURVEY.md §5.2 item 4, hypothesis).

Strategy: hypothesis generates small pandas frames driver-side; each
property round-trips through the REAL Spark operators and checks the
invariant against an independent pandas/numpy computation.  Spark
sessions are expensive, so examples are capped low — the value is in
the adversarial shapes (empty, all-null, single-row, duplicate-heavy),
not the count.
"""

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from data_validation_spark.operators.constraints import uniqueness_violations
from data_validation_spark.operators.profile import build_profile
from data_validation_spark.plans.suite import Component

SET = settings(max_examples=12, deadline=None,
               suppress_health_check=[HealthCheck.function_scoped_fixture])

values = st.one_of(st.integers(min_value=-1000, max_value=1000),
                   st.none())
rows = st.lists(st.tuples(st.integers(0, 20), values),
                min_size=1, max_size=40)


@given(data=rows)
@SET
def test_numeric_profile_invariants(spark, data):
    """pinv ∈ [0,1]; min ≤ quantiles (monotone) ≤ max; stats match
    pandas on the same values."""
    pdf = pd.DataFrame(data, columns=["key", "v"])
    df = spark.createDataFrame(pdf.astype({"v": "float64"}))
    prof = build_profile(df, [Component("v", "numeric")])
    s = prof.components["v"].stats
    assert 0.0 <= s.pinv <= 1.0
    assert abs(s.pinv - pdf["v"].isna().mean()) < 1e-9
    valid = pdf["v"].dropna().to_numpy(dtype=float)
    if valid.size == 0:
        assert s.min is None and s.max is None
        return
    assert s.min == valid.min() and s.max == valid.max()
    assert abs(s.mean - valid.mean()) < 1e-9
    q = np.asarray(s.quantiles)
    assert (np.diff(q) >= -1e-9).all(), "quantiles must be monotone"
    assert s.min - 1e-9 <= q[0] and q[-1] <= s.max + 1e-9
    # integral-typed input → exact histogram quantiles == numpy exact
    expected = np.percentile(valid, np.arange(101), method="linear")
    int_df = spark.createDataFrame(
        pdf.dropna(subset=["v"]).astype({"v": "int64"}))
    if len(pdf.dropna(subset=["v"])):
        p2 = build_profile(int_df, [Component("v", "numeric")])
        np.testing.assert_allclose(p2.components["v"].stats.quantiles,
                                   expected, atol=1e-9)


@given(keys=st.lists(st.integers(0, 15), min_size=1, max_size=50))
@SET
def test_uniqueness_matches_pandas(spark, keys):
    """Salted two-phase uniqueness == pandas duplicated() on any key
    multiset."""
    pdf = pd.DataFrame({"k": keys, "payload": range(len(keys))})
    df = spark.createDataFrame(pdf)
    viol = uniqueness_violations(df, ["k"], [])
    got = sorted(r["payload"] for r in viol.collect())
    expected = sorted(pdf[pdf["k"].map(pdf["k"].value_counts()) > 1]
                      ["payload"].tolist())
    assert got == expected


@given(freqs=st.dictionaries(
    st.sampled_from(["a", "b", "c", "d", "e"]),
    st.integers(1, 30), min_size=1, max_size=5))
@SET
def test_categoric_frequencies_sum_to_one(spark, freqs):
    data = [(k,) for k, n in freqs.items() for _ in range(n)]
    df = spark.createDataFrame(data, "c string")
    prof = build_profile(df, [Component("c", "categoric")])
    s = prof.components["c"].stats
    assert abs(sum(s.frequencies.values()) - 1.0) < 1e-9
    assert s.counts == freqs
    assert s.pinv == 0.0


# ---------------------------------------------------------------------------
# deterministic sampling invariants
# ---------------------------------------------------------------------------

_frac = st.floats(min_value=0.0, max_value=1.0,
                  allow_nan=False, allow_infinity=False)
_ids = st.lists(st.integers(min_value=0, max_value=10**9),
                min_size=1, max_size=60, unique=True)


@given(ids=_ids, f1=_frac, f2=_frac)
@SET
def test_hash_sample_nesting_and_determinism(spark, ids, f1, f2):
    """For ANY two fractions under one salt, the smaller sample is a
    subset of the larger; repeated runs are identical; a fraction of
    1.0 keeps everything, 0.0 keeps nothing."""
    from data_validation_spark.operators.sampling import hash_sample
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    lo, hi = sorted([f1, f2])
    s_lo = {r["doc_id"] for r in hash_sample(df, lo, salt="p").collect()}
    s_hi = {r["doc_id"] for r in hash_sample(df, hi, salt="p").collect()}
    assert s_lo <= s_hi
    again = {r["doc_id"] for r in hash_sample(df, hi, salt="p").collect()}
    assert again == s_hi
    assert {r["doc_id"] for r in hash_sample(df, 1.0).collect()} == set(ids)
    assert hash_sample(df, 0.0).count() == 0


# ---------------------------------------------------------------------------
# sessionization invariants
# ---------------------------------------------------------------------------

_events = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3),        # user
              st.integers(min_value=0, max_value=10**6)),   # seconds offset
    min_size=1, max_size=50)


@given(data=_events)
@SET
def test_sessionize_invariants(spark, data):
    """Per user: session_seq starts at 1, never decreases along the
    event order, increments by exactly 1 at gaps > threshold, and the
    session count equals 1 + #gaps — checked against an independent
    pandas computation."""
    from data_validation_spark.operators.sessions import sessionize
    rows = [(i, u, pd.Timestamp("2024-01-01") + pd.Timedelta(seconds=s))
            for i, (u, s) in enumerate(data)]
    pdf = pd.DataFrame(rows, columns=["event_id", "user_id", "ts"])
    df = spark.createDataFrame(pdf)
    gap_min = 30
    got = sessionize(df, gap_minutes=gap_min).toPandas() \
        .sort_values(["user_id", "ts", "event_id"])
    for uid, g in got.groupby("user_id"):
        seqs = g["session_seq"].to_numpy()
        assert seqs[0] == 1
        deltas = np.diff(seqs)
        assert ((deltas == 0) | (deltas == 1)).all()
        # independent expectation from pandas
        ts = g["ts"].to_numpy()
        gaps = (np.diff(ts).astype("timedelta64[s]").astype(int)
                > gap_min * 60)
        assert seqs[-1] == 1 + gaps.sum()


# -- temporal joins vs brute-force references ---------------------------

import datetime as _dtm


def _dt(seconds):
    return _dtm.datetime(1970, 1, 1) + _dtm.timedelta(seconds=seconds)

_ts_us = st.integers(min_value=0, max_value=50)
_keys = st.integers(min_value=0, max_value=3)
asof_left = st.lists(st.tuples(_keys, _ts_us), min_size=1, max_size=25)
asof_right = st.lists(st.tuples(_keys, _ts_us, st.integers(0, 99)),
                      min_size=0, max_size=25)


@given(left=asof_left, right=asof_right,
       direction=st.sampled_from(["backward", "forward"]))
@SET
def test_asof_join_matches_brute_force(spark, left, right, direction):
    """asof_join == argmax/argmin over the exact predicate, per left
    row, on arbitrary small frames (duplicate timestamps included)."""
    from data_validation_spark.operators.asof import asof_join
    ldf = spark.createDataFrame(
        [(i, k, _dt(t)) for i, (k, t) in enumerate(left)],
        "lid long, k long, ts timestamp")
    # dedupe right on (k, ts): keep max payload — the operator's
    # documented tie rule (ties resolve by payload struct order)
    rbest = {}
    for k, t, v in right:
        rbest[(k, t)] = max(rbest.get((k, t), -1), v)
    rdf = spark.createDataFrame(
        [(k, _dt(t), v) for (k, t), v in rbest.items()]
        or [(99, _dt(0), 0)],
        "k long, ts timestamp, v long")
    if not rbest:
        rdf = rdf.filter("k < 0")

    got = {r.lid: r.v_asof
           for r in asof_join(ldf, rdf, ["k"],
                              direction=direction).collect()}
    for i, (k, t) in enumerate(left):
        if direction == "backward":
            cand = [(tt, v) for (kk, tt), v in rbest.items()
                    if kk == k and tt <= t]
            want = max(cand)[1] if cand else None
        else:
            cand = [(-tt, v) for (kk, tt), v in rbest.items()
                    if kk == k and tt >= t]
            want = max(cand)[1] if cand else None
        assert got[i] == want, (i, k, t, direction)


iv_points = st.lists(st.tuples(_keys, _ts_us), min_size=1, max_size=20)
iv_spans = st.lists(st.tuples(_keys, _ts_us, st.integers(-5, 20)),
                    min_size=0, max_size=20)


@given(points=iv_points, spans=iv_spans,
       w=st.sampled_from([1, 3, 7, 1_000_000]))
@SET
def test_interval_join_matches_brute_force(spark, points, spans, w):
    """interval_join == the BETWEEN predicate, at any bin width,
    including inverted (end < start) and zero-length intervals."""
    from data_validation_spark.operators.interval import interval_join
    pdf = spark.createDataFrame(
        [(i, k, _dt(t))
         for i, (k, t) in enumerate(points)],
        "pid long, k long, ts timestamp")
    idf = spark.createDataFrame(
        [(j, k, _dt(s), _dt(s + d))
         for j, (k, s, d) in enumerate(spans)]
        or [(0, 99, _dt(0), _dt(0))],
        "iid long, k long, start timestamp, end timestamp")
    if not spans:
        idf = idf.filter("k < 0")

    got = sorted((r.pid, r.iid) for r in
                 interval_join(pdf, idf, ["k"],
                               bin_width_us=w * 1_000_000).collect())
    want = sorted((i, j)
                  for i, (pk, t) in enumerate(points)
                  for j, (ik, s, d) in enumerate(spans)
                  if pk == ik and s <= t <= s + d)
    assert got == want


# -- fuzzy blocking completeness under adversarial string soups ---------

_short_strings = st.lists(
    st.text(alphabet="ab1", min_size=1, max_size=7),
    min_size=1, max_size=18)


@given(strings=_short_strings, d=st.sampled_from([1, 2]))
@SET
def test_fuzzy_blocking_complete_on_dense_soups(spark, strings, d):
    """fuzzy_duplicate_strings == exact all-pairs DP levenshtein on
    3-letter-alphabet soups — maximal collision density, every length
    near the short-block boundary, repeated values."""
    from data_validation_spark.operators.fuzzy import (
        fuzzy_duplicate_strings)
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = sorted((r.s_a, r.s_b, r.dist) for r in
                 fuzzy_duplicate_strings(df, "s", d).collect())
    want = sorted((a, b, lev(a, b)) for a, b in
                  itertools.combinations(sorted(set(strings)), 2)
                  if lev(a, b) <= d)
    assert got == want


def _cumulative(pairs):
    """Reference cumulative weights: ``[(value, cum)]`` in value order
    and the total, NULL values excluded."""
    cum, out = 0, []
    for v in sorted({v for v, _ in pairs if v is not None}):
        cum += sum(w for u, w in pairs if u == v)
        out.append((v, cum))
    return out, cum


def _at_rank(pairs, num, den):
    """Smallest value whose cumulative weight reaches ⌈num·n/den⌉."""
    cums, n = _cumulative(pairs)
    return next((v for v, c in cums if c * den >= n * num), None)


_weighted = st.lists(
    st.tuples(st.one_of(st.integers(-20, 20), st.none()),
              st.integers(1, 4)), min_size=1, max_size=25)


@given(data=_weighted)
@SET
def test_order_statistics_share_one_rank_rule(spark, data):
    """weighted_quantiles' percentiles, iqr_outlier_report's quartiles
    and global_quantile_buckets' buckets all follow one cumulative-
    weight rule with NULL values excluded (the unweighted operators see
    each (value, w) pair as w rows)."""
    from data_validation_spark.functions.stats import weighted_quantiles
    from data_validation_spark.operators.bucketize import (
        global_quantile_buckets)
    from data_validation_spark.operators.health import iqr_outlier_report

    cums, n = _cumulative(data)
    qs = (10, 25, 50, 75, 99)
    wq = weighted_quantiles(spark.createDataFrame(data, "v long, w long"),
                            "v", "w", quantiles=qs).collect()
    rows = spark.createDataFrame(
        [(v,) for v, w in data for _ in range(w)], "v long")
    iqr = iqr_outlier_report(rows, ["v"]).collect()
    if not cums:
        assert wq == [] and iqr == []
        return
    assert (wq[0].total_weight, wq[0].n_values) == (n, len(cums))
    assert [wq[0][f"p{q}"] for q in qs] == \
        [_at_rank(data, q, 100) for q in qs]
    assert (iqr[0].q1, iqr[0].q3, iqr[0].n_rows) == \
        (_at_rank(data, 1, 4), _at_rank(data, 3, 4), n)
    buckets = {r.v: r.qbucket for r in
               global_quantile_buckets(rows, "v", n_buckets=4).collect()}
    assert buckets == {**{v: -(-4 * c // n) for v, c in cums},
                       **({None: None} if None in buckets else {})}


_symbols = st.lists(
    st.tuples(st.one_of(st.none(), st.sampled_from(["__null__", "a", "b"])),
              st.one_of(st.none(), st.integers(0, 2))),
    min_size=1, max_size=25)


@given(data=_symbols)
@SET
def test_column_profilers_share_one_value_rule(spark, data):
    """distinctness_profile, entropy_report, candidate_key_report,
    mutual_information and independence_cells count the same value
    groups: NULL is one value, distinct from the string '__null__'."""
    import math
    from collections import Counter

    from data_validation_spark.operators.health import (
        candidate_key_report, distinctness_profile, entropy_report,
        independence_cells, mutual_information)

    df = spark.createDataFrame(data, "s string, i long")
    cols = ["s", "i"]
    dist = {r.column: (r.n_rows, r.n_distinct)
            for r in distinctness_profile(df, cols).collect()}
    ent = {r.column: r for r in entropy_report(df, cols).collect()}
    keys = {r.key_cols: (r.n_rows, r.n_distinct)
            for r in candidate_key_report(df, cols).collect() if r.size == 1}
    assert dist == keys == {c: (ent[c].n_rows, ent[c].n_distinct)
                            for c in cols}
    n = len(data)
    for j, c in enumerate(cols):
        counts = Counter(row[j] for row in data).values()
        assert dist[c] == (n, len(counts))
        h = math.log(n) - math.fsum(k * math.log(k) for k in counts) / n
        assert abs(ent[c].entropy_nats - h) < 1e-6
    mi = {(r.s, r.i): r.n_ij
          for r in mutual_information(df, "s", "i").collect()}
    ind = {(r.s, r.i): r.n_ij
           for r in independence_cells(df, "s", "i").collect()}
    assert sum(mi.values()) == sum(ind.values()) == n
    assert {cell: c for cell, c in ind.items() if c} == mi == Counter(data)
