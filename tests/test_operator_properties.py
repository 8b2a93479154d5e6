"""Hypothesis property tests for operator invariants (SURVEY §5.2#4):
pack∘unpack identity, ratio_of baseline law, permutation invariance of
exact aggregation, sampling determinism."""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bearysta_spark.operators import group_agg, pack, ratio_of, unpack

keys = st.sampled_from(["k1", "k2", "k3"])
vals = st.floats(min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(keys, vals, vals), min_size=1, max_size=8,
                     unique_by=lambda r: r[0]))
def test_pack_unpack_identity(spark, rows):
    wide = spark.createDataFrame(rows, ["k", "a", "b"])
    back = unpack(pack(wide, ["a", "b"], "name", "val"), "name", "val")
    got = {r["k"]: (r["a"], r["b"]) for r in back.collect()}
    want = {k: (a, b) for k, a, b in rows}
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(
    st.tuples(st.sampled_from(["base", "x", "y"]), st.floats(
        min_value=0.1, max_value=1e3, allow_nan=False)), min_size=2, max_size=10,
))
def test_ratio_of_base_is_one(spark, rows):
    if not any(r[0] == "base" for r in rows):
        rows = rows + [("base", 1.0)]
    df = spark.createDataFrame(rows, ["Prefix", "Time"])
    out = ratio_of(df, "Time", base={"Prefix": "base"}, series=["Prefix"],
                   agg="mean", out="R", check_base=False)
    base_ratios = [r["R"] for r in out.filter(F.col("Prefix") == "base").collect()]
    assert all(abs(r - 1.0) < 1e-12 for r in base_ratios)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(rows=st.lists(st.tuples(keys, vals), min_size=1, max_size=12),
       nparts=st.integers(min_value=1, max_value=5))
def test_exact_agg_partition_invariant(spark, rows, nparts):
    df = spark.createDataFrame(rows, ["k", "v"])
    a = group_agg(df.repartition(1), ["k"], ["v"], "sum_exact", keep_others=False)
    b = group_agg(df.repartition(nparts), ["k"], ["v"], "sum_exact",
                  keep_others=False)
    ra = {r["k"]: r["v"] for r in a.collect()}
    rb = {r["k"]: r["v"] for r in b.collect()}
    assert ra == rb  # bit-identical regardless of partitioning


def test_sampling_determinism(spark, documents):
    from bearysta_spark.functions.sampling import proportional_sample, stratified_sample

    s1 = {r["doc_id"] for r in stratified_sample(documents, ["source"], 3).collect()}
    s2 = {r["doc_id"] for r in stratified_sample(
        documents.repartition(7), ["source"], 3).collect()}
    assert s1 == s2  # stable under repartitioning

    p1 = {r["doc_id"] for r in proportional_sample(documents, 0.2).collect()}
    p2 = {r["doc_id"] for r in proportional_sample(documents, 0.2).collect()}
    assert p1 == p2
    n = documents.count()
    assert 0.05 * n < len(p1) < 0.4 * n  # roughly the asked fraction

    # monotone: a larger fraction strictly contains the smaller sample
    p3 = {r["doc_id"] for r in proportional_sample(documents, 0.5).collect()}
    assert p1 <= p3


def test_approx_variants_accuracy_contract(spark, sf_dir):
    """The at-scale approximate variants (SCALING.md) must actually meet
    their error contracts against the exact answers on real data."""
    from pyspark.sql import functions as F

    from bearysta_spark.operators.aggregate import AGG_FUNCS
    from bearysta_spark.tables import load_events, load_table

    ev = load_events(spark, sf_dir)
    exact = ev.select(F.count_distinct("user_id")).first()[0]
    approx = ev.select(F.approx_count_distinct("user_id", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.06  # 3x rsd

    li = load_table(spark, sf_dir, "lineitem")
    exact_med = li.select(F.median("l_extendedprice")).first()[0]
    appr_med = li.select(AGG_FUNCS["median_approx"](F.col("l_extendedprice"))).first()[0]
    assert abs(appr_med - exact_med) / exact_med < 0.01


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    shared=st.text(alphabet="abcdefgh ", min_size=8, max_size=20),
    pre_a=st.text(alphabet="xyzw", min_size=0, max_size=10),
    pre_b=st.text(alphabet="pqrs", min_size=0, max_size=10),
)
def test_winnowing_guarantee(spark, shared, pre_a, pre_b):
    # MOSS guarantee: two docs sharing a substring of length >= k+w-1
    # (here 8) must share at least one fingerprint
    from bearysta_spark.functions.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, pre_a + shared), (2, pre_b + shared)], "doc_id: long, text: string"
    )
    fps = winnow_fingerprints(df, k=5, w=4).collect()
    a = {r["fp"] for r in fps if r["doc_id"] == 1}
    b = {r["fp"] for r in fps if r["doc_id"] == 2}
    assert a & b, "shared substring >= k+w-1 must share a fingerprint"


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n_lines=st.integers(min_value=1, max_value=120),
    line_len=st.integers(min_value=1, max_value=40),
    chunk_bytes=st.integers(min_value=16, max_value=600),
)
def test_lines_df_equals_python_split(spark, tmp_path_factory, n_lines, line_len, chunk_bytes):
    # byte-range reader: any chunk size yields the file's newline-split lines
    # in (chunk_id, local_idx) order
    from bearysta_spark.engine.sources import lines_df

    p = tmp_path_factory.mktemp("chunkprop") / "f.log"
    lines = [("L%04d_" % i) + "x" * line_len for i in range(n_lines)]
    p.write_text("\n".join(lines) + "\n")
    for chunk_mb in (None, chunk_bytes / (1024 * 1024)):
        rows = sorted(
            lines_df(spark, [str(p)], None, chunk_mb=chunk_mb).collect(),
            key=lambda r: (r["chunk_id"], r["local_idx"]),
        )
        assert [r["line"] for r in rows] == lines


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(
        st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
        min_size=1, max_size=12,
    ),
    intervals=st.lists(
        st.tuples(
            st.floats(min_value=-5.0, max_value=95.0, allow_nan=False),
            st.floats(min_value=0.1, max_value=30.0, allow_nan=False),
        ),
        min_size=1, max_size=6,
    ),
    width=st.sampled_from([1.0, 5.0, 17.0]),
)
def test_banded_range_join_equals_naive_property(spark, values, intervals, width):
    # bucketized interval join ≡ naive BETWEEN join for arbitrary
    # overlapping intervals and any bucket width
    from bearysta_spark.operators.rangejoin import banded_range_join

    probe = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(values)], ["pid", "v"]
    )
    iv = spark.createDataFrame(
        [(i, float(lo), float(lo + span)) for i, (lo, span) in enumerate(intervals)],
        ["band_id", "lo", "hi"],
    )
    got = {
        (r["pid"], r["band_id"])
        for r in banded_range_join(probe, iv, "v", width=width).collect()
    }
    naive = {
        (r["pid"], r["band_id"])
        for r in probe.join(iv, (probe.v >= iv.lo) & (probe.v < iv.hi)).collect()
    }
    assert got == naive


# ---------------------------------------------------------------------------
# Prefix-filter set-similarity join: exact recall AND precision vs brute
# force. The filter's correctness argument (any pair with J ≥ t shares a
# DF-ordered prefix shingle) is the kind of off-by-one-prone math that
# property testing earns its keep on: small vocab + short docs maximize
# shared shingles, boundary sizes, and exact-threshold ties.
# ---------------------------------------------------------------------------

_PJ_VOCAB = ["aa", "bb", "cc", "dd", "ee"]


def _brute_jaccard_pairs(docs, p, q, n=3):
    out = {}
    sets = {}
    for doc_id, text in docs:
        toks = text.split()
        if len(toks) >= n:
            sets[doc_id] = {
                " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
            }
    ids = sorted(sets)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if q * inter >= p * union:  # J >= p/q, integer-exact
                out[(a, b)] = (inter, union)
    return out


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    texts=st.lists(
        st.lists(st.sampled_from(_PJ_VOCAB), min_size=1, max_size=10).map(
            " ".join
        ),
        min_size=2,
        max_size=12,
    ),
    thr=st.sampled_from([(1, 2), (4, 5), (1, 3)]),
)
def test_prefix_jaccard_join_equals_bruteforce(spark, texts, thr):
    from bearysta_spark.functions.dedup import prefix_jaccard_join

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["doc_a"], r["doc_b"]): (r["inter_size"], r["union_size"])
        for r in prefix_jaccard_join(df, "text", "doc_id", thr, 3).collect()
    }
    want = _brute_jaccard_pairs(docs, *thr)
    assert got == want


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    values=st.lists(
        st.floats(min_value=0.0, max_value=1000.0,
                  allow_nan=False, allow_infinity=False),
        min_size=1, max_size=60,
    ),
    q=st.sampled_from([0.1, 0.5, 0.9, 0.99]),
)
def test_hist_quantile_within_bin_of_order_stat(spark, values, q):
    """Histogram-sketch accuracy contract under arbitrary inputs: the
    interpolated estimate lands within one bin width of the
    ceil(q*n)-th order statistic (values above the top bin clamp, so
    the bound holds only for in-range data — max_value stays inside
    bin_width*nbins)."""
    import math

    from bearysta_spark.functions.sketch import hist_bins, hist_quantiles

    df = spark.createDataFrame([(v,) for v in values], "value double")
    bins = hist_bins(df, "value", bin_width=4.0, nbins=256)
    est = hist_quantiles(bins, {"q": q}, bin_width=4.0).first()["est"]
    xs = sorted(values)
    order_stat = xs[min(math.ceil(q * len(xs)), len(xs)) - 1]
    assert abs(est - order_stat) <= 4.0


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    n=st.sampled_from([1, 10, 100, 1000, 3000, 8000]),
    seed=st.integers(min_value=0, max_value=3),
)
def test_hll_relative_error_bound(spark, n, seed):
    """HLL accuracy across the cardinality range, both estimator
    branches: linear counting below 2.5m, raw above. 256 registers give
    sigma = 1.04/sqrt(256) = 6.5%; assert 4 sigma (md5 is a fixed hash,
    so each (n, seed) is one deterministic draw — no flakes)."""
    from bearysta_spark.functions.sketch import hll_estimate, hll_registers

    df = spark.range(n).select(
        (F.col("id") + seed * 1_000_000).alias("key")
    )
    est = hll_estimate(hll_registers(df, "key")).first()["est_hll"]
    assert abs(est - n) / n <= 0.26


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(
    rows=st.lists(
        st.tuples(st.integers(min_value=0, max_value=9999),
                  st.floats(min_value=0.0, max_value=500.0,
                            allow_nan=False, allow_infinity=False)),
        min_size=1, max_size=40, unique_by=lambda r: r[0],
    ),
    nslices=st.sampled_from([2, 3]),
)
def test_sketch_merge_laws(spark, rows, nslices):
    """Merge algebra for HLL (max) and histogram (sum) under arbitrary
    slicing: sketches built per slice and merged == the sketch over the
    whole — the invariant that makes daily checkpoints / streaming
    state / map-side combine all correct."""
    from bearysta_spark.functions.sketch import hist_bins, hll_registers

    df = spark.createDataFrame(rows, "key long, value double")
    whole_h = {r["bucket"]: r["m"] for r in hll_registers(df, "key").collect()}
    whole_b = {r["bin"]: r["cnt"] for r in hist_bins(df, "value").collect()}
    slices = [df.filter(F.col("key") % nslices == i) for i in range(nslices)]
    merged_h: dict = {}
    merged_b: dict = {}
    for s in slices:
        for r in hll_registers(s, "key").collect():
            merged_h[r["bucket"]] = max(merged_h.get(r["bucket"], 0), r["m"])
        for r in hist_bins(s, "value").collect():
            merged_b[r["bin"]] = merged_b.get(r["bin"], 0) + r["cnt"]
    assert merged_h == whole_h
    assert merged_b == whole_b
