"""Deterministic sampling / dataset splits, mergeable sketches, k-means.

Key properties asserted:
- samples and splits are pure functions of the key — stable across
  repartitioning (the contamination guard RNG-based sampling can't give);
- the string-key bucket matches DuckDB's md5 arithmetic (oracle parity);
- HLL estimates are within rsd bounds AND merge losslessly across grains;
- k-means recovers planted clusters and monotonically improves inertia.
"""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from yaetl_spark.operators import (
    approx_distinct,
    approx_quantiles,
    dataset_split,
    hash_bucket_str,
    hash_sample,
    heavy_hitters,
    hll_merge,
    hll_rollup,
    kmeans_fit,
    kmeans_inertia,
    stratified_hash_sample,
)


def test_hash_sample_deterministic_across_partitioning(spark):
    df = spark.range(20000).select(F.col("id").alias("k"))
    a = {r.k for r in hash_sample(df, "k", 0.1).collect()}
    b = {r.k for r in hash_sample(df.repartition(13), "k", 0.1).collect()}
    assert a == b
    assert 0.08 < len(a) / 20000 < 0.12


def test_stratified_rates(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_hash_sample(
        docs, "doc_id", "lang", rates={"en": 0.2}, default_rate=1.0
    )
    n_en = docs.filter(F.col("lang") == "en").count()
    k_en = out.filter(F.col("lang") == "en").count()
    n_rest = docs.filter(F.col("lang") != "en").count()
    k_rest = out.filter(F.col("lang") != "en").count()
    assert k_rest == n_rest  # default rate keeps everything
    assert k_en < n_en * 0.5  # en downsampled hard


def test_string_bucket_matches_duckdb(spark):
    df = spark.createDataFrame(
        [("hello",), ("wörld",), ("日本語",), ("",)], "s string"
    )
    got = {
        r.s: r.b
        for r in df.select("s", hash_bucket_str("s", 1000).alias("b")).collect()
    }
    con = duckdb.connect()
    for s, b in got.items():
        expected = con.execute(
            "SELECT CAST(('0x' || substr(md5(?),1,8)) AS BIGINT) % 1000", [s]
        ).fetchone()[0]
        assert b == expected, s


def test_dataset_split_cover_stability_proportions(spark):
    df = spark.range(50000).select(F.col("id").alias("k"))
    s1 = dataset_split(df, "k", weights=(0.9, 0.05, 0.05))
    counts = {r.split: r.n for r in s1.groupBy("split").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 50000  # disjoint cover
    assert 0.88 < counts["train"] / 50000 < 0.92
    # stability: same assignment regardless of partitioning/order
    s2 = dataset_split(df.repartition(7).orderBy(F.desc("k")), "k",
                       weights=(0.9, 0.05, 0.05))
    diff = (
        s1.alias("a")
        .join(s2.alias("b"), "k")
        .filter(F.col("a.split") != F.col("b.split"))
        .count()
    )
    assert diff == 0


def test_approx_distinct_within_rsd(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r.event_type: r.approx_distinct
        for r in approx_distinct(ev, ["event_type"], "user_id", rsd=0.02).collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(3, 0.08 * n), (k, n, approx[k])


def test_hll_rollup_merges_losslessly(spark, sf_dir):
    """Daily sketches merged to event_type grain must estimate the same
    as sketching the event_type grain directly — mergeability is the whole
    point of the rollup pattern."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").withColumn(
        "day", F.to_date("ts")
    )
    fine = hll_rollup(ev, ["event_type", "day"], "user_id")
    merged = {
        r.event_type: r.distinct_estimate
        for r in hll_merge(fine, ["event_type"]).collect()
    }
    direct = {
        r.event_type: r.distinct_estimate
        for r in hll_merge(
            hll_rollup(ev, ["event_type"], "user_id"), ["event_type"]
        ).collect()
    }
    assert merged == direct
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(merged[k] - n) <= max(3, 0.05 * n)


def test_approx_quantiles_close_to_exact(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    got = approx_quantiles(
        orders, ["o_orderstatus"], "o_totalprice", (0.5, 0.9)
    ).collect()
    for r in got:
        exact = orders.filter(
            F.col("o_orderstatus") == r.o_orderstatus
        ).selectExpr(
            "percentile(o_totalprice, 0.5) AS p50",
            "percentile(o_totalprice, 0.9) AS p90",
        ).first()
        assert abs(r.p50 - exact.p50) / exact.p50 < 0.02
        assert abs(r.p90 - exact.p90) / exact.p90 < 0.02


@pytest.fixture(scope="module")
def clustered(spark):
    # three well-separated planted clusters in 4-d
    import itertools

    centers = [[0.0, 0.0, 0.0, 0.0], [10.0, 10.0, 0.0, 0.0], [0.0, 0.0, 10.0, 10.0]]
    rows = []
    i = 0
    for c_idx, c in enumerate(centers):
        for j in range(100):
            # deterministic jitter in [-0.5, 0.5)
            jit = [(((i * 2654435761 + d * 97 + 12345) % 1000) / 1000.0 - 0.5)
                   for d in range(4)]
            rows.append((i, [c[d] + jit[d] for d in range(4)], c_idx))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>, truth int"
    )


def test_kmeans_recovers_planted_clusters(clustered):
    cents = kmeans_fit(clustered, k=3, iters=5, init_ids=[0, 100, 200])
    # each learned centroid sits near one distinct planted center
    planted = [(0.0, 0.0), (10.0, 0.0), (0.0, 10.0)]  # (dim0, dim2) signature
    got = sorted((round(v[0]), round(v[2])) for _, v in cents)
    assert got == sorted((int(a), int(b)) for a, b in planted)


def test_kmeans_inertia_improves(clustered):
    c1 = kmeans_fit(clustered, k=3, iters=1, init_ids=[0, 1, 2])
    c5 = kmeans_fit(clustered, k=3, iters=5, init_ids=[0, 1, 2])
    i1 = kmeans_inertia(clustered, c1)
    i5 = kmeans_inertia(clustered, c5)
    assert i5 <= i1
    assert i5 < 400  # ~300 pts × avg jitter ssd (<1) — tight fit


def test_kmeans_deterministic(clustered):
    a = kmeans_fit(clustered, k=3, iters=3, init_ids=[5, 105, 205])
    b = kmeans_fit(clustered.repartition(11), k=3, iters=3,
                   init_ids=[5, 105, 205])
    for (_, va), (_, vb) in zip(a, b):
        assert all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(va, vb))


@pytest.mark.parametrize("fit", ["kmeans_fit", "pq_fit"])
@pytest.mark.parametrize("bad, match", [
    ([0, float("nan"), 200], "NaN"),
    ([0, "100", 200], "mix id types"),
], ids=["nan", "mixed"])
def test_fit_rejects_unorderable_init_ids(clustered, fit, bad, match):
    """init_ids are sorted on the driver, so ids without a total order
    (a NaN; an int next to a str) raise ValueError before any job runs
    instead of a TypeError or an arbitrary order mid-fit."""
    import yaetl_spark.operators as ops

    with pytest.raises(ValueError, match=match):
        getattr(ops, fit)(clustered, k=3, iters=1, init_ids=bad)


@pytest.mark.parametrize("fit", ["kmeans_fit", "pq_fit"])
@pytest.mark.parametrize("id_type", ["bigint", "string"])
def test_fit_init_rows_follow_order_by_cid(spark, fit, id_type):
    """Int and str init ids start the fit in ``orderBy("cid")`` order —
    numeric for ints, lexicographic for strings ("100" < "25" < "3")."""
    import yaetl_spark.operators as ops

    cast = str if id_type == "string" else int
    df = spark.createDataFrame(
        [(cast(i), [float(i), -float(i)]) for i in (3, 10, 25, 100, 7)],
        f"vec_id {id_type}, embedding array<double>",
    )
    init = [cast(i) for i in (100, 3, 25)]
    expected = [
        list(r.embedding) for r in
        df.filter(F.col("vec_id").isin(init)).orderBy("vec_id").collect()
    ]
    if fit == "kmeans_fit":
        got = ops.kmeans_fit(df, k=3, iters=0, init_ids=init)
    else:
        [got] = ops.pq_fit(df, m=1, k=3, iters=0, init_ids=init)
    assert [v for _, v in got] == expected


@pytest.mark.parametrize("fit", ["kmeans_fit", "pq_fit"])
def test_fit_null_init_vectors(spark, fit):
    """A listed init id whose vector is NULL raises a ValueError naming
    the id; the sampled init skips NULL vectors, so the fit equals the
    fit of the frame without them (both used to fail with a TypeError
    deep in the driver-side centroid code)."""
    import yaetl_spark.operators as ops

    rows = [(i, [float(i), float(i % 3)]) for i in range(1, 7)]
    df = spark.createDataFrame(
        rows + [(0, None), (7, None)], "vec_id bigint, embedding array<double>")
    run = getattr(ops, fit)
    kw = {"m": 1} if fit == "pq_fit" else {}
    with pytest.raises(ValueError, match=f"{fit}: init_ids entry 0 has a NULL vector"):
        run(df, k=2, iters=1, init_ids=[1, 0], **kw)
    clean = df.filter(F.col("embedding").isNotNull())
    assert run(df, k=6, iters=1, **kw) == run(clean, k=6, iters=1, **kw)


@pytest.fixture(scope="module")
def with_twins(spark):
    """30 seeded 3-d vectors and an exact copy of each (id 30 + i copies
    id i): an init holding a vector and its copy leaves the copy's cell
    empty in the first assignment (ties go to the lowest cell)."""
    import numpy as np

    base = np.random.RandomState(5).standard_normal((30, 3)).tolist()
    rows = list(enumerate(base)) + [(30 + i, v) for i, v in enumerate(base)]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


@pytest.mark.parametrize("iters", [0, 1, 3])
@pytest.mark.parametrize("init", ["sampled", "explicit"])
def test_kmeans_fit_is_one_subspace_pq_fit(with_twins, init, iters):
    """kmeans_fit equals pq_fit(m=1)[0] exactly, including the
    empty-cell rule (the cell keeps its centroid)."""
    import yaetl_spark.operators as ops

    # seed 47 samples a twin pair first
    kw = {"k": 6, "seed": 47,
          "init_ids": [0, 30, 5, 12, 20, 25] if init == "explicit" else None}
    got = ops.kmeans_fit(with_twins, iters=iters, **kw)
    [want] = ops.pq_fit(with_twins, m=1, iters=iters, **kw)
    assert got == want
    start = ops.kmeans_fit(with_twins, iters=0, **kw)
    assigned, _ = ops.build_ivf_index(with_twins, centroids=start)
    assert assigned.select("_cell").distinct().count() < 6


def test_kmeans_inertia_is_distance_to_assigned_centroid(clustered):
    """kmeans_inertia equals the per-row squared distance to the
    centroid of the row's assigned cell, summed (one partition, so the
    sum order is fixed)."""
    from yaetl_spark.operators import build_ivf_index

    df = clustered.coalesce(1)
    cents = kmeans_fit(df, k=3, iters=2, init_ids=[0, 1, 2])
    assigned, _ = build_ivf_index(df, centroids=cents)
    cvec = F.create_map(*[
        x for cell, vec in cents
        for x in (F.lit(cell), F.array(*[F.lit(float(v)) for v in vec]))
    ])[F.col("_cell")]
    d2 = F.aggregate(
        F.zip_with(F.col("embedding"), cvec,
                   lambda x, y: (x.cast("double") - y)
                   * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    assert kmeans_inertia(df, cents) == assigned.agg(F.sum(d2)).first()[0]


def test_empty_centroid_set_raises(spark):
    """An empty centroid set (an empty frame samples none, or an explicit
    ``centroids=[]``) raises ValueError before any plan is built."""
    from yaetl_spark.operators import build_ivf_index

    schema = "vec_id bigint, embedding array<double>"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([(1, [1.0, 0.0])], schema)
    with pytest.raises(ValueError, match="no centroids"):
        build_ivf_index(empty, num_cells=4)
    with pytest.raises(ValueError, match="no centroids"):
        build_ivf_index(one, centroids=[])
    with pytest.raises(ValueError, match="no centroids"):
        kmeans_inertia(one, [])


def test_sampled_init_string_ids_partition_invariant_under_ansi(spark):
    """The sampled init orders string ids by ``xxhash64(id, seed)``:
    ``id + seed`` casts a string to NULL (every row would hash alike,
    so the sample followed the partitioning) and raises under ANSI."""
    import numpy as np

    from yaetl_spark.operators import build_ivf_index

    rng = np.random.RandomState(8)
    df = spark.createDataFrame(
        [(chr(ord("a") + i), rng.standard_normal(3).tolist())
         for i in range(12)], "vec_id string, embedding array<double>")
    _, cents = build_ivf_index(df, num_cells=3)
    _, again = build_ivf_index(df.repartition(3), num_cells=3)
    assert cents == again
    prior = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        _, ansi = build_ivf_index(df.repartition(3), num_cells=3)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prior)
    assert ansi == cents


def test_kmeans_high_dim_update_is_dim_independent(spark):
    """dim=256: the posexplode update keeps the plan at two aggregate
    expressions total (count + sum over the exploded value) instead of
    generating one sum column per dimension — dim=1024 would previously
    blow past codegen limits. Also checks the fit still recovers planted
    centers at this width."""
    import numpy as np

    rng = np.random.RandomState(3)
    dim = 256
    rows = []
    for i in range(40):
        center = 10.0 if i < 20 else -10.0
        rows.append((i, (center + 0.01 * rng.standard_normal(dim)).tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=3, init_ids=[0, 20])
    assert len(cents) == 2 and all(len(v) == dim for _, v in cents)
    m0 = sum(cents[0][1]) / dim
    m1 = sum(cents[1][1]) / dim
    assert abs(m0 - 10.0) < 0.1 and abs(m1 + 10.0) < 0.1
    # determinism across partitioning at width
    again = kmeans_fit(df.repartition(13), k=2, iters=3, init_ids=[0, 20])
    for (_, va), (_, vb) in zip(cents, again):
        assert all(math.isclose(x, y, rel_tol=1e-9) for x, y in zip(va, vb))


def test_histogram_bins_and_edges(spark):
    from yaetl_spark.operators import histogram

    df = spark.createDataFrame(
        [(0.0,), (24.9,), (25.0,), (49.0,), (99.9,), (100.0,), (-1.0,)],
        "x double",
    )
    got = {r.bin: (r.bin_lo, r.bin_hi, r.n)
           for r in histogram(df, "x", lo=0.0, hi=100.0, nbins=4).collect()}
    # 100.0 and -1.0 are out of [0, 100) and dropped
    assert got == {0: (0.0, 25.0, 2), 1: (25.0, 50.0, 2), 3: (75.0, 100.0, 1)}


def test_histogram_clamps_float_edge_bin(spark):
    """width = (hi-lo)/nbins is inexact; for x = nextafter(hi, 0) the
    division can round UP to nbins — the clamp folds it into the top bin
    instead of emitting a phantom bin with bin_hi > hi."""
    from yaetl_spark.operators import histogram

    x = math.nextafter(1.0, 0.0)  # < hi, but floor((x-0)/(1/3)) == 3
    df = spark.createDataFrame([(x,), (0.1,)], "x double")
    got = {r.bin: r.n for r in histogram(df, "x", lo=0.0, hi=1.0, nbins=3).collect()}
    assert got == {0: 1, 2: 1}


def test_pack_documents_window_assignment(spark):
    from yaetl_spark.operators import pack_documents

    docs = spark.createDataFrame(
        [(i, 600) for i in range(10)], "doc_id long, n_tokens int"
    )
    # single bucket so the stream is one ordered concat; budget 1000:
    # starts at 0,600,1200,... -> packs 0,0,1,1,2,3,3,4,4,5
    packed = pack_documents(docs, budget=1000, num_buckets=1)
    got = {r.doc_id: r.pack_id for r in packed.collect()}
    assert got == {0: 0, 1: 0, 2: 1, 3: 1, 4: 2, 5: 3, 6: 3, 7: 4, 8: 4, 9: 5}
    assert all(r.bucket == 0 for r in packed.collect())


def test_pack_documents_is_bucket_deterministic(spark):
    from yaetl_spark.operators import pack_documents

    docs = spark.createDataFrame(
        [(i, 100 + i) for i in range(50)], "doc_id long, n_tokens int"
    )
    a = sorted(map(tuple, pack_documents(docs, 512, num_buckets=4).collect()))
    b = sorted(map(tuple,
                   pack_documents(docs.repartition(7), 512, num_buckets=4).collect()))
    assert a == b


def test_weighted_hash_sample_clamps_and_is_deterministic(spark):
    from yaetl_spark.operators import weighted_hash_sample

    df = spark.createDataFrame(
        [(i, w) for i, w in [(1, 1.5), (2, 1.0), (3, 0.0), (4, -2.0)]],
        "k long, w double",
    )
    kept = {r.k for r in weighted_hash_sample(df, "k", "w").collect()}
    # weight >= 1 always survives; weight <= 0 never does
    assert {1, 2} <= kept and not ({3, 4} & kept)

    big = spark.range(0, 5000).withColumn("w", F.lit(0.3))
    n = weighted_hash_sample(big, "id", "w").count()
    assert abs(n - 1500) < 150  # Knuth hash is uniform enough at 0.3
    n2 = weighted_hash_sample(big.repartition(11), "id", "w").count()
    assert n == n2


def test_theta_overlap_exact_mode_matches_set_algebra(spark):
    """Below 2^lg_k distincts a Theta sketch is exact: the overlap row
    must equal plain set algebra on the same keys."""
    from yaetl_spark.operators import theta_overlap

    a = spark.range(0, 300).select(F.col("id").alias("k"))
    b = spark.range(200, 450).select(F.col("id").alias("k"))
    row = theta_overlap(a, b, "k").collect()[0]
    assert (row.n_a, row.n_b) == (300, 250)
    assert row.n_union == 450
    assert row.n_intersection == 100
    assert (row.n_only_a, row.n_only_b) == (200, 150)


def test_theta_rollup_merges_like_hll(spark, sf_dir):
    """Fine-grain theta sketches unioned to a coarser grain must equal
    the single-pass sketch of the whole population (exact mode)."""
    from yaetl_spark.operators import theta_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fine = theta_rollup(ev, ["event_type"], "user_id")
    merged = fine.groupBy().agg(
        F.theta_sketch_estimate(
            F.theta_union_agg(F.col("theta_sketch"))
        ).cast("bigint").alias("n")
    ).collect()[0].n
    exact = ev.select("user_id").distinct().count()
    assert merged == exact


def test_theta_overlap_partition_invariant(spark, sf_dir):
    from yaetl_spark.operators import theta_overlap

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("event_type") == "click").select("user_id")
    r1 = theta_overlap(a, b, "user_id").collect()[0]
    r2 = theta_overlap(
        a.repartition(7), b.repartition(3), "user_id").collect()[0]
    assert tuple(r1) == tuple(r2)


def test_kll_rollup_merge_within_rank_error(spark, sf_dir):
    """Merged per-group KLL sketches must reproduce global quantiles
    within the sketch's rank-error bound (k=200 → ~1.65% of N ranks)."""
    from yaetl_spark.operators import kll_merge, kll_rollup

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    fine = kll_rollup(o, ["o_orderstatus"], "o_totalprice")
    got = kll_merge(fine, [], probabilities=(0.5, 0.9)).collect()[0]
    vals = sorted(r.o_totalprice for r in o.select("o_totalprice").collect())
    n = len(vals)
    for est, p in ((got.p50, 0.5), (got.p90, 0.9)):
        # translate the value estimate back to a rank and check the bound
        import bisect
        rank = bisect.bisect_left(vals, est) / n
        assert abs(rank - p) < 0.04, (p, est, rank)


def test_kll_merge_keeps_group_columns(spark, sf_dir):
    from yaetl_spark.operators import kll_merge, kll_rollup

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    fine = kll_rollup(ev, ["event_type", "user_id"], "value")
    out = kll_merge(fine, ["event_type"], probabilities=(0.5,))
    rows = out.collect()
    assert {r.event_type for r in rows} == {
        r.event_type for r in ev.select("event_type").distinct().collect()}
    assert all(r.p50 is not None for r in rows)


# --- heavy hitters (exact two-pass) -----------------------------------------


def test_heavy_hitters_exact_counts(spark):
    rows = [("a",)] * 500 + [("b",)] * 120 + [("c",)] * 49 + [
        (f"z{i}",) for i in range(331)
    ]
    df = spark.createDataFrame(rows, "tok string")  # 1000 rows
    got = {r["value"]: r["n"] for r in
           heavy_hitters(df, "tok", support=0.05).collect()}
    # threshold = ceil(0.05 * 1000) = 50: a and b qualify, c misses by 1
    assert got == {"a": 500, "b": 120}


def test_heavy_hitters_matches_exact_groupby(spark, sf_dir):
    toks = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    hh = {r["value"]: r["n"] for r in
          heavy_hitters(toks, "tok", support=0.01).collect()}
    exact = toks.groupBy("tok").count().collect()
    total = sum(r["count"] for r in exact)
    thr = math.ceil(0.01 * total)
    want = {r["tok"]: r["count"] for r in exact if r["count"] >= thr}
    assert hh == want


def test_heavy_hitters_ignores_nulls_and_validates(spark):
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), (None,)], "tok string")
    got = {r["value"]: r["n"] for r in
           heavy_hitters(df, "tok", support=0.5).collect()}
    assert got == {"a": 2}  # 2 of 2 non-null rows; nulls don't count
    with pytest.raises(ValueError):
        heavy_hitters(df, "tok", support=0.0)
    with pytest.raises(ValueError):
        heavy_hitters(df, "tok", support=1.0)


def test_heavy_hitters_partition_invariant(spark):
    rows = [(f"k{i % 7}",) for i in range(700)] + [("rare",)] * 3
    df = spark.createDataFrame(rows, "tok string")
    a = sorted(map(tuple, heavy_hitters(
        df.repartition(1), "tok", support=0.1).collect()))
    b = sorted(map(tuple, heavy_hitters(
        df.repartition(13), "tok", support=0.1).collect()))
    assert a == b and len(a) == 7


# --- semantic dedup (SemDeDup-style) ----------------------------------------


def _semdd_corpus(spark):
    # three well-separated directions; ids 10/11 duplicate id 1's vector
    # almost exactly, id 21 duplicates id 20, id 30 is its own direction
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.999, 0.001, 0.0, 0.0]),
        (11, [0.998, 0.002, 0.0, 0.0]),
        (20, [0.0, 1.0, 0.0, 0.0]),
        (21, [0.0, 0.999, 0.001, 0.0]),
        (30, [0.0, 0.0, 1.0, 0.0]),
    ]
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")


def test_semantic_dedup_drops_near_identical_keeps_min_id(spark):
    from yaetl_spark.operators import semantic_dedup

    surv = semantic_dedup(
        _semdd_corpus(spark), k=3, iters=2, init_ids=[1, 20, 30],
        threshold=0.999,
    )
    assert sorted(r["vec_id"] for r in surv.collect()) == [1, 20, 30]


def test_semantic_dedup_threshold_and_reuse(spark):
    from yaetl_spark.operators import kmeans_fit, semantic_dedup

    corpus = _semdd_corpus(spark)
    # τ=1.0 keeps everything (no exact duplicates in the corpus)
    cents = kmeans_fit(corpus, k=3, iters=2, init_ids=[1, 20, 30], cache=True)
    all_kept = semantic_dedup(corpus, centroids=cents, threshold=1.0)
    assert all_kept.count() == 6
    with pytest.raises(ValueError):
        semantic_dedup(corpus, threshold=0.0)


def test_semantic_dedup_partition_invariant(spark):
    from yaetl_spark.operators import semantic_dedup

    corpus = _semdd_corpus(spark)
    a = sorted(r["vec_id"] for r in semantic_dedup(
        corpus.repartition(1), k=3, iters=2, init_ids=[1, 20, 30],
        threshold=0.999).collect())
    b = sorted(r["vec_id"] for r in semantic_dedup(
        corpus.repartition(5), k=3, iters=2, init_ids=[1, 20, 30],
        threshold=0.999).collect())
    assert a == b == [1, 20, 30]


def test_shuffle_shards_contract_and_determinism(spark):
    """(shard, pos) is a reproducible permutation: every row keeps its
    pair across partitionings and reruns, pos is dense 0..n_shard-1
    within every shard, shards cover [0, num_shards), a different salt
    draws a different permutation, and validation raises."""
    import pytest as _pytest

    from yaetl_spark.operators import shuffle_shards

    rows = [(i, f"doc {i}") for i in range(97)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = shuffle_shards(df, "doc_id", num_shards=7, salt=11)
    got = {r["doc_id"]: (r["shard"], r["pos"]) for r in out.collect()}
    assert len(got) == 97
    by_shard: dict[int, list[int]] = {}
    for s, p in got.values():
        assert 0 <= s < 7
        by_shard.setdefault(s, []).append(p)
    for poss in by_shard.values():
        assert sorted(poss) == list(range(len(poss)))  # dense, 0-based
    again = {r["doc_id"]: (r["shard"], r["pos"])
             for r in shuffle_shards(df.repartition(13), "doc_id",
                                     num_shards=7, salt=11).collect()}
    assert again == got
    other = {r["doc_id"]: (r["shard"], r["pos"])
             for r in shuffle_shards(df, "doc_id", num_shards=7,
                                     salt=12).collect()}
    assert other != got  # a new salt draws a new permutation
    skey = {r["doc_id"]: (r["shard"], r["pos"])
            for r in shuffle_shards(df.repartition(5), "text",
                                    num_shards=7, string_key=True,
                                    salt=11).collect()}
    assert skey == {r["doc_id"]: (r["shard"], r["pos"])
                    for r in shuffle_shards(df, "text", num_shards=7,
                                            string_key=True,
                                            salt=11).collect()}
    with _pytest.raises(ValueError, match="num_shards"):
        shuffle_shards(df, "doc_id", num_shards=0)


def test_shuffle_shards_cross_engine_and_plan(spark, sf_dir):
    """DuckDB replays the whole permutation bit-for-bit on the real
    documents table (Knuth hash → pmod shard → row_number pos — the
    r17 oracle blueprint), and the executed plan is the contract
    shape: exactly ONE exchange (the window's shard hash
    partitioning), no range partitioning / global sort."""
    import duckdb

    from yaetl_spark.operators import shuffle_shards

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = shuffle_shards(docs.select("doc_id", "source"), "doc_id",
                         num_shards=8)
    got = sorted((int(r["doc_id"]), int(r["shard"]), int(r["pos"]))
                 for r in out.collect())
    sql = """
        WITH ranked AS (
            SELECT doc_id, source,
                   (doc_id * 2654435761 + 12345) % 1000000007 AS rk
            FROM documents),
        sharded AS (
            SELECT doc_id, rk, CAST(rk % 8 AS INT) AS shard
            FROM ranked)
        SELECT doc_id, shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                    ORDER BY rk ASC, doc_id ASC) - 1 AS BIGINT) AS pos
        FROM sharded
    """
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{sf_dir}/documents.parquet'")
        want = sorted(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()
    assert got == want and got
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Exchange rangepartitioning" not in plan
    assert "Exchange SinglePartition" not in plan


def _ref_curriculum(rows, num_shards, buckets, parts, salt=12345,
                    ascending=True):
    """Pure-Python replica of curriculum_shards: Knuth sub-shard →
    per-sub equi-depth summary (ceil(rn·B/n) buckets, value at max
    rank) → merged CDF → exact rank-target cuts → count(cut < v) →
    within-shard (score, id) positions. Uses a ONE-LEVEL cut scan, so
    matching it also proves the operator's two-level search exact."""
    kn, c0 = 2654435761, salt
    subs: dict[int, list[float]] = {}
    live = []
    for i, sc in rows:
        if sc is None:
            continue
        cv = float(sc) if ascending else -float(sc)
        live.append((i, cv))
        subs.setdefault((i * kn + c0) % parts, []).append(cv)
    summ: dict[float, int] = {}
    for vals in subs.values():
        vals.sort()
        nloc = len(vals)
        byb: dict[int, list[tuple[int, float]]] = {}
        for rn, v in enumerate(vals, 1):
            byb.setdefault(-((-rn * buckets) // nloc), []).append((rn, v))
        for lst in byb.values():
            v = max(lst)[1]
            summ[v] = summ.get(v, 0) + len(lst)
    n = sum(summ.values())
    targets = [-((-n * i) // num_shards) for i in range(1, num_shards)]
    cuts, c, ti = [], 0, 0
    for v in sorted(summ):
        c += summ[v]
        while ti < len(targets) and c >= targets[ti]:
            cuts.append(v)
            ti += 1
    shard = {i: sum(1 for e in cuts if e < cv) for i, cv in live}
    pos: dict[int, int] = {}
    by_shard: dict[int, list[tuple[float, int]]] = {}
    for i, cv in live:
        by_shard.setdefault(shard[i], []).append((cv, i))
    for lst in by_shard.values():
        for p, (_, i) in enumerate(sorted(lst)):
            pos[i] = p
    return shard, pos


def test_curriculum_shards_contract_and_reference_parity(spark):
    """Shard boundaries partition the global score order (monotone
    across shards, ties to the lower shard), pos is the dense (score,
    id) order within each shard, NULL scores are excluded, the result
    is bit-stable under repartitioning, descending flips the order,
    and the whole pipeline — including the two-level sorted-array
    search — equals the one-level pure-Python replica exactly. With
    buckets ≥ n and distinct scores the summary is exact, so shard
    sizes hit the exact rank-target differences."""
    import pytest as _pytest

    from yaetl_spark.operators import curriculum_shards

    rows = [(i, float((i * 37) % 101) + (1 if i % 9 < 3 else 0))
            for i in range(173)] + [(997, None)]
    df = spark.createDataFrame(rows, "doc_id bigint, score double")
    kw = dict(num_shards=7, buckets=16, summary_partitions=5)
    out = curriculum_shards(df, "score", num_shards=7, buckets=16,
                            summary_partitions=5)
    got = {r["doc_id"]: (r["shard"], r["pos"]) for r in out.collect()}
    assert 997 not in got and len(got) == 173  # NULL score excluded
    want_shard, want_pos = _ref_curriculum(rows, 7, 16, 5)
    assert got == {i: (want_shard[i], want_pos[i]) for i in want_shard}
    by_shard: dict[int, list[float]] = {}
    score = dict(rows)
    for i, (s, _) in got.items():
        by_shard.setdefault(s, []).append(score[i])
    for s in range(max(by_shard) or 0):
        if s in by_shard and s + 1 in by_shard:
            assert max(by_shard[s]) <= min(by_shard[s + 1])
    again = {r["doc_id"]: (r["shard"], r["pos"])
             for r in curriculum_shards(
                 df.repartition(13), "score", **kw).collect()}
    assert again == got
    desc = {r["doc_id"]: (r["shard"], r["pos"])
            for r in curriculum_shards(
                df, "score", ascending=False, **kw).collect()}
    d_shard, d_pos = _ref_curriculum(rows, 7, 16, 5, ascending=False)
    assert desc == {i: (d_shard[i], d_pos[i]) for i in d_shard}
    # exact-summary regime: distinct scores + buckets ≥ n ⇒ shard
    # sizes are exactly the rank-target differences
    exact_rows = [(i, float(i)) for i in range(100)]
    edf = spark.createDataFrame(exact_rows, "doc_id bigint, score double")
    sizes = [0] * 4
    for r in curriculum_shards(edf, "score", num_shards=4, buckets=128,
                               summary_partitions=3).collect():
        sizes[r["shard"]] += 1
    assert sizes == [25, 25, 25, 25]
    single = curriculum_shards(edf, "score", num_shards=1)
    assert {r["shard"] for r in single.collect()} == {0}
    with _pytest.raises(ValueError, match="num_shards"):
        curriculum_shards(df, "score", num_shards=0)
    with _pytest.raises(ValueError, match="buckets"):
        curriculum_shards(df, "score", buckets=0)
    with _pytest.raises(ValueError, match="summary_partitions"):
        curriculum_shards(df, "score", summary_partitions=0)
    with _pytest.raises(ValueError, match="_cur_v"):
        curriculum_shards(df.withColumn("_cur_v", F.lit(1)), "score")


def test_curriculum_shards_persisted_summary_and_properties(spark):
    """A persisted equidepth_summary over the raw score drives the
    SAME boundaries as the internal pass (when built with the same
    sub-sharding), incremental day-2 assignment against day-1's
    summary keeps day-1 boundaries stable, and hypothesis fuzz pins
    the invariants (dense per-shard positions, monotone boundaries
    with ties to the lower shard, reference parity) across ties,
    negatives, and degenerate corpora."""
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import (
        curriculum_shards, equidepth_summary, hash_bucket)

    rows = [(i, float((i * 13) % 37)) for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id bigint, score double")
    kw = dict(num_shards=5, buckets=16, summary_partitions=4)
    inline = {(r["doc_id"], r["shard"], r["pos"])
              for r in curriculum_shards(df, "score", **kw).collect()}
    # externally-built summary with the SAME sub-sharding → identical
    summ = equidepth_summary(
        df.select(F.col("score").alias("v"),
                  hash_bucket(F.col("doc_id"), 4).alias("sb")),
        col="v", shard_col="sb", buckets=16)
    via_summary = {(r["doc_id"], r["shard"], r["pos"])
                   for r in curriculum_shards(
                       df, "score", num_shards=5,
                       summary=summ).collect()}
    assert via_summary == inline
    # day-2 rows against day-1's summary: boundaries stay day-1's
    day2 = spark.createDataFrame(
        [(1000 + i, float(i % 40)) for i in range(60)],
        "doc_id bigint, score double")
    d2 = curriculum_shards(day2, "score", num_shards=5, summary=summ)
    d1_cutmax: dict[int, float] = {}
    for i, (s, _) in {r[0]: (r[1], r[2]) for r in inline}.items():
        sc = dict(rows)[i]
        d1_cutmax[s] = max(d1_cutmax.get(s, sc), sc)
    for r in d2.collect():
        s = r["shard"]
        # a day-2 score inside day-1 shard s's range lands in s
        if s + 1 in d1_cutmax and s in d1_cutmax:
            assert r["score"] <= d1_cutmax[s + 1]

    word = st.floats(min_value=-50, max_value=50, allow_nan=False,
                     width=32)

    @settings(max_examples=3, deadline=None)
    @given(st.lists(word, min_size=1, max_size=40),
           st.integers(min_value=1, max_value=6))
    def run(scores, n_shards):
        rws = [(i, round(float(s), 2)) for i, s in enumerate(scores)]
        sdf = spark.createDataFrame(rws, "doc_id bigint, score double")
        got = {r["doc_id"]: (r["shard"], r["pos"])
               for r in curriculum_shards(
                   sdf, "score", num_shards=n_shards, buckets=8,
                   summary_partitions=3).collect()}
        w_shard, w_pos = _ref_curriculum(rws, n_shards, 8, 3)
        assert got == {i: (w_shard[i], w_pos[i]) for i in w_shard}, (
            rws, n_shards)

    run()


def _deinterleave(z, bits, ncols):
    bs = [0] * ncols
    shift = bits * ncols - 1
    for _ in range(bits):
        for c in range(ncols):
            bs[c] = (bs[c] << 1) | ((z >> shift) & 1)
            shift -= 1
    return bs


def test_zorder_key_morton_contract(spark):
    """Exact-summary regime (all 2^bits values present once per
    column, buckets ≥ n): the key IS the textbook Morton code of the
    per-column values; NULLs bucket 0; bit-stable under
    repartitioning; validation and collision guards raise."""
    import pytest as _pytest

    from yaetl_spark.operators import zorder_key

    rows = [(i, float(i % 16), float(i // 16)) for i in range(256)]
    df = spark.createDataFrame(rows, "doc_id bigint, x double, y double")
    got = {r["doc_id"]: r["zorder"]
           for r in zorder_key(df, ["x", "y"], bits=4,
                               summary_partitions=4,
                               buckets=256).collect()}

    def morton(a, b):
        z = 0
        for bb in range(3, -1, -1):
            z = z * 2 + ((a >> bb) & 1)
            z = z * 2 + ((b >> bb) & 1)
        return z

    assert all(got[i] == morton(i % 16, i // 16) for i in range(256))
    again = {r["doc_id"]: r["zorder"]
             for r in zorder_key(df.repartition(7), ["x", "y"], bits=4,
                                 summary_partitions=4,
                                 buckets=256).collect()}
    assert again == got
    # NULL → bucket 0 in that column's bit positions
    with_null = spark.createDataFrame(
        rows + [(999, None, 3.0)], "doc_id bigint, x double, y double")
    z999 = {r["doc_id"]: r["zorder"]
            for r in zorder_key(with_null, ["x", "y"], bits=4,
                                summary_partitions=4,
                                buckets=256).collect()}[999]
    bx, _ = _deinterleave(z999, 4, 2)
    assert bx == 0
    with _pytest.raises(ValueError, match="cols"):
        zorder_key(df, [])
    with _pytest.raises(ValueError, match="bits"):
        zorder_key(df, ["x"], bits=0)
    with _pytest.raises(ValueError, match="62"):
        zorder_key(df, ["x", "y"], bits=32)
    with _pytest.raises(ValueError, match="collide"):
        zorder_key(df.withColumn("zorder", F.lit(1)), ["x", "y"])


def test_zorder_key_clusters_every_column(spark, sf_dir):
    """The layout property the key exists for: sort the real orders
    table by the 2-column z-key, slice into chunks (files), and each
    chunk's min/max range is FAR tighter — for BOTH columns — than
    the natural-order baseline, so zonemaps prune filters on either
    column. Quantile bucketing makes this hold despite the skewed
    o_totalprice distribution."""
    from yaetl_spark.operators import zorder_key

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    out = zorder_key(orders, ["o_custkey", "o_totalprice"], bits=6,
                     id_col="o_orderkey", summary_partitions=8)
    rows = [(r["zorder"], r["o_custkey"], r["o_totalprice"])
            for r in out.collect()]
    n_chunks = 16

    def range_sum(ordered, idx):
        chunk = max(1, len(ordered) // n_chunks)
        tot = 0.0
        for s in range(0, len(ordered), chunk):
            part = [t[idx] for t in ordered[s:s + chunk]]
            tot += max(part) - min(part)
        return tot

    zsorted = sorted(rows)
    baseline = rows  # natural key order (o_orderkey-ish arrival)
    for idx in (1, 2):
        assert range_sum(zsorted, idx) < 0.5 * range_sum(baseline, idx), \
            ("column", idx, range_sum(zsorted, idx),
             range_sum(baseline, idx))


def test_zorder_key_cross_engine_parity(spark, sf_dir):
    """DuckDB replays the whole key bit-for-bit on the real orders
    table — per-column Knuth sub-shard → equi-depth summary → exact
    rank-target cuts → bucket → MSB-first interleave (the melted
    single-pass summary partitions by (col, sub), so per-column
    independent SQL chains are arithmetic-identical)."""
    import duckdb

    from yaetl_spark.operators import zorder_key

    P, BITS, B = 4, 4, 64
    NB = 1 << BITS
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet") \
        .select("o_orderkey", "o_custkey", "o_totalprice")
    out = zorder_key(orders, ["o_custkey", "o_totalprice"], bits=BITS,
                     id_col="o_orderkey", summary_partitions=P,
                     buckets=B)
    got = sorted((int(r["o_orderkey"]), int(r["zorder"]))
                 for r in out.collect())

    def cut_chain(tag, vcol):
        return f"""
        base_{tag} AS (
            SELECT o_orderkey AS id, CAST({vcol} AS DOUBLE) AS v
            FROM orders WHERE {vcol} IS NOT NULL),
        ranked_{tag} AS (
            SELECT v,
                   (id * 2654435761 + 12345) % {P} AS sb,
                   ROW_NUMBER() OVER (PARTITION BY
                       (id * 2654435761 + 12345) % {P} ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY
                       (id * 2654435761 + 12345) % {P}) AS n
            FROM base_{tag}),
        summ_{tag} AS (
            SELECT sb, (rn * {B} + n - 1) // n AS b,
                   max_by(v, rn) AS value, COUNT(*) AS weight
            FROM ranked_{tag}
            GROUP BY sb, (rn * {B} + n - 1) // n),
        pts_{tag} AS (
            SELECT value AS pv, SUM(weight) AS w
            FROM summ_{tag} GROUP BY value),
        cum_{tag} AS (
            SELECT pv, SUM(w) OVER (ORDER BY pv) AS c,
                   SUM(w) OVER () AS nn
            FROM pts_{tag}),
        cuts_{tag} AS (
            SELECT i, MIN(CASE WHEN c >= (nn * i + {NB} - 1) // {NB}
                          THEN pv END) AS cv
            FROM cum_{tag}, range(1, {NB}) r(i) GROUP BY i),
        arr_{tag} AS (SELECT list(cv ORDER BY i) AS a FROM cuts_{tag})"""

    interleave = "CAST(0 AS BIGINT)"
    for b in range(BITS - 1, -1, -1):
        for tag in ("k", "p"):
            interleave = (f"({interleave}) * 2 + ((b_{tag} >> {b}) & 1)")
    sql = f"""
        WITH {cut_chain('k', 'o_custkey')},
        {cut_chain('p', 'o_totalprice')},
        assigned AS (
            SELECT o.o_orderkey,
                   CASE WHEN o.o_custkey IS NULL THEN 0 ELSE
                       len(list_filter(ak.a,
                           e -> e < CAST(o.o_custkey AS DOUBLE)))
                   END AS b_k,
                   CASE WHEN o.o_totalprice IS NULL THEN 0 ELSE
                       len(list_filter(ap.a,
                           e -> e < CAST(o.o_totalprice AS DOUBLE)))
                   END AS b_p
            FROM orders o, arr_k ak, arr_p ap)
        SELECT o_orderkey, CAST({interleave} AS BIGINT) AS zorder
        FROM assigned ORDER BY o_orderkey
    """
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW orders AS SELECT * FROM "
                    f"'{sf_dir}/orders.parquet'")
        want = sorted(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()
    assert got == want and got


def test_curriculum_shards_cross_engine_and_plan(spark, sf_dir):
    """DuckDB replays the whole pipeline bit-for-bit on the real
    documents table (Knuth sub-shard → equi-depth summary → exact
    rank-target cuts → one-level cut count → row_number pos — the r17
    oracle blueprint), and the executed plan is the contract shape:
    corpus-grain exchanges only for the two windows, the cuts reach
    the corpus as a one-row broadcast (the declared BNLJ), and there
    is no range partitioning / global sort."""
    import duckdb

    from yaetl_spark.operators import curriculum_shards

    P, B, N = 4, 32, 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = curriculum_shards(docs.select("doc_id", "n_chars"), "n_chars",
                            num_shards=N, buckets=B,
                            summary_partitions=P)
    got = sorted((int(r["doc_id"]), int(r["shard"]), int(r["pos"]))
                 for r in out.collect())
    sql = f"""
        WITH base AS (
            SELECT doc_id AS id, CAST(n_chars AS DOUBLE) AS v
            FROM documents WHERE n_chars IS NOT NULL),
        ranked AS (
            SELECT v,
                   ROW_NUMBER() OVER (PARTITION BY
                       (id * 2654435761 + 12345) % {P} ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY
                       (id * 2654435761 + 12345) % {P}) AS n,
                   (id * 2654435761 + 12345) % {P} AS sb
            FROM base),
        summ AS (
            SELECT sb, (rn * {B} + n - 1) // n AS b,
                   max_by(v, rn) AS value, COUNT(*) AS weight
            FROM ranked GROUP BY sb, (rn * {B} + n - 1) // n),
        pts AS (
            SELECT value AS pv, SUM(weight) AS w
            FROM summ GROUP BY value),
        cum AS (
            SELECT pv, SUM(w) OVER (ORDER BY pv) AS c,
                   SUM(w) OVER () AS nn
            FROM pts),
        cuts AS (
            SELECT i, MIN(CASE WHEN c >= (nn * i + {N} - 1) // {N}
                          THEN pv END) AS cv
            FROM cum, range(1, {N}) r(i) GROUP BY i),
        arr AS (SELECT list(cv ORDER BY i) AS a FROM cuts),
        assigned AS (
            SELECT id, v,
                   len(list_filter(arr.a, e -> e < v)) AS shard
            FROM base, arr)
        SELECT id AS doc_id, CAST(shard AS INT) AS shard,
               CAST(ROW_NUMBER() OVER (PARTITION BY shard
                    ORDER BY v, id) - 1 AS BIGINT) AS pos
        FROM assigned ORDER BY doc_id
    """
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{sf_dir}/documents.parquet'")
        want = sorted(map(tuple, con.execute(sql).fetchall()))
    finally:
        con.close()
    assert got == want and got
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row cuts bcast
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_semantic_decontaminate_flags_paraphrase_leak(spark):
    """Known-answer fixture: a corpus row that is a near-copy of a
    benchmark embedding flags with the right bench_id and rounded
    cosine; mode='clean' drops exactly it and keeps the original
    columns; zero-norm rows score 0.0 everywhere; validation raises."""
    import pytest as _pytest

    from yaetl_spark.operators import semantic_decontaminate

    docs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0, 0.0], "keep"),
            (2, [0.001, 0.999, 0.0, 0.0], "leak"),   # ≈ bench 101
            (3, [0.0, 0.0, 0.0, 0.0], "zero"),        # zero norm
        ],
        "doc_id bigint, embedding array<double>, tag string")
    bench = spark.createDataFrame(
        [(100, [0.0, 0.0, 1.0, 0.0]), (101, [0.0, 1.0, 0.0, 0.0])],
        "doc_id bigint, embedding array<double>")
    got = {r["doc_id"]: (r["bench_id"], r["max_cosine"])
           for r in semantic_decontaminate(
               docs, bench, threshold=0.95).collect()}
    assert set(got) == {2} and got[2][0] == 101
    assert got[2][1] == round(0.999 / (0.001**2 + 0.999**2) ** 0.5, 6)
    clean = semantic_decontaminate(docs, bench, threshold=0.95,
                                   mode="clean")
    assert clean.columns == docs.columns
    assert sorted(r["doc_id"] for r in clean.collect()) == [1, 3]
    with _pytest.raises(ValueError, match="threshold"):
        semantic_decontaminate(docs, bench, threshold=0.0)
    with _pytest.raises(ValueError, match="mode"):
        semantic_decontaminate(docs, bench, mode="drop")
    with _pytest.raises(ValueError, match="broadcasts"):
        semantic_decontaminate(docs, bench, max_benchmark_rows=1)


def test_semantic_decontaminate_tiebreak_and_partition_invariance(spark):
    """Two benchmark rows at the SAME rounded cosine to a doc → the
    smaller bench id wins, under any partitioning of either side (the
    fold's total order makes collect_list's nondeterministic order
    unobservable)."""
    from yaetl_spark.operators import semantic_decontaminate

    docs = spark.createDataFrame(
        [(7, [1.0, 1.0, 0.0, 0.0])],
        "doc_id bigint, embedding array<double>")
    bench = spark.createDataFrame(
        [(202, [1.0, 0.0, 0.0, 0.0]), (201, [0.0, 1.0, 0.0, 0.0])],
        "doc_id bigint, embedding array<double>")
    for bp in (1, 5):
        r = semantic_decontaminate(
            docs, bench.repartition(bp), threshold=0.5).first()
        assert (r["bench_id"], r["max_cosine"]) == (201, 0.707107)


def test_semantic_decontaminate_cross_engine_and_plan(spark, sf_dir):
    """DuckDB replays flag mode bit-for-bit on the real embeddings
    table (sequential left folds — the score_fusion oracle
    discipline), proving the r17 driver declaration gets the strong
    hash check; and the executed plan is the contract shape: the
    corpus side never shuffles (zero hashpartitioning exchanges), the
    benchmark reduces to ONE broadcast row (1 SinglePartition
    exchange, 1 BroadcastNestedLoopJoin), no UDF."""
    import duckdb

    from yaetl_spark.operators import semantic_decontaminate

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    docs = emb.filter("vec_id < 400")
    bench = emb.filter("vec_id >= 400")
    out = semantic_decontaminate(docs, bench, id_col="vec_id",
                                 threshold=0.4)
    got = sorted((int(r["vec_id"]), int(r["bench_id"]),
                  float(r["max_cosine"])) for r in out.collect())

    fold = ("list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
            "list_transform(range(1, len({a}) + 1), i -> {expr})), "
            "(x, y) -> x + y)")
    dot = fold.format(a="dv", expr="dv[i] * bv[i]")
    nd = "sqrt(" + fold.format(a="dv", expr="dv[i] * dv[i]") + ")"
    nb = "sqrt(" + fold.format(a="bv", expr="bv[i] * bv[i]") + ")"
    sql = f"""
        WITH d AS (SELECT vec_id AS did, CAST(embedding AS DOUBLE[]) AS dv
                   FROM embeddings WHERE vec_id < 400),
        b AS (SELECT vec_id AS bid, CAST(embedding AS DOUBLE[]) AS bv
              FROM embeddings WHERE vec_id >= 400),
        scored AS (
            SELECT did, bid,
                   round(CASE WHEN {nd} * {nb} = 0 THEN 0.0
                              ELSE {dot} / ({nd} * {nb}) END, 6) AS cos
            FROM d CROSS JOIN b),
        best AS (
            SELECT did AS vec_id, bid AS bench_id, cos AS max_cosine,
                   ROW_NUMBER() OVER (PARTITION BY did
                       ORDER BY cos DESC, bid ASC) AS rn
            FROM scored)
        SELECT vec_id, bench_id, max_cosine
        FROM best WHERE rn = 1 AND max_cosine >= 0.4
    """
    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                    f"'{sf_dir}/embeddings.parquet'")
        want = sorted((int(a), int(b), float(c))
                      for a, b, c in con.execute(sql).fetchall())
    finally:
        con.close()
    assert got == want and got  # non-empty at the fixture threshold

    # AQE-final section only (the string repeats shapes in the
    # '== Initial Plan ==' tail)
    plan = (out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])
    assert plan.count("Exchange hashpartitioning") == 0
    assert plan.count("Exchange SinglePartition") == 1
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in plan and "BatchEvalPython" not in plan


def test_heavy_hitters_keeps_exact_threshold_item(spark):
    from yaetl_spark.operators import heavy_hitters

    # 1000 rows; support 0.05 -> threshold ceil(50) = 50; "edge" sits
    # EXACTLY on it. Misra-Gries at full support only guarantees
    # strictly-greater items — the halved candidate pass must keep it.
    rows = [("big",)] * 700 + [("edge",)] * 50 + [
        (f"z{i}",) for i in range(250)
    ]
    got = {r["value"]: r["n"] for r in heavy_hitters(
        spark.createDataFrame(rows, "tok string"), "tok",
        support=0.05).collect()}
    assert got == {"big": 700, "edge": 50}
    with pytest.raises(ValueError):
        heavy_hitters(spark.createDataFrame(rows, "tok string"), "tok",
                      support=1e-4)


def test_semantic_dedup_max_cell_guard(spark):
    """A deliberately collapsed fit (k=1: every vector in one cell)
    must trip the max_cell_rows guard with an actionable error instead
    of silently running the all-pairs join; a bound that fits passes
    and leaves the result unchanged."""
    from yaetl_spark.operators import semantic_dedup

    corpus = _semdd_corpus(spark)  # 6 vectors
    with pytest.raises(ValueError, match="max_cell_rows"):
        semantic_dedup(
            corpus, k=1, iters=1, init_ids=[1], threshold=0.999,
            max_cell_rows=3,
        )
    # well-spread fit under the bound: guard passes, result unchanged
    surv = semantic_dedup(
        corpus, k=3, iters=2, init_ids=[1, 20, 30], threshold=0.999,
        max_cell_rows=4,
    )
    assert sorted(r["vec_id"] for r in surv.collect()) == [1, 20, 30]
    with pytest.raises(ValueError, match="max_cell_rows must be"):
        semantic_dedup(corpus, k=3, threshold=0.999, max_cell_rows=0)


def test_equi_depth_histogram_balanced_and_plan(spark):
    from pyspark.sql import functions as F

    from yaetl_spark.operators import equi_depth_histogram

    from .conftest import table_path

    orders = spark.read.parquet(table_path("orders"))
    total = orders.filter(F.col("o_totalprice").isNotNull()).count()
    rows = equi_depth_histogram(
        orders, "o_totalprice", 8, exact=True).orderBy("bin").collect()
    assert [r["bin"] for r in rows] == list(range(8))
    assert sum(r["n"] for r in rows) == total
    # equal depth: every bin within 2% of total/8 on continuous data
    for r in rows:
        assert abs(r["n"] - total / 8) <= max(2, 0.02 * total)
    # bins tile the range: each hi equals the next lo
    for a, b in zip(rows, rows[1:]):
        assert a["bin_hi"] == b["bin_lo"]
    # plan: no global sort, no rangepartitioning; the boundary row
    # attaches as a broadcast hash join (never BNLJ)
    plan = equi_depth_histogram(
        orders, "o_totalprice", 8
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    import pytest

    with pytest.raises(ValueError):
        equi_depth_histogram(orders, "o_totalprice", 1)


def test_equi_depth_histogram_heavy_value_spans_bins(spark):
    from yaetl_spark.operators import equi_depth_histogram

    # 90 rows of value 5 + 10 spread: repeated boundaries collapse, so
    # some bins are absent and the heavy value's bin holds the mass
    rows = [(5.0,)] * 90 + [(float(i),) for i in range(10)]
    df = spark.createDataFrame(rows, "v double")
    got = equi_depth_histogram(df, "v", 4, exact=True).collect()
    assert sum(r["n"] for r in got) == 100
    bins = {r["bin"]: r["n"] for r in got}
    assert max(bins.values()) >= 90  # the heavy value stays together


def test_equi_width_histogram_exact_bounds_and_plan(spark):
    from pyspark.sql import functions as F

    from yaetl_spark.operators import equi_width_histogram

    df = spark.range(100).select((F.col("id")).cast("double").alias("v"))
    rows = {r["bin"]: r for r in
            equi_width_histogram(df, "v", 4).collect()}
    # [0, 99] in 4 bins of width 24.75; ids 0..24 -> bin 0 (25 rows),
    # 25..49 -> bin 1, 50..74 -> bin 2, 75..99 -> bin 3 (max lands last)
    assert [rows[i]["n"] for i in range(4)] == [25, 25, 25, 25]
    assert rows[0]["bin_lo"] == 0.0 and rows[3]["bin_hi"] == 99.0
    assert rows[1]["bin_lo"] == 24.75
    # degenerate: constant column -> everything in bin 0
    const = spark.range(10).select(F.lit(5.0).alias("v"))
    got = equi_width_histogram(const, "v", 4).collect()
    assert len(got) == 1 and got[0]["bin"] == 0 and got[0]["n"] == 10
    # partition invariance + plan: in-plan scalar attach, no BNLJ
    a = sorted(map(tuple, equi_width_histogram(df, "v", 7).collect()))
    b = sorted(map(tuple,
                   equi_width_histogram(df.repartition(5), "v", 7).collect()))
    assert a == b
    plan = equi_width_histogram(df, "v", 4)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") == 1
    import pytest
    with pytest.raises(ValueError):
        equi_width_histogram(df, "v", 0)


def test_quantile_strata_sample_strata_and_rates(spark):
    """Deterministic quantile-stratified sampling: exact quartile
    bounds over 1..100; rates keep all of the bottom and top strata
    and none of the middle — the kept set is exactly the outer
    quartiles, independent of partitioning."""
    from yaetl_spark.operators import quantile_strata_sample

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], ["id", "v"])
    out = quantile_strata_sample(
        df, "v", "id", rates=[1.0, 0.0, 0.0, 1.0], exact=True,
        stratum_col="stratum",
    )
    rows = {r["id"]: r["stratum"] for r in out.collect()}
    # exact quartile bounds of 1..100: 25.75 / 50.5 / 75.25
    assert set(rows) == set(range(1, 26)) | set(range(76, 101))
    assert all(s == 0 for i, s in rows.items() if i <= 25)
    assert all(s == 3 for i, s in rows.items() if i >= 76)
    # partition invariance
    out2 = quantile_strata_sample(
        df.repartition(7), "v", "id",
        rates=[1.0, 0.0, 0.0, 1.0], exact=True)
    assert {r["id"] for r in out2.collect()} == set(rows)
    # NULL values dropped; fractional rate is a strict subset
    withnull = df.union(spark.createDataFrame(
        [(999, None)], "id int, v double"))
    frac = quantile_strata_sample(
        withnull, "v", "id", rates=[0.3, 0.3, 0.3, 0.3], exact=True)
    got = {r["id"] for r in frac.collect()}
    assert 999 not in got and 0 < len(got) < 100
    import pytest as _pt
    with _pt.raises(ValueError):
        quantile_strata_sample(df, "v", "id", rates=[1.0])
    with _pt.raises(ValueError):
        quantile_strata_sample(df, "v", "id", rates=[0.5, 1.5])


def test_quantile_strata_sample_no_corpus_shuffle(spark):
    """Fit rides a 1-row broadcast; the corpus itself never shuffles
    (no Exchange hashpartitioning over the data side) and the join is
    a broadcast hash join, not a BNLJ."""
    from yaetl_spark.operators import quantile_strata_sample

    df = spark.createDataFrame(
        [(i, float(i % 37)) for i in range(500)], ["id", "v"])
    out = quantile_strata_sample(df, "v", "id", rates=[0.5, 0.5])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_quantile_strata_sample_bounds_name_collision(spark):
    """A caller column literally named _qs_bounds must survive — the
    temp boundary-array name prefix-extends until unused instead of
    colliding in attach_scalars (r11 ADVICE)."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import quantile_strata_sample

    df = spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], ["id", "v"]
    ).withColumn("_qs_bounds", F.lit("caller-owned"))
    out = quantile_strata_sample(
        df, "v", "id", rates=[1.0, 0.0, 0.0, 1.0], exact=True)
    assert out.columns.count("_qs_bounds") == 1
    rows = out.collect()
    assert {r["id"] for r in rows} == \
        set(range(1, 26)) | set(range(76, 101))
    assert all(r["_qs_bounds"] == "caller-owned" for r in rows)


def test_leakage_safe_split_cluster_atomicity(spark):
    """Every member of a cluster gets the representative's split (no
    near-dup pair may straddle train/test); unclustered rows match
    plain dataset_split exactly; output row count is unchanged by the
    left join."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import dataset_split, leakage_safe_split

    docs = spark.createDataFrame([(i,) for i in range(300)], ["doc_id"])
    # clusters: {1, 101, 201} -> rep 1; {7, 57} -> rep 7
    clusters = spark.createDataFrame(
        [(1, 1), (101, 1), (201, 1), (7, 7), (57, 7)],
        ["doc_id", "cluster"])
    out = leakage_safe_split(
        docs, "doc_id", clusters, weights=(0.8, 0.1, 0.1))
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    assert len(rows) == 300
    assert rows[1] == rows[101] == rows[201]
    assert rows[7] == rows[57]
    # clustered members take the REPRESENTATIVE's hash, which equals
    # plain dataset_split of the representative id
    plain = {r["doc_id"]: r["split"] for r in dataset_split(
        docs, "doc_id", weights=(0.8, 0.1, 0.1)).collect()}
    assert rows[101] == plain[1] and rows[57] == plain[7]
    # unclustered rows are untouched
    clustered_ids = {1, 101, 201, 7, 57}
    assert all(rows[i] == plain[i]
               for i in range(300) if i not in clustered_ids)
    # determinism across partitioning
    again = {r["doc_id"]: r["split"] for r in leakage_safe_split(
        docs.repartition(7), "doc_id", clusters,
        weights=(0.8, 0.1, 0.1)).collect()}
    assert again == rows
    # caller columns named like the internal temps must survive
    noisy = docs.withColumn("_ls_id", F.lit("mine")) \
        .withColumn("_ls_cluster", F.lit(7))
    out2 = leakage_safe_split(
        noisy, "doc_id", clusters, weights=(0.8, 0.1, 0.1))
    assert out2.columns.count("_ls_id") == 1
    assert out2.columns.count("_ls_cluster") == 1
    r0 = out2.filter(F.col("doc_id") == 101).first()
    assert r0["_ls_id"] == "mine" and r0["_ls_cluster"] == 7
    assert r0["split"] == rows[101]


def _eqd(spark, rows, schema="s string, v double"):
    return spark.createDataFrame(rows, schema)


def test_equidepth_summary_exact_when_buckets_cover(spark):
    """B >= n per shard: every value gets its own summary point with
    weight 1, so the merged quantiles are EXACTLY the discrete
    quantiles (value at rank ceil(p*N)); NULLs are dropped; weights
    always sum to the non-null row count."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    rows = [("a", float(v)) for v in (5, 1, 3, 2, 4)] + \
           [("b", float(v)) for v in (10, 20, 30)] + [("b", None)]
    summ = equidepth_summary(_eqd(spark, rows), "v", "s", buckets=8)
    got = summ.collect()
    assert sum(r["weight"] for r in got) == 8  # NULL dropped
    assert all(r["weight"] == 1 for r in got)
    assert sorted(r["value"] for r in got if r["shard"] == "a") == \
        [1.0, 2.0, 3.0, 4.0, 5.0]
    q = summary_quantiles(summ, (0.0, 0.5, 0.9, 1.0)).first()
    pooled = sorted([1, 2, 3, 4, 5, 10, 20, 30])
    assert q["n_rows"] == 8
    assert q["p00"] == pooled[0]            # min
    assert q["p50"] == pooled[4 - 1]        # ceil(.5*8)=4 -> 4.0
    assert q["p90"] == pooled[8 - 1]        # ceil(.9*8)=8 -> 30.0
    assert q["p100"] == pooled[-1]          # max


def test_equidepth_summary_partition_invariant_and_rank_bound(spark):
    """The summary is bit-identical under any input partitioning, and
    a merged quantile's true rank stays within the documented
    sum-of-ceil(n_s/B) bound at a compressing B."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    rows = [(f"s{i % 7}", float((i * 37) % 1000)) for i in range(1400)]
    df = _eqd(spark, rows)
    B = 16
    a = sorted(map(tuple, equidepth_summary(
        df.repartition(13), "v", "s", buckets=B).collect()))
    b = sorted(map(tuple, equidepth_summary(
        df.coalesce(1), "v", "s", buckets=B).collect()))
    assert a == b
    assert len(a) <= 7 * B
    q = summary_quantiles(
        equidepth_summary(df, "v", "s", buckets=B), (0.5, 0.9, 0.99)
    ).first()
    pooled = sorted(v for _, v in rows)
    n = len(pooled)
    bound = sum(math.ceil(200 / B) for _ in range(7))  # n_s=200 per shard
    for p, col in ((0.5, "p50"), (0.9, "p90"), (0.99, "p99")):
        target = math.ceil(p * n)
        # true rank range of the reported value in the pooled order
        lo = pooled.index(q[col]) + 1
        hi = n - pooled[::-1].index(q[col])
        assert lo - bound <= target <= hi + bound, (p, q[col])


def test_summary_quantiles_grouped_keys_and_validation(spark):
    """Coarse keys derived from the shard name answer per-group
    quantiles from one summary table; out-of-range probabilities
    raise."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    rows = [("g1_d1", float(v)) for v in range(1, 11)] + \
           [("g1_d2", float(v)) for v in range(11, 21)] + \
           [("g2_d1", float(v)) for v in range(101, 121)]
    summ = equidepth_summary(_eqd(spark, rows), "v", "s", buckets=32) \
        .withColumn("grp", F.substring("shard", 1, 2))
    out = {r["grp"]: r for r in summary_quantiles(
        summ, (0.5,), keys=["grp"]).collect()}
    assert out["g1"]["n_rows"] == 20 and out["g1"]["p50"] == 10.0
    assert out["g2"]["n_rows"] == 20 and out["g2"]["p50"] == 110.0
    with pytest.raises(ValueError, match="probabilities"):
        summary_quantiles(summ, (1.5,))
    with pytest.raises(ValueError, match="buckets"):
        equidepth_summary(_eqd(spark, rows), "v", "s", buckets=0)


def test_equidepth_summary_single_exchange_plan(spark):
    """The fine pass is ONE shuffle: the per-shard sort window's
    exchange is reused by the (shard, bucket) aggregate — a second
    hashpartitioning would double the corpus shuffle at 100 TB."""
    from yaetl_spark.operators import equidepth_summary

    rows = [(f"s{i % 3}", float(i)) for i in range(60)]
    plan = equidepth_summary(_eqd(spark, rows), "v", "s", buckets=4) \
        ._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_cluster_cap_semantics_and_determinism(spark):
    """Cap=2 keeps exactly 2 members of a 3-cluster (chosen by the
    deterministic (hash_bucket, id) order — verified against the same
    Knuth arithmetic in Python), all of a 2-cluster, and every
    unclustered singleton; rank_col exposes the within-cluster rank;
    temp names survive a caller column literally named _cc_cluster."""
    from yaetl_spark.operators import cluster_cap

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in (1, 2, 3, 10, 11, 99)], "doc_id long, t string")
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, cluster long")
    out = cluster_cap(docs, "doc_id", clusters, cap=2, rank_col="rk")
    got = {r["doc_id"]: r["rk"] for r in out.collect()}
    expected_order = sorted(
        [1, 2, 3], key=lambda i: ((i * 2654435761 + 12345) % 1_000_000, i))
    kept3 = set(expected_order[:2])
    assert set(got) == kept3 | {10, 11, 99}
    assert got[99] == 1 and {got[10], got[11]} == {1, 2}
    # stable under repartitioning
    got2 = {r["doc_id"] for r in cluster_cap(
        docs.repartition(5), "doc_id", clusters, cap=2).collect()}
    assert got2 == set(got)
    with pytest.raises(ValueError, match="cap"):
        cluster_cap(docs, "doc_id", clusters, cap=0)
    # collision-safe temps
    tricky = docs.withColumn("_cc_cluster", F.lit("x")) \
        .withColumn("_cc_id", F.lit(7))
    out2 = cluster_cap(tricky, "doc_id", clusters, cap=2)
    assert set(out2.columns) == {"doc_id", "t", "_cc_cluster", "_cc_id"}
    assert {r["doc_id"] for r in out2.collect()} == set(got)
    # a user column literally named _cc_rank survives untouched (the
    # internal rank temp is uniquified like the join temps) ...
    ranky = docs.withColumn("_cc_rank", F.lit("keep-me"))
    out3 = cluster_cap(ranky, "doc_id", clusters, cap=2)
    assert set(out3.columns) == {"doc_id", "t", "_cc_rank"}
    assert {r["_cc_rank"] for r in out3.collect()} == {"keep-me"}
    assert {r["doc_id"] for r in out3.collect()} == set(got)
    # ... and an EXPLICIT rank_col that collides fails loud instead of
    # silently overwriting the caller's column
    with pytest.raises(ValueError, match="rank_col"):
        cluster_cap(docs, "doc_id", clusters, cap=2, rank_col="t")


def test_cluster_cap_shuffles_only_clustered_rows(spark):
    """The window exchange hashes on the cluster id of the CLUSTERED
    branch only; the unclustered branch reaches the union without a
    window — the property that keeps the shuffle bounded by the
    near-dup population at 100 TB."""
    from yaetl_spark.operators import cluster_cap

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(50)], "doc_id long, t string")
    clusters = spark.createDataFrame(
        [(i, i // 2 * 2) for i in range(10)], "doc_id long, cluster long")
    plan = cluster_cap(docs, "doc_id", clusters, cap=1) \
        ._jdf.queryExecution().executedPlan().toString()
    # one rank window (the clustered branch; WindowGroupLimit rows are
    # its pushed partial top-k, not a second window), no global sort
    assert plan.count("Window [") == 1, plan
    assert "Exchange rangepartitioning" not in plan


def test_summary_quantiles_rejects_overfine_probability(spark):
    """Probabilities finer than 3 decimals would push N*num toward
    int64 overflow at corpus scale — fail loud instead."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    summ = equidepth_summary(
        _eqd(spark, [("a", 1.0), ("a", 2.0)]), "v", "s", buckets=4)
    with pytest.raises(ValueError, match="denominator"):
        summary_quantiles(summ, (0.9999,))
    # 3 decimals is fine — and gets its own non-colliding label
    assert summary_quantiles(summ, (0.999,)).first()["p99_9"] == 2.0


def test_quantile_labels_exact_and_collision_free(spark):
    """The shared label helper (approx_quantiles / kll_merge /
    summary_quantiles): IEEE truncation never mislabels (0.29 -> p29,
    not the int(0.29*100)==28 bug), sub-percent probabilities get
    distinct labels (0.99 -> p99, 0.999 -> p99_9), and a duplicate
    label raises instead of emitting an ambiguous schema."""
    from yaetl_spark.operators import (
        approx_quantiles,
        equidepth_summary,
        summary_quantiles,
    )
    from yaetl_spark.operators.sketches import _quantile_labels

    assert _quantile_labels([0.29, 0.57, 0.58]) == ["p29", "p57", "p58"]
    assert _quantile_labels([0.0, 0.001, 0.99, 0.995, 0.999, 1.0]) == \
        ["p00", "p00_1", "p99", "p99_5", "p99_9", "p100"]
    with pytest.raises(ValueError, match="duplicate"):
        _quantile_labels([0.5, 0.5])

    df = _eqd(spark, [("a", float(v)) for v in range(1, 101)])
    got = approx_quantiles(df, [], "v", probabilities=(0.29, 0.99, 0.999))
    assert got.columns == ["p29", "p99", "p99_9"]
    assert got.first()["p29"] == 29.0
    summ = equidepth_summary(df, "v", "s", buckets=128)
    row = summary_quantiles(summ, (0.29, 0.99, 0.999)).first()
    assert (row["p29"], row["p99"], row["p99_9"]) == (29.0, 99.0, 100.0)
    with pytest.raises(ValueError, match="duplicate"):
        summary_quantiles(summ, (0.5, 0.5))

    from yaetl_spark.operators import kll_merge, kll_rollup
    fine = kll_rollup(df, [], "v", k=200)
    assert kll_merge(fine, [], probabilities=(0.5, 0.999)).columns == \
        ["p50", "p99_9"]


def test_equidepth_summary_rank_bound_property(spark):
    """Hypothesis drives random value multisets, shard splits, and
    bucket counts through the summary; the merged estimate for every
    probability must be an ACTUAL data value whose true rank sits
    within the documented sum-of-ceil(n_s/B) bound of the target rank
    — the contract that makes the sketch trustworthy at any scale."""
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    @settings(max_examples=5, deadline=None)
    @given(
        st.lists(st.integers(min_value=-1000, max_value=1000),
                 min_size=3, max_size=120),
        st.integers(min_value=1, max_value=5),   # shards
        st.integers(min_value=1, max_value=9),   # buckets
        st.sampled_from([0.25, 0.5, 0.75, 0.9]),
    )
    def run(values, n_shards, B, p):
        rows = [(f"s{i % n_shards}", float(v)) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, "s string, v double")
        got = summary_quantiles(
            equidepth_summary(df, "v", "s", buckets=B), (p,)
        ).first()
        pooled = sorted(v for _, v in rows)
        n = len(pooled)
        assert got["n_rows"] == n
        est = got[f"p{int(p * 100):02d}"]
        assert est in pooled  # actual data value, never interpolated
        target = math.ceil(p * n)
        lo = pooled.index(est) + 1          # best true rank of est
        hi = n - pooled[::-1].index(est)    # worst true rank of est
        shard_sizes = [len([1 for i in range(len(values))
                            if i % n_shards == j]) for j in range(n_shards)]
        bound = sum(math.ceil(sz / B) for sz in shard_sizes if sz)
        assert lo - bound <= target <= hi + bound, (
            values, n_shards, B, p, est)

    run()


def test_equidepth_summary_cross_engine_parity(spark):
    """Hypothesis drives tie-heavy random multisets through the Spark
    summary AND a DuckDB replication of the documented arithmetic
    (row_number -> integer-div bucket -> max_by/count -> cumulative
    weighted rank). Full summary tables and merged quantiles must be
    bit-identical — the same guarantee the registry oracle checks, on
    inputs the corpus can't reach (all-equal shards, singletons,
    negative values)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.integers(min_value=-5, max_value=5),  # heavy ties
                 min_size=1, max_size=60),
        st.integers(min_value=1, max_value=3),
        st.integers(min_value=1, max_value=6),
    )
    def run(values, n_shards, B):
        rows = [(f"s{i % n_shards}", v) for i, v in enumerate(values)]
        df = spark.createDataFrame(rows, "s string, v long")
        summ = equidepth_summary(df, "v", "s", buckets=B)
        got_summary = sorted(map(tuple, summ.collect()))
        got_q = summary_quantiles(summ, (0.5, 0.9)).first()
        con = duckdb.connect()
        try:
            con.execute("CREATE TABLE t (s VARCHAR, v BIGINT)")
            con.executemany("INSERT INTO t VALUES (?, ?)", rows)
            sql = f"""
                WITH ranked AS (
                    SELECT s, v,
                           ROW_NUMBER() OVER (PARTITION BY s
                                              ORDER BY v) AS rn,
                           COUNT(*) OVER (PARTITION BY s) AS n
                    FROM t WHERE v IS NOT NULL),
                summ AS (
                    SELECT s, (rn * {B} + n - 1) // n AS b,
                           max_by(v, rn) AS value, COUNT(*) AS weight
                    FROM ranked GROUP BY s, (rn * {B} + n - 1) // n)
                SELECT s, b, value, CAST(weight AS BIGINT) FROM summ
            """
            want_summary = sorted(map(tuple, con.execute(sql).fetchall()))
            qsql = f"""
                WITH ranked AS (
                    SELECT s, v,
                           ROW_NUMBER() OVER (PARTITION BY s
                                              ORDER BY v) AS rn,
                           COUNT(*) OVER (PARTITION BY s) AS n
                    FROM t WHERE v IS NOT NULL),
                summ AS (
                    SELECT s, (rn * {B} + n - 1) // n AS b,
                           max_by(v, rn) AS value, COUNT(*) AS weight
                    FROM ranked GROUP BY s, (rn * {B} + n - 1) // n),
                cum AS (
                    SELECT value,
                           SUM(weight) OVER (ORDER BY value, s, b
                               ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND CURRENT ROW) AS cw,
                           SUM(weight) OVER () AS nn
                    FROM summ)
                SELECT CAST(MAX(nn) AS BIGINT),
                       MIN(CASE WHEN cw >= (nn * 5 + 9) // 10
                                THEN value END),
                       MIN(CASE WHEN cw >= (nn * 9 + 9) // 10
                                THEN value END)
                FROM cum
            """
            want_q = con.execute(qsql).fetchone()
        finally:
            con.close()
        assert got_summary == want_summary, (values, n_shards, B)
        assert (got_q["n_rows"], got_q["p50"], got_q["p90"]) == want_q

    run()


def test_summary_union_merge_equals_single_pass(spark):
    """The mergeability contract stated literally: summaries computed
    in SEPARATE jobs over disjoint shard sets, unioned as tables,
    answer exactly what one pass over the full data answers."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    rows_a = [("d1", float((i * 13) % 97)) for i in range(150)]
    rows_b = [("d2", float((i * 29) % 89)) for i in range(220)]
    both = _eqd(spark, rows_a + rows_b)
    sep = equidepth_summary(_eqd(spark, rows_a), "v", "s", buckets=8) \
        .unionByName(
            equidepth_summary(_eqd(spark, rows_b), "v", "s", buckets=8))
    one = equidepth_summary(both, "v", "s", buckets=8)
    ps = (0.1, 0.5, 0.9, 0.99)
    assert summary_quantiles(sep, ps).collect() == \
        summary_quantiles(one, ps).collect()


def test_summary_w1_distance_known_values_and_edges(spark):
    """Hand-checkable W1 arithmetic on exact summaries (B >= n):
    identical distributions -> 0; a constant shift by c -> |c|; a
    known two-step CDF gap -> the integral by hand. Edges: empty or
    absent side -> NULL; all mass at one shared point -> 0."""
    from yaetl_spark.operators import equidepth_summary, summary_w1_distance

    def summ(vals):
        return equidepth_summary(
            _eqd(spark, [("s", float(v)) for v in vals]), "v", "s",
            buckets=64)

    a = summ([1, 2, 3, 4])
    # W1(X, X) = 0
    r = summary_w1_distance(a, summ([1, 2, 3, 4])).first()
    assert (r["n_a"], r["n_b"], r["w1_distance"]) == (4, 4, 0.0)
    # W1(X, X + 10) = 10 (uniform shift)
    r = summary_w1_distance(a, summ([11, 12, 13, 14])).first()
    assert r["w1_distance"] == 10.0
    # hand integral: a = {0, 0}, b = {0, 4}: F_a - F_b = 0.5 on [0, 4)
    r = summary_w1_distance(summ([0, 0]), summ([0, 4])).first()
    assert r["w1_distance"] == 2.0
    # unequal sizes: a = {0}, b = {0,0,4}: gap 1/3 on [0,4) -> 4/3
    r = summary_w1_distance(summ([0]), summ([0, 0, 4])).first()
    assert abs(r["w1_distance"] - 4.0 / 3.0) < 1e-8
    # all mass at one shared point -> zero intervals -> 0.0
    r = summary_w1_distance(summ([7, 7]), summ([7])).first()
    assert r["w1_distance"] == 0.0
    # empty side -> NULL
    empty = summ([1]).filter("weight < 0")
    r = summary_w1_distance(a, empty).first()
    assert r["w1_distance"] is None and r["n_b"] in (None, 0)


def test_summary_w1_distance_converges_and_detects_drift(spark):
    """At compressing B the summarized W1 tracks the raw W1 within the
    summary's value resolution, orders drifted corpora correctly, and
    is symmetric."""
    from yaetl_spark.operators import equidepth_summary, summary_w1_distance

    base = [float((i * 37) % 500) for i in range(800)]
    near = [v + 5.0 for v in base]       # raw W1 = 5
    far = [v * 2.0 for v in base]        # much larger drift

    def summ(vals, B):
        return equidepth_summary(
            _eqd(spark, [(f"s{i % 4}", v) for i, v in enumerate(vals)]),
            "v", "s", buckets=B)

    d_near = summary_w1_distance(summ(base, 16), summ(near, 16)) \
        .first()["w1_distance"]
    d_far = summary_w1_distance(summ(base, 16), summ(far, 16)) \
        .first()["w1_distance"]
    # raw W1(base, near) = 5; value resolution at B=16 over 4 shards of
    # 200 rows is a few bucket gaps (~500/16 each) — stay within one
    assert abs(d_near - 5.0) <= 500.0 / 16.0, d_near
    assert d_far > 3 * d_near
    # symmetric
    d_sym = summary_w1_distance(summ(near, 16), summ(base, 16)) \
        .first()["w1_distance"]
    assert d_sym == d_near
    # exact summaries (B >= n_s) give the exact raw W1
    d_exact = summary_w1_distance(summ(base, 256), summ(near, 256)) \
        .first()["w1_distance"]
    assert abs(d_exact - 5.0) < 1e-8


def test_summary_w1_distance_cross_engine_parity(spark):
    """The W1 integral replayed in DuckDB over the same summary
    arithmetic must match bit-for-bit — this doubles as the oracle
    blueprint for the query's eventual driver declaration (r14)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import equidepth_summary, summary_w1_distance

    B = 4
    SQL = f"""
        WITH ranked AS (
            SELECT side, s, v,
                   ROW_NUMBER() OVER (PARTITION BY side, s
                                      ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY side, s) AS n
            FROM t WHERE v IS NOT NULL),
        summ AS (
            SELECT side, s, (rn * {B} + n - 1) // n AS b,
                   max_by(v, rn) AS value, COUNT(*) AS weight
            FROM ranked GROUP BY side, s, (rn * {B} + n - 1) // n),
        pts AS (
            SELECT value AS v,
                   SUM(CASE WHEN side = 'a' THEN weight ELSE 0 END) AS wa,
                   SUM(CASE WHEN side = 'b' THEN weight ELSE 0 END) AS wb
            FROM summ GROUP BY value),
        cum AS (
            SELECT v,
                   SUM(wa) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ca,
                   SUM(wb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cb,
                   LEAD(v) OVER (ORDER BY v) AS nxt,
                   SUM(wa) OVER () AS na,
                   SUM(wb) OVER () AS nb
            FROM pts)
        SELECT CAST(MAX(na) AS BIGINT) AS n_a,
               CAST(MAX(nb) AS BIGINT) AS n_b,
               CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
                   COALESCE(CAST(SUM(CASE WHEN nxt IS NOT NULL THEN
                       CAST(ROUND(ABS(CAST(ca AS DOUBLE) / na
                                      - CAST(cb AS DOUBLE) / nb)
                                  * (nxt - v), 9)
                            AS DECIMAL(38,9)) END) AS DOUBLE), 0.0)
               END AS w1_distance
        FROM cum
    """

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.integers(min_value=1, max_value=3),
    )
    def run(vals_a, vals_b, n_shards):
        rows_a = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_a)]
        rows_b = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_b)]
        got = summary_w1_distance(
            equidepth_summary(_eqd(spark, rows_a), "v", "s", buckets=B),
            equidepth_summary(_eqd(spark, rows_b), "v", "s", buckets=B),
        ).first()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE t (side VARCHAR, s VARCHAR, v DOUBLE)")
            con.executemany(
                "INSERT INTO t VALUES (?, ?, ?)",
                [("a", s, v) for s, v in rows_a]
                + [("b", s, v) for s, v in rows_b])
            want = con.execute(SQL).fetchone()
        finally:
            con.close()
        assert (got["n_a"], got["n_b"], got["w1_distance"]) == want, (
            vals_a, vals_b, n_shards)

    run()


def test_summary_ks_distance_known_values_and_edges(spark):
    """Hand-checkable KS arithmetic on exact summaries (B >= n):
    identical -> 0; disjoint supports -> 1; known CDF gaps; symmetric;
    agrees with the raw two-sample D computed in Python. Edges: empty
    or absent side -> NULL; all mass at one shared point -> 0."""
    from yaetl_spark.operators import equidepth_summary, summary_ks_distance

    def summ(vals):
        return equidepth_summary(
            _eqd(spark, [("s", float(v)) for v in vals]), "v", "s",
            buckets=64)

    a = summ([1, 2, 3, 4])
    r = summary_ks_distance(a, summ([1, 2, 3, 4])).first()
    assert (r["n_a"], r["n_b"], r["ks_stat"]) == (4, 4, 0.0)
    # disjoint supports -> 1
    assert summary_ks_distance(a, summ([11, 12])).first()["ks_stat"] == 1.0
    # a = {0, 0}, b = {0, 4}: at 0, F_a = 1 vs F_b = 0.5 -> D = 0.5
    assert summary_ks_distance(
        summ([0, 0]), summ([0, 4])).first()["ks_stat"] == 0.5
    # unequal sizes: a = {0}, b = {0, 0, 4}: at 0, 1 vs 2/3 -> 1/3
    got = summary_ks_distance(summ([0]), summ([0, 0, 4])).first()["ks_stat"]
    assert abs(got - 1.0 / 3.0) < 1e-8
    # symmetric
    assert summary_ks_distance(
        summ([0, 0, 4]), summ([0])).first()["ks_stat"] == got
    # all mass at one shared point -> 0
    assert summary_ks_distance(
        summ([7, 7]), summ([7])).first()["ks_stat"] == 0.0
    # agrees with the raw two-sample D on exact summaries
    va, vb = [1, 1, 2, 5, 9], [1, 3, 3, 9]
    pts = sorted(set(va + vb))
    want = max(
        abs(sum(1 for x in va if x <= p) / len(va)
            - sum(1 for x in vb if x <= p) / len(vb))
        for p in pts)
    got = summary_ks_distance(summ(va), summ(vb)).first()["ks_stat"]
    assert abs(got - want) < 1e-9
    # empty side -> NULL
    empty = summ([1]).filter("weight < 0")
    r = summary_ks_distance(a, empty).first()
    assert r["ks_stat"] is None and r["n_b"] in (None, 0)


def test_summary_ks_distance_cross_engine_parity(spark):
    """The KS sup-gap replayed in DuckDB over the same summary
    arithmetic must match bit-for-bit — the oracle blueprint for the
    query's eventual driver declaration (r15)."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import equidepth_summary, summary_ks_distance

    B = 4
    SQL = f"""
        WITH ranked AS (
            SELECT side, s, v,
                   ROW_NUMBER() OVER (PARTITION BY side, s
                                      ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY side, s) AS n
            FROM t WHERE v IS NOT NULL),
        summ AS (
            SELECT side, s, (rn * {B} + n - 1) // n AS b,
                   max_by(v, rn) AS value, COUNT(*) AS weight
            FROM ranked GROUP BY side, s, (rn * {B} + n - 1) // n),
        pts AS (
            SELECT value AS v,
                   SUM(CASE WHEN side = 'a' THEN weight ELSE 0 END) AS wa,
                   SUM(CASE WHEN side = 'b' THEN weight ELSE 0 END) AS wb
            FROM summ GROUP BY value),
        cum AS (
            SELECT v,
                   SUM(wa) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ca,
                   SUM(wb) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cb,
                   SUM(wa) OVER () AS na,
                   SUM(wb) OVER () AS nb
            FROM pts)
        SELECT CAST(MAX(na) AS BIGINT) AS n_a,
               CAST(MAX(nb) AS BIGINT) AS n_b,
               CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
                   MAX(ROUND(ABS(CAST(ca AS DOUBLE) / na
                                 - CAST(cb AS DOUBLE) / nb), 9))
               END AS ks_stat
        FROM cum
    """

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.integers(min_value=1, max_value=3),
    )
    def run(vals_a, vals_b, n_shards):
        rows_a = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_a)]
        rows_b = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_b)]
        got = summary_ks_distance(
            equidepth_summary(_eqd(spark, rows_a), "v", "s", buckets=B),
            equidepth_summary(_eqd(spark, rows_b), "v", "s", buckets=B),
        ).first()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE t (side VARCHAR, s VARCHAR, v DOUBLE)")
            con.executemany(
                "INSERT INTO t VALUES (?, ?, ?)",
                [("a", s, v) for s, v in rows_a]
                + [("b", s, v) for s, v in rows_b])
            want = con.execute(SQL).fetchone()
        finally:
            con.close()
        assert (got["n_a"], got["n_b"], got["ks_stat"]) == want, (
            vals_a, vals_b, n_shards)

    run()


def test_summary_psi_known_values_and_validation(spark):
    """PSI semantics on exact summaries (B >= n): identical -> 0;
    matches a pure-Python reference implementation with the same
    reference-quantile cuts + Laplace smoothing; a big shift scores
    past the 0.25 action threshold while a mild one stays moderate;
    empty side -> NULL; bad bins/laplace raise."""
    from yaetl_spark.operators import equidepth_summary, summary_psi

    def summ(vals):
        return equidepth_summary(
            _eqd(spark, [("s", float(v)) for v in vals]), "v", "s",
            buckets=256)

    def psi_ref(va, vb, bins, lap=0.5):
        sa = sorted(va)
        na, nb = len(va), len(vb)
        cuts = [sa[math.ceil(na * i / bins) - 1] for i in range(1, bins)]
        ma = [0] * (bins + 1)
        mb = [0] * (bins + 1)
        for v in va:
            ma[1 + sum(1 for e in cuts if v > e)] += 1
        for v in vb:
            mb[1 + sum(1 for e in cuts if v > e)] += 1
        tot = 0.0
        for i in range(1, bins + 1):
            pa = (ma[i] + lap) / (na + lap * bins)
            pb = (mb[i] + lap) / (nb + lap * bins)
            tot += round((pa - pb) * math.log(pa / pb), 9)
        return tot

    base = [float((i * 37) % 200) for i in range(120)]
    r = summary_psi(summ(base), summ(base), bins=10).first()
    assert (r["n_a"], r["n_b"], r["psi"]) == (120, 120, 0.0)
    # reference agreement on exact summaries (two shapes, two bins)
    drifted = [v * 1.3 + 11 for v in base]
    for vb, bins in ((drifted, 10), (base[::2] + [500.0] * 20, 4)):
        got = summary_psi(summ(base), summ(vb), bins=bins).first()["psi"]
        assert abs(got - psi_ref(base, vb, bins)) < 1e-9, (bins, got)
    # magnitude anchors: big shift -> action band, identical -> stable
    big = summary_psi(summ(base), summ([v + 150 for v in base])).first()
    assert big["psi"] > 0.25
    # empty side -> NULL
    empty = summ([1]).filter("weight < 0")
    r = summary_psi(summ(base), empty).first()
    assert r["psi"] is None
    with pytest.raises(ValueError, match="bins"):
        summary_psi(summ(base), summ(base), bins=1)
    with pytest.raises(ValueError, match="laplace"):
        summary_psi(summ(base), summ(base), laplace=0.0)


def test_summary_psi_cross_engine_parity(spark):
    """The PSI arithmetic replayed in DuckDB over the same summary +
    reference-cut + Laplace arithmetic must match bit-for-bit — the
    oracle blueprint for an eventual driver declaration."""
    import duckdb
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import equidepth_summary, summary_psi

    B, BINS = 4, 4
    SQL = f"""
        WITH ranked AS (
            SELECT side, s, v,
                   ROW_NUMBER() OVER (PARTITION BY side, s
                                      ORDER BY v) AS rn,
                   COUNT(*) OVER (PARTITION BY side, s) AS n
            FROM t WHERE v IS NOT NULL),
        summ AS (
            SELECT side, s, (rn * {B} + n - 1) // n AS b,
                   max_by(v, rn) AS value, COUNT(*) AS weight
            FROM ranked GROUP BY side, s, (rn * {B} + n - 1) // n),
        pts AS (
            SELECT value AS v,
                   SUM(CASE WHEN side = 'a' THEN weight ELSE 0 END) AS wa,
                   SUM(CASE WHEN side = 'b' THEN weight ELSE 0 END) AS wb
            FROM summ GROUP BY value),
        cum AS (
            SELECT v, wa, wb,
                   SUM(wa) OVER (ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS ca,
                   SUM(wa) OVER () AS na,
                   SUM(wb) OVER () AS nb
            FROM pts),
        cuts AS (
            SELECT MAX(na) AS na, MAX(nb) AS nb,
                   MIN(CASE WHEN ca >= (na * 1 + {BINS - 1}) // {BINS}
                            THEN v END) AS e1,
                   MIN(CASE WHEN ca >= (na * 2 + {BINS - 1}) // {BINS}
                            THEN v END) AS e2,
                   MIN(CASE WHEN ca >= (na * 3 + {BINS - 1}) // {BINS}
                            THEN v END) AS e3
            FROM cum),
        binned AS (
            SELECT 1 + (CASE WHEN c.e1 IS NOT NULL AND p.v > c.e1
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN c.e2 IS NOT NULL AND p.v > c.e2
                             THEN 1 ELSE 0 END)
                     + (CASE WHEN c.e3 IS NOT NULL AND p.v > c.e3
                             THEN 1 ELSE 0 END) AS bin,
                   p.wa, p.wb
            FROM pts p CROSS JOIN cuts c),
        masses AS (
            SELECT sp.bin,
                   COALESCE(SUM(bn.wa), 0) AS ma,
                   COALESCE(SUM(bn.wb), 0) AS mb
            FROM generate_series(1, {BINS}) sp(bin)
            LEFT JOIN binned bn ON bn.bin = sp.bin
            GROUP BY sp.bin),
        terms AS (
            SELECT c.na, c.nb,
                   (CAST(m.ma AS DOUBLE) + 0.5)
                       / (CAST(c.na AS DOUBLE) + 0.5 * {BINS}) AS pa,
                   (CAST(m.mb AS DOUBLE) + 0.5)
                       / (CAST(c.nb AS DOUBLE) + 0.5 * {BINS}) AS pb
            FROM masses m CROSS JOIN cuts c)
        SELECT CAST(MAX(na) AS BIGINT) AS n_a,
               CAST(MAX(nb) AS BIGINT) AS n_b,
               CASE WHEN MAX(na) > 0 AND MAX(nb) > 0 THEN
                   CAST(SUM(CAST(ROUND((pa - pb) * LN(pa / pb), 9)
                                 AS DECIMAL(38,9))) AS DOUBLE)
               END AS psi
        FROM terms
    """

    @settings(max_examples=4, deadline=None)
    @given(
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.lists(st.integers(min_value=-9, max_value=9),
                 min_size=1, max_size=40),
        st.integers(min_value=1, max_value=3),
    )
    def run(vals_a, vals_b, n_shards):
        rows_a = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_a)]
        rows_b = [(f"s{i % n_shards}", float(v))
                  for i, v in enumerate(vals_b)]
        got = summary_psi(
            equidepth_summary(_eqd(spark, rows_a), "v", "s", buckets=B),
            equidepth_summary(_eqd(spark, rows_b), "v", "s", buckets=B),
            bins=BINS,
        ).first()
        con = duckdb.connect()
        try:
            con.execute(
                "CREATE TABLE t (side VARCHAR, s VARCHAR, v DOUBLE)")
            con.executemany(
                "INSERT INTO t VALUES (?, ?, ?)",
                [("a", s, v) for s, v in rows_a]
                + [("b", s, v) for s, v in rows_b])
            want = con.execute(SQL).fetchone()
        finally:
            con.close()
        assert (got["n_a"], got["n_b"], got["psi"]) == want, (
            vals_a, vals_b, n_shards)

    run()


def test_equidepth_summary_salted_hot_shard(spark):
    """salt=k splits a hot shard's sort across k sub-shards while
    losing NOTHING the merge cares about: weights still sum to the
    exact per-shard row counts under the original shard name, the
    summary stays bit-identical across input partitionings, merged
    quantiles stay inside the (now k·|shards|-term) rank bound — and
    in the exact regime (B >= n_sub) they equal the unsalted answers
    exactly. Validation: salt < 1 and salt > 1 without a key raise."""
    from yaetl_spark.operators import equidepth_summary, summary_quantiles

    rows = [(i, "hot" if i % 10 else "cold", float((i * 37) % 1000))
            for i in range(1, 1201)]
    df = spark.createDataFrame(rows, "id long, s string, v double")

    salted = equidepth_summary(
        df, "v", "s", buckets=16, salt=4, salt_key="id")
    got = salted.collect()
    # original shard names, exact per-shard weight totals
    per_shard = {}
    for r in got:
        per_shard[r["shard"]] = per_shard.get(r["shard"], 0) + r["weight"]
    want = {"hot": sum(1 for _, s, _ in rows if s == "hot"),
            "cold": sum(1 for _, s, _ in rows if s == "cold")}
    assert per_shard == want
    # (shard, bucket) unique after the salt_idx*B + b remap
    keys = [(r["shard"], r["bucket"]) for r in got]
    assert len(keys) == len(set(keys))
    # deterministic under repartitioning
    again = equidepth_summary(
        df.repartition(13), "v", "s", buckets=16, salt=4, salt_key="id")
    assert sorted(map(tuple, got)) == sorted(map(tuple, again.collect()))
    # merged quantiles within the salted rank bound of the exact answer
    q = summary_quantiles(salted, (0.5, 0.9)).first()
    pooled = sorted(v for _, _, v in rows)
    n = len(pooled)
    # <= 2 shards * 4 sub-shards, each ceil(n_sub/16)
    bound = 8 * math.ceil(math.ceil(n / 2) / 4 / 16) + 8
    for p, col in ((0.5, "p50"), (0.9, "p90")):
        target = math.ceil(p * n)
        lo = pooled.index(q[col]) + 1
        hi = n - pooled[::-1].index(q[col])
        assert lo - bound <= target <= hi + bound, (p, q[col])
    # exact regime: B >= every sub-shard size -> salted == unsalted
    exact_salted = summary_quantiles(
        equidepth_summary(df, "v", "s", buckets=2048, salt=4,
                          salt_key="id"), (0.25, 0.5, 0.99))
    exact_plain = summary_quantiles(
        equidepth_summary(df, "v", "s", buckets=2048), (0.25, 0.5, 0.99))
    assert exact_salted.collect() == exact_plain.collect()
    with pytest.raises(ValueError, match="salt must"):
        equidepth_summary(df, "v", "s", salt=0)
    with pytest.raises(ValueError, match="salt_key"):
        equidepth_summary(df, "v", "s", salt=4)


def test_summary_drift_grouped_keys_match_filtered(spark):
    """Grouped drift (keys=...): each key group's W1/KS/PSI must equal
    the ungrouped operator run on that key's rows alone — one pass
    answers 'which SOURCE drifted?' — and a key present on only one
    side reports NULL."""
    from yaetl_spark.operators import (
        equidepth_summary,
        summary_ks_distance,
        summary_psi,
        summary_w1_distance,
    )

    def summ(rows):
        return equidepth_summary(_eqd(spark, rows), "v", "s", buckets=8)

    rows_a = [(f"s{i % 3}", float((i * 37) % 100)) for i in range(90)]
    rows_b = [(f"s{i % 3}", float((i * 53) % 140)) for i in range(120)] \
        + [("only_b", 1.0), ("only_b", 5.0)]
    sa, sb = summ(rows_a), summ(rows_b)

    for op, metric, kw in (
        (summary_w1_distance, "w1_distance", {}),
        (summary_ks_distance, "ks_stat", {}),
        (summary_psi, "psi", {"bins": 4}),
    ):
        grouped = {r["shard"]: r for r in
                   op(sa, sb, keys=["shard"], **kw).collect()}
        assert set(grouped) == {"s0", "s1", "s2", "only_b"}
        assert grouped["only_b"][metric] is None
        for k in ("s0", "s1", "s2"):
            solo = op(sa.filter(F.col("shard") == k),
                      sb.filter(F.col("shard") == k), **kw).first()
            got = grouped[k]
            assert (got["n_a"], got["n_b"], got[metric]) == \
                (solo["n_a"], solo["n_b"], solo[metric]), (metric, k)


def test_summary_drift_metric_properties(spark):
    """Mathematical contracts of the drift family on exact summaries,
    hypothesis-driven: W1 and KS satisfy the triangle inequality (up
    to the per-term rounding), KS stays in [0, 1], PSI is non-negative
    and zero iff the binned masses coincide, and all three are
    symmetric (PSI given the same cuts, i.e. identical totals)."""
    from hypothesis import given, settings, strategies as st

    from yaetl_spark.operators import (
        equidepth_summary,
        summary_ks_distance,
        summary_psi,
        summary_w1_distance,
    )

    def summ(vals):
        return equidepth_summary(
            _eqd(spark, [("s", float(v)) for v in vals]), "v", "s",
            buckets=64)

    @settings(max_examples=3, deadline=None)
    @given(
        st.lists(st.integers(min_value=-8, max_value=8),
                 min_size=2, max_size=12),
        st.lists(st.integers(min_value=-8, max_value=8),
                 min_size=2, max_size=12),
        st.lists(st.integers(min_value=-8, max_value=8),
                 min_size=2, max_size=12),
    )
    def run(va, vb, vc):
        sa, sb, sc = summ(va), summ(vb), summ(vc)
        w_ab = summary_w1_distance(sa, sb).first()["w1_distance"]
        w_bc = summary_w1_distance(sb, sc).first()["w1_distance"]
        w_ac = summary_w1_distance(sa, sc).first()["w1_distance"]
        assert w_ac <= w_ab + w_bc + 1e-6, (va, vb, vc)
        k_ab = summary_ks_distance(sa, sb).first()["ks_stat"]
        k_bc = summary_ks_distance(sb, sc).first()["ks_stat"]
        k_ac = summary_ks_distance(sa, sc).first()["ks_stat"]
        assert 0.0 <= k_ac <= 1.0
        assert k_ac <= k_ab + k_bc + 1e-6, (va, vb, vc)
        # symmetry
        assert summary_w1_distance(sb, sa).first()["w1_distance"] == w_ab
        assert summary_ks_distance(sb, sa).first()["ks_stat"] == k_ab
        # PSI non-negative; zero iff identical sample (same multiset)
        p_ab = summary_psi(sa, sb, bins=4).first()["psi"]
        assert p_ab >= 0.0
        if sorted(va) == sorted(vb):
            assert p_ab == 0.0

    run()
