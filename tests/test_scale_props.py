"""Scale-oriented property tests.

- Partition invariance (the Spark analogue of the reference's
  batch-invariance tests, ``/root/reference/tests/YaEtlTest.php:112-124``:
  deliberately unbalanced batch sizes must never change results): the same
  operator over repartition(1) vs repartition(7) must be row-identical.
- IVF top-k: equals brute force restricted to the probe cells (exact
  algebraic property), and always finds the query vector itself.
- Multimodal stub decode: deterministic across runs/processes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from yaetl_spark.operators import (
    bpe_token_count,
    brute_force_topk,
    build_ivf_index,
    ivf_topk,
    rolling_fingerprint,
    simhash_dedup,
)
from yaetl_spark.operators.multimodal import decode_images, with_media_meta

from .conftest import table_path


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_simhash_dedup_partition_invariant(spark):
    docs = spark.read.parquet(table_path("documents"))
    a = simhash_dedup(docs.repartition(1))
    b = simhash_dedup(docs.repartition(7))
    assert _rows(a) == _rows(b)


def test_rolling_fingerprint_partition_invariant(spark):
    docs = spark.read.parquet(table_path("documents"))
    sel = lambda d: d.select(  # noqa: E731
        "doc_id",
        rolling_fingerprint(F.col("text")).alias("rhash"),
        bpe_token_count(F.col("text")).alias("n"),
    )
    assert _rows(sel(docs.repartition(1))) == _rows(sel(docs.repartition(7)))


def test_rolling_fingerprint_known_value(spark):
    df = spark.createDataFrame([("abc",), ("",), ("  AB  c ",)], "text string")
    got = {r.text: r.h for r in df.select(
        "text", rolling_fingerprint(F.col("text")).alias("h")).collect()}
    # h("abc") = ((97*31 + 98)*31 + 99) % (2^31-1)
    assert got["abc"] == ((97 * 31 + 98) * 31 + 99) % 2147483647
    assert got[""] == 0
    # normalization: lower + whitespace-collapse + trim → "ab c"
    ab_c = 0
    for ch in "ab c":
        ab_c = (ab_c * 31 + ord(ch)) % 2147483647
    assert got["  AB  c "] == ab_c


def test_ivf_topk_matches_bruteforce_on_probed_cells(spark):
    emb = spark.read.parquet(table_path("embeddings"))
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]]
    assigned, cents = build_ivf_index(emb, centroid_ids=list(range(8)))
    got = ivf_topk(assigned, cents, qvec, k=5, nprobe=3)
    rows = got.collect()
    # the query vector's own cell is always probed → vec_id=1 at score 1.0
    assert rows[0].vec_id == 1 and abs(rows[0].score - 1.0) < 1e-9
    # exact property: ivf == brute force over the probed subset
    probe_cells = sorted(
        cents, key=lambda ic: sum((a - b) ** 2 for a, b in zip(ic[1], qvec))
    )[:3]
    subset = assigned.filter(
        F.col("_cell").isin([i for i, _ in probe_cells]))
    expect = brute_force_topk(subset, qvec, k=5)
    assert _rows(got) == _rows(expect)


def test_ivf_assignment_is_narrow(spark):
    """The index build must not shuffle the vector table (argmin is a map)."""
    emb = spark.read.parquet(table_path("embeddings"))
    assigned, _ = build_ivf_index(emb, centroid_ids=list(range(8)))
    plan = assigned._sc._jvm.PythonSQLUtils.explainString(
        assigned._jdf.queryExecution(), "simple")
    assert "Exchange" not in plan


def test_stub_decode_deterministic(spark):
    docs = spark.read.parquet(table_path("documents")).limit(50)
    bin_docs = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("data"))
    a = decode_images(bin_docs, binary_col="data", id_col="doc_id",
                      use_stub_decoder=True)
    b = decode_images(bin_docs.repartition(5), binary_col="data",
                      id_col="doc_id", use_stub_decoder=True)
    assert _rows(a) == _rows(b)


def test_media_meta_columns(spark):
    docs = spark.read.parquet(table_path("documents")).limit(20)
    bin_docs = docs.select(
        "doc_id", F.col("text"), F.encode(F.col("text"), "UTF-8").alias("data"))
    meta = with_media_meta(bin_docs)
    row = meta.filter(F.length("text") > 0).first()
    assert row.media_size == len(row.text.encode("utf-8"))
    assert len(row.media_sha256) == 64 and len(row.media_sha1) == 40


def test_salted_join_matches_plain_join(spark):
    """Salting must not change results — only the shuffle distribution."""
    from yaetl_spark.operators import salted_join

    orders = spark.read.parquet(table_path("orders")).select(
        "o_orderkey", "o_custkey")
    cust = spark.read.parquet(table_path("customer")).select(
        "c_custkey", "c_name")
    plain = orders.join(cust, orders.o_custkey == cust.c_custkey, "inner")
    salted = salted_join(orders, cust, {"o_custkey": "c_custkey"}, salt=8)
    assert sorted(map(tuple, plain.select(
        "o_orderkey", "c_name").collect())) == sorted(map(tuple, salted.select(
        "o_orderkey", "c_name").collect()))
    # left join with defaults also preserved
    from yaetl_spark.operators import OnClause
    l_plain = spark.read.parquet(table_path("orders")).select("o_orderkey", "o_custkey")
    high = cust.filter("c_custkey % 3 = 0")
    from yaetl_spark.operators import join as eng_join
    a = eng_join(l_plain, high, OnClause({"o_custkey": "c_custkey"},
                                         default_record={"c_name": "NONE"}),
                 how="left")
    b = salted_join(l_plain, high, OnClause({"o_custkey": "c_custkey"},
                                            default_record={"c_name": "NONE"}),
                    salt=8, how="left")
    assert sorted(map(tuple, a.select("o_orderkey", "c_name").collect())) == \
           sorted(map(tuple, b.select("o_orderkey", "c_name").collect()))


def test_salted_join_key_includes_salt(spark):
    from yaetl_spark.operators import salted_join

    orders = spark.read.parquet(table_path("orders")).select(
        "o_orderkey", "o_custkey")
    cust = spark.read.parquet(table_path("customer")).select(
        "c_custkey", "c_name")
    salted = salted_join(orders, cust, {"o_custkey": "c_custkey"}, salt=8)
    plan = salted._jdf.queryExecution().optimizedPlan().toString()
    assert "__salt" in plan


def test_approx_count_distinct_within_tolerance(spark):
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(table_path("events"))
    exact = ev.select("user_id").distinct().count()
    approx = ev.agg(
        F.approx_count_distinct("user_id", rsd=0.05).alias("a")).first().a
    assert abs(approx - exact) <= max(3.0, 0.15 * exact)


def test_ivf_partitioned_index_prunes_scan(spark, tmp_path):
    """The IVF scale path: index written partitionBy(_cell) + a probe-cell
    filter must prune partitions at the scan (PartitionFilters), reading
    only nprobe/num_cells of the data."""
    emb = spark.read.parquet(table_path("embeddings"))
    assigned, cents = build_ivf_index(emb, centroid_ids=list(range(8)))
    idx = str(tmp_path / "ivf_index")
    assigned.write.partitionBy("_cell").parquet(idx)

    index = spark.read.parquet(idx)
    qvec = [float(x) for x in
            emb.filter(F.col("vec_id") == 1).select("embedding").first()[0]]
    got = ivf_topk(index, cents, qvec, k=5, nprobe=3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_cell" in plan.split(
        "PartitionFilters:")[1].splitlines()[0]
    # pruned result == unpruned result (same probe cells either way)
    expect = ivf_topk(assigned, cents, qvec, k=5, nprobe=3)
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, expect.collect()))


def test_resize_and_audio_stubs(spark):
    """Resize emits exact-size payloads; audio features are deterministic
    and content-dependent (multimodal plumbing surface)."""
    from yaetl_spark.operators.multimodal import decode_audio, resize_images

    docs = spark.read.parquet(table_path("documents")).limit(30)
    bin_docs = docs.select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("data"))
    resized = resize_images(bin_docs, 8, 6, binary_col="data",
                            id_col="doc_id", use_stub_decoder=True)
    rows = resized.collect()
    assert all(len(r.data) == 8 * 6 * 3 for r in rows)
    assert all(r.width == 8 and r.height == 6 for r in rows)

    audio = decode_audio(bin_docs, binary_col="data", id_col="doc_id",
                         use_stub_decoder=True)
    a = {r.doc_id: (r.duration_sec, r.rms) for r in audio.collect()}
    b = {r.doc_id: (r.duration_sec, r.rms) for r in decode_audio(
        bin_docs.repartition(4), binary_col="data", id_col="doc_id",
        use_stub_decoder=True).collect()}
    assert a == b and all(v[0] > 0 for v in a.values())


def test_bloom_bitmap_is_partition_invariant(spark):
    """bit_or block aggregation is commutative: the finished bitmap must be
    byte-identical no matter how the build side is partitioned."""
    import numpy as np

    from yaetl_spark.operators import bloom_build

    small = spark.range(0, 2000).withColumn(
        "k", F.concat(F.lit("key"), F.col("id")))
    a = bloom_build(small, "k", expected_items=2000, fpp=0.02)
    b = bloom_build(small.repartition(13), "k", expected_items=2000, fpp=0.02)
    assert a.num_bits == b.num_bits and a.num_hashes == b.num_hashes
    assert np.array_equal(a.words, b.words)


def test_connected_components_partition_invariant(spark):
    """The CC fixpoint is a graph property: edge order, direction, and
    partitioning must not change the labeling."""
    from yaetl_spark.operators import connected_components

    edges = [(i, i + 1) for i in range(0, 30, 2)]  # 15 two-node comps
    edges += [(100, 101), (101, 102), (102, 103)]  # one chain
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    # local union-find path (default threshold)
    a = {r.node: r.comp for r in connected_components(df).collect()}
    # distributed min-propagation path, flipped + repartitioned input:
    # both paths must produce the identical fixpoint
    flipped = df.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    b = {r.node: r.comp
         for r in connected_components(
             flipped.repartition(9), local_threshold=0).collect()}
    assert a == b
    assert a[103] == 100


def test_hash_heavy_queries_survive_ansi_mode(spark):
    """The integer-hash operator family (Knuth buckets, rolling hashes,
    LSH coefficients, bloom double-hashing) must keep every intermediate
    in int64 range: under an ANSI session (a driver may hand us one)
    overflow THROWS instead of wrapping. Execute the hash-heavy queries
    end-to-end with ANSI on."""
    import __spark_entry__ as entry_mod

    from tests.conftest import SF_DIR

    names = [
        "dataset_split", "hash_sample", "weighted_sample", "pack_documents",
        "bloom_join", "incremental_dedup", "minhash_neardup",
        "simhash_dedup", "embedding_lsh", "doc_fingerprint",
        # curation: source_cap ranks by the Knuth product (doc_id·K stays
        # far below 2^62 at any realistic doc count); line_dedup is
        # md5-keyed but rides the same explode/agg machinery
        "source_cap", "line_dedup", "gopher_rules",
        # round-4 additions: dup_spans/strip_spans are md5-keyed like
        # line_dedup; heavy_hitters/url_dedup/scd2 use only small-int
        # modular arithmetic — all must survive an ANSI session
        "dup_spans", "strip_spans", "url_dedup", "heavy_hitters", "scd2",
        "semantic_dedup", "ngram_perplexity",
        # round-5 additions: mix_sources keys on the Knuth product,
        # dsir hashes md5 buckets, c4_rules is pure string arithmetic
        "c4_rules", "mix_sources", "dsir",
        # round-8 drift battery: no hash arithmetic, but DECIMAL(38,9)
        # term sums + window math must not overflow/strict-cast under
        # ANSI either — exercise end-to-end
        "seasonal_decompose", "changepoint", "autocorrelation",
        "seasonal_anomaly", "ks_drift",
        # late round-8: hash_trick rides the md5-prefix bucket (< 2^32,
        # pmod-safe), quantize/retrieval fold doubles under strict
        # casts, the scalers/encoders chain decimal sums + divisions,
        # score_auc cumulates DECIMAL(38,9) rank sums
        "hash_trick", "embedding_quantize", "retrieval_metrics",
        "feature_scale", "quantile_transform", "target_encode",
        "category_index", "score_auc", "validation_suite",
        "token_entropy", "event_transitions", "file_stats",
        # round-9 completions: the rest of the r9 driver window's new/
        # changed cohort — winsorize/calibration bin edges divide and
        # clamp doubles, embedding_normalize folds + divides per
        # element, vocab_coverage chains count ratios, stock_value
        # re-sums DECIMAL partials into the scalar attach
        "winsorize", "embedding_normalize", "calibration_bins",
        "vocab_coverage", "stock_value",
        # round-13: cluster_cap ranks by the Knuth product like
        # source_cap; sketch_quantiles multiplies rank by bucket count
        # (rn·B + n stays far below 2^62) and target = N·num + den
        # (den capped at 1000 in-operator)
        "cluster_cap", "sketch_quantiles",
        # the drift family beside ks_drift: shares divide by side
        # totals and DECIMAL(38,*) term sums fold per cell
        "distribution_shift", "categorical_shift", "equi_width",
        "summary_w1_distance", "summary_ks_distance", "summary_psi",
        "summary_psi_by_source", "stream_psi",
        # the text core: token counts, n-gram windows, scalar attaches
        # and exact DECIMAL term sums of the text family
        "tfidf", "bm25_topk", "token_pmi", "repetition", "lang_id",
        "text_stats", "inverted_index", "normalized_dedup",
        "ngram_novelty", "fuzzy_match",
    ]
    queries = entry_mod.queries()
    _prior_ansi = spark.conf.get("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for name in names:
            queries[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", _prior_ansi)


def test_fitted_scalers_partition_invariant(spark):
    """Fitted feature statistics ride decimal term sums and rounded
    params, so the scaled/encoded/ranked outputs must be value-identical
    under any partitioning of the input — the rerun-stability contract
    every fit/apply operator claims."""
    from yaetl_spark.operators import (
        fit_target_encoding, quantile_transform, scale_features,
    )

    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_quantity", "l_extendedprice"
    )

    # the scaled/ranked value is a pure function of the input value
    # once the fitted params are fixed — so the value->output mapping
    # must be identical under any partitioning
    def mapping(df):
        return {r[0]: r[-1] for r in df.collect()}

    for build in (
        lambda d: scale_features(d, ["l_extendedprice"], "zscore")
        .select("l_extendedprice", "l_extendedprice_scaled"),
        lambda d: quantile_transform(d, "l_extendedprice",
                                     n_quantiles=10, exact=True)
        .select("l_extendedprice", "l_extendedprice_q"),
    ):
        a = mapping(build(li))
        b = mapping(build(li.repartition(7)))
        assert a == b

    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    e1 = {r["value"]: (r["enc"], r["n"], r["prior"]) for r in
          fit_target_encoding(orders, "o_orderpriority",
                              "o_totalprice").collect()}
    e2 = {r["value"]: (r["enc"], r["n"], r["prior"]) for r in
          fit_target_encoding(orders.repartition(11), "o_orderpriority",
                              "o_totalprice").collect()}
    assert e1 == e2


def test_auc_two_level_partition_invariant(spark):
    """The r9 two-level cumulative rank sum (bucket offsets + within-
    bucket window) is exact integer arithmetic end-to-end, so the AUC
    must be value-identical under any partitioning of the input — the
    same rerun-stability contract the fitted scalers carry."""
    from yaetl_spark.operators import binary_classifier_eval

    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        (F.col("l_extendedprice").cast("double") / 1000.0).alias("s"),
        (F.col("l_quantity") > 25).cast("int").alias("y"),
    )
    rows = [
        binary_classifier_eval(li.repartition(p), "s", "y",
                               round_scores=None).collect()[0].asDict()
        for p in (1, 7, 32)
    ]
    assert rows[0] == rows[1] == rows[2]
    assert rows[0]["auc"] is not None


def test_rrf_invariant_under_monotone_score_transform(spark):
    """RRF consumes only RANKS: any strictly monotone transform of a
    score column (scaling, log, affine) must leave every rank and the
    fused ordering bit-identical — the property that makes fusion
    calibration-free."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import reciprocal_rank_fusion

    rows = [(i % 4, f"d{i}", float((i * 13) % 29), float((i * 7) % 17))
            for i in range(120)]
    df = spark.createDataFrame(rows, ["q", "d", "s1", "s2"])
    base = reciprocal_rank_fusion(df, "q", "d", ["s1", "s2"], top_k=5)
    xform = df.withColumn("s1", F.col("s1") * 100 + 3).withColumn(
        "s2", F.log(F.col("s2") + 2))
    alt = reciprocal_rank_fusion(xform, "q", "d", ["s1", "s2"], top_k=5)
    key = lambda r: (r["q"], r["d"], r["rank_s1"], r["rank_s2"],  # noqa: E731
                     r["fused_score"], r["fused_rank"])
    assert sorted(map(key, base.collect())) == sorted(map(key, alt.collect()))


def test_fleiss_kappa_bounds_and_label_permutation_invariance(spark):
    """kappa is label-name-agnostic (relabeling categories can't move
    it) and bounded above by 1; perfect agreement hits exactly 1."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import fleiss_kappa

    rows = [(i, ["a", "b", "c"][(i * 5 + r) % 3])
            for i in range(40) for r in range(3)]
    df = spark.createDataFrame(rows, ["item", "label"])
    base = fleiss_kappa(df, "item", "label").first()
    relabeled = df.withColumn(
        "label", F.concat(F.lit("CAT_"), F.upper("label")))
    alt = fleiss_kappa(relabeled, "item", "label").first()
    assert (base["p_bar"], base["p_e"], base["kappa"]) == (
        alt["p_bar"], alt["p_e"], alt["kappa"])
    assert base["kappa"] is None or base["kappa"] <= 1.0
    # perfect agreement -> kappa exactly 1 (p_e < 1 guaranteed by two
    # distinct unanimous labels)
    perfect = spark.createDataFrame(
        [(1, "x")] * 3 + [(2, "y")] * 3, ["item", "label"])
    assert fleiss_kappa(perfect, "item", "label").first()["kappa"] == 1.0


def test_quantile_strata_rates_monotone(spark):
    """Raising any stratum's rate can only ADD rows (the kept set is
    monotone in the rate vector), and rate 1.0 keeps the stratum
    completely — the contract that makes the sampler auditable."""
    from yaetl_spark.operators import quantile_strata_sample

    df = spark.createDataFrame(
        [(i, float((i * 31) % 97)) for i in range(300)], ["id", "v"])
    lo = {r["id"] for r in quantile_strata_sample(
        df, "v", "id", rates=[0.2, 0.3, 0.2, 0.5], exact=True).collect()}
    hi = {r["id"] for r in quantile_strata_sample(
        df, "v", "id", rates=[0.4, 0.3, 0.6, 1.0], exact=True).collect()}
    assert lo <= hi
    full = quantile_strata_sample(
        df, "v", "id", rates=[1.0, 1.0, 1.0, 1.0], exact=True)
    assert full.count() == 300


def test_shard_dedup_order_and_partition_invariant(spark):
    """Shard signatures are min-sketches: permuting input rows or the
    partitioning must produce identical pairs and estimates, and the
    pair relation is symmetric in its construction (a<b canonical)."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import shard_minhash_dedup

    rows = [(f"s{i % 4}", f"tok{i % 11} tok{(i * 3) % 11} tok{(i * 7) % 13}")
            for i in range(200)]
    df = spark.createDataFrame(rows, ["shard", "text"])
    a = shard_minhash_dedup(df, "shard", element="token", shingle_size=1,
                            jaccard_threshold=0.2, hash_fn="rolling")
    b = shard_minhash_dedup(
        df.orderBy(F.rand(7)).repartition(9), "shard", element="token",
        shingle_size=1, jaccard_threshold=0.2, hash_fn="rolling")
    ka = sorted(map(tuple, a.collect()))
    kb = sorted(map(tuple, b.collect()))
    assert ka == kb and ka
    assert all(x[0] < x[1] for x in ka)


def test_krippendorff_alpha_properties(spark):
    """Alpha is label-name-agnostic, bounded above by 1 (hit exactly at
    perfect agreement with >1 category), and invariant to row order and
    partitioning (the fixed ascending-m fold); adding an UNPAIRABLE
    single-rating item never moves the statistic."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import krippendorff_alpha

    rows = [(i, ["a", "b", "c"][(i * 5 + r) % 3])
            for i in range(40) for r in range(2 + i % 3)]
    df = spark.createDataFrame(rows, ["item", "label"])
    base = krippendorff_alpha(df, "item", "label").first()
    relabeled = df.withColumn(
        "label", F.concat(F.lit("CAT_"), F.upper("label")))
    alt = krippendorff_alpha(relabeled, "item", "label").first()
    assert (base["d_o"], base["d_e"], base["alpha"]) == (
        alt["d_o"], alt["d_e"], alt["alpha"])
    shuffled = krippendorff_alpha(
        df.orderBy(F.rand(7)).repartition(9), "item", "label").first()
    assert tuple(shuffled) == tuple(base)
    plus_solo = df.union(
        spark.createDataFrame([(999, "zzz")], ["item", "label"]))
    assert tuple(krippendorff_alpha(
        plus_solo, "item", "label").first()) == tuple(base)
    assert base["alpha"] is None or base["alpha"] <= 1.0
    perfect = spark.createDataFrame(
        [(1, "x")] * 3 + [(2, "y")] * 2, ["item", "label"])
    assert krippendorff_alpha(perfect, "item", "label").first()["alpha"] \
        == 1.0


def test_pq_encode_translation_and_order_invariance(spark):
    """Encoding is a per-row argmin over constants: row order and
    partitioning cannot move codes, and translating BOTH the vectors
    and every codebook centroid by the same offset leaves codes
    identical (squared-L2 is translation-invariant)."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import pq_encode

    books = [
        [(0, [0.0, 1.0]), (1, [8.0, 2.0])],
        [(0, [3.0, 3.0]), (1, [-2.0, 5.0])],
    ]
    rows = [(i, [float((i * 7) % 9), float((i * 5) % 11),
                 float((i * 3) % 7), float((i * 11) % 13)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "id int, v array<double>")
    base = {r["id"]: list(r["pq_code"]) for r in
            pq_encode(df, books, vec_col="v").collect()}
    shuf = {r["id"]: list(r["pq_code"]) for r in
            pq_encode(df.orderBy(F.rand(3)).repartition(7), books,
                      vec_col="v").collect()}
    assert base == shuf
    off = 4.25
    books_t = [[(c, [x + off for x in cv]) for c, cv in b] for b in books]
    moved = {r["id"]: list(r["pq_code"]) for r in pq_encode(
        df.withColumn("v", F.transform("v", lambda x: x + off)),
        books_t, vec_col="v").collect()}
    assert base == moved


def test_pq_adc_agrees_with_symmetric_distance_on_centroids(spark):
    """For a query that IS a reconstruction (concatenated centroids),
    ADC distance to a row equals the exact squared-L2 between the two
    reconstructions — the lookup table is exact on codebook points."""
    from yaetl_spark.operators import pq_adc_topk, pq_encode

    books = [
        [(0, [0.0, 0.0]), (1, [10.0, 0.0])],
        [(0, [0.0, 4.0]), (1, [6.0, 0.0])],
    ]
    rows = [(1, [0.1, 0.0, 0.1, 3.9]),    # codes (0, 0)
            (2, [9.9, 0.1, 5.9, 0.1])]    # codes (1, 1)
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    enc = pq_encode(df, books)
    # query = reconstruction of codes (0, 0)
    top = pq_adc_topk(enc, books, [0.0, 0.0, 0.0, 4.0], top_k=2)
    got = {r["vec_id"]: r["adc_dist"] for r in top.collect()}
    assert got[1] == 0.0                      # same cell -> LUT says 0
    # cell (1,1) reconstruction is [10,0,6,0]: d2 = 100 + (16+36)
    assert got[2] == 100.0 + 52.0


def test_token_count_estimate_properties(spark):
    """Concatenating two texts with a space costs exactly the sum of
    the parts (token classes never straddle whitespace); the estimate
    is case-insensitive; more text never costs fewer tokens."""
    from pyspark.sql import functions as F

    from yaetl_spark.operators import token_count_estimate

    rows = [(i, f"word{i} supercalifragilistic {i} ok!") for i in range(30)]
    df = spark.createDataFrame(rows, ["id", "t"])
    n = token_count_estimate(F.col("t"))
    both = df.select(
        (token_count_estimate(F.concat_ws(" ", "t", "t")))
        .alias("cat"),
        (n * 2).alias("sum2"),
        token_count_estimate(F.upper("t")).alias("up"),
        n.alias("one"),
    ).collect()
    for r in both:
        assert r["cat"] == r["sum2"]
        assert r["up"] == r["one"]
        assert r["one"] > 0
