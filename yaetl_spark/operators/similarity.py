"""Similarity search over embedding columns (beyond-reference).

Every operator here is built on one vector core, each rule written
once, so a change to a rule moves every operator (and its DuckDB
oracle) together:

- :func:`dot_product` / :func:`norm`: pure expression folds
  (``zip_with`` + ``aggregate``), JVM-side, sequential left-to-right
  summation (bit-compatible with DuckDB's list functions, oracle-safe).
  ``_cosine`` is the one zero-guarded cosine over precomputed norms.
- ``_sqdist`` / ``_py_sqdist``: the squared-L2 fold as a Column and as
  the bit-identical driver-side IEEE loop. ``_nearest``: the
  ``(d, cell)`` struct-min argmin over a centroid literal.
- ``_seed_rows``: init vectors, the listed ids in id order or the
  ``xxhash64(id + seed)`` sample (``xxhash64(id, seed)`` for a
  non-numeric id). ``_lloyd``: the one Lloyd's loop
  (``m`` fused subspaces, grid-snapped means). ``_probe_cells``: the
  ``nprobe`` cells nearest a query. ``_cell_pairs``: fit or reuse
  centroids, assign, guard the cell population, and self-join within
  each cell on per-row norms.

Operators: exact search (:func:`cosine_similarity`,
:func:`brute_force_topk`); IVF (:func:`build_ivf_index`,
:func:`ivf_topk`, :func:`kmeans_fit`, :func:`kmeans_inertia`); product
quantization (:func:`pq_fit`, :func:`pq_encode`, :func:`pq_adc_topk`,
:func:`ivf_pq_topk`); within-cell pair mining (:func:`semantic_dedup`,
:func:`hard_negative_mining`); broadcast-side scoring
(:func:`semantic_decontaminate`, :func:`retrieval_metrics`); audits and
fusion (:func:`topk_recall`, :func:`reciprocal_rank_fusion`); and
:func:`random_projection`.
"""

from __future__ import annotations

import decimal
import math
import numbers
import operator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType


def dot_product(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine of ``a`` and ``b`` given their norms ``na``/``nb``; 0.0
    when either norm is 0. Callers hoist the norms per row (an inline
    :func:`norm` in a pair select re-folds each side once per PAIR);
    the float ops, and so the rounded scores, stay those of the inline
    form."""
    return F.when(na * nb == 0, F.lit(0.0)).otherwise(
        dot_product(a, b) / (na * nb)
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    return _cosine(a, b, norm(a), norm(b))


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k nearest rows to ``query_vec``: one narrow map +
    ``orderBy().limit(k)``, which Spark runs as per-partition top-k +
    driver merge (TakeOrderedAndProject): no full sort, no shuffle.

    Returns ``(id, score)`` ordered by (score desc, id) — the id tiebreak
    makes results deterministic across engines and partitionings.
    """
    q = _vec_lit(query_vec)
    if metric == "cosine":
        # query norm computed ONCE driver-side (squared distance to the
        # origin: the same left fold + IEEE sqrt as norm(), bit-identical)
        qn = math.sqrt(_py_sqdist(query_vec, [0.0] * len(query_vec)))
        col = F.col(vec_col)
        score = _cosine(col, q, norm(col), F.lit(qn))
    elif metric == "dot":
        score = dot_product(F.col(vec_col), q)
    else:
        raise ValueError("metric must be cosine/dot")
    return (
        df.select(F.col(id_col), F.round(score, 6).alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def _vec_lit(values: list[float]) -> Column:
    """Array literal in ONE py4j call. ``F.lit(list)`` silently expands to
    one JVM round-trip per element (~1 ms each — a 64-dim vector costs
    ~70 ms of driver time); a SQL string through ``F.expr`` is a single
    call and the JVM parser is microseconds. ``repr`` round-trips doubles
    exactly; the ``D`` suffix forces DOUBLE (bare ``0.1`` parses DECIMAL)."""
    return F.expr(
        "array(" + ",".join(repr(float(x)) + "D" for x in values) + ")"
    )


def _mat_lit(rows: list[list[float]]) -> Column:
    """Nested array<array<double>> literal in ONE py4j call (see _vec_lit)."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(x)) + "D" for x in cv) + ")"
            for cv in rows
        )
        + ")"
    )


def _sqdist(v: Column, c: Column) -> Column:
    """Squared L2 distance of ``v`` (cast to double per element) to the
    double vector ``c``: a sequential left fold, the oracle's order."""
    return F.aggregate(
        F.zip_with(
            v, c,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _py_sqdist(q, c) -> float:
    """:func:`_sqdist` on the driver: the same sequential IEEE-double
    sum, bit-identical to the engines' fold (oracle determinism)."""
    d = 0.0
    for a, b in zip(q, c):
        d += (float(a) - float(b)) * (float(a) - float(b))
    return d


def _nearest(v: Column, book: list[tuple[int, list[float]]]) -> Column:
    """The ``(d, cell)`` struct of the centroid in ``book`` nearest
    ``v``. ``array_min`` orders structs by (d asc, cell asc), so ties
    break to the lowest cell. One linear-size expression; a chained
    when(d < best_d) argmin would embed the running best twice per step
    (exponential tree). The centroids ride in as ONE nested-array
    literal (a single Catalyst constant + one py4j call) instead of
    cells × dim scalar literals — for 16×64 that cuts ~2 s of
    driver-side analysis."""
    if not book:
        raise ValueError(
            "no centroids to assign to (an empty input sampled none, "
            "or an empty centroid list was passed)")
    ids = F.expr("array(" + ",".join(str(int(c)) for c, _ in book) + ")")
    return F.array_min(F.transform(
        _mat_lit([[float(x) for x in cv] for _, cv in book]),
        lambda cv, i: F.struct(
            _sqdist(v, cv).alias("d"), F.get(ids, i).alias("cell")
        ),
    ))


def _seed_rows(
    df: DataFrame, vec_col: str, id_col: str, n: int, ids, seed: int,
    what: str,
) -> list[list[float]]:
    """Init vectors: those of the listed ``ids`` in id order (the order
    ``.orderBy(id)`` gives), else the first ``n`` non-NULL vectors in
    ``xxhash64(id + seed)`` order for a numeric id and
    ``xxhash64(id, seed)`` order for any other id type (one pass,
    reproducible, no RNG). ``id + seed`` casts a non-number string id
    to NULL, so all rows would hash alike and the sample would follow
    the partitioning (ANSI raises). Numeric ids keep the ``+`` form so
    their sampled inits do not move.

    Listed rows are collected unordered and sorted on the driver:
    ``.orderBy().collect()`` pays a range-partitioning SAMPLING job
    before the sort job — two sequential driver round trips to order a
    handful of rows (guide §5). That sort needs ids of one comparable
    type and no NaN (NaN has no order; an int next to a str raises
    mid-fit), so both are checked first; a listed id whose vector is
    NULL raises a ValueError naming it. ``what`` names the caller and
    its id parameter in these errors."""
    base = df.select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec"))
    if ids is None:
        cid = F.col("cid")
        numeric = isinstance(base.schema["cid"].dataType, NumericType)
        key = (F.xxhash64(cid + F.lit(seed)) if numeric
               else F.xxhash64(cid, F.lit(seed)))
        rows = (
            base.filter(F.col("cvec").isNotNull())
            .orderBy(key)
            .limit(n)
            .collect()
        )
    else:
        ids = list(ids)
        kinds = {
            "str" if isinstance(i, str)
            else "number" if isinstance(i, (numbers.Real, decimal.Decimal))
            and not isinstance(i, bool)
            else type(i).__name__
            for i in ids
        }
        if len(kinds) > 1:
            raise ValueError(
                f"{what} mix id types ({', '.join(sorted(kinds))}); "
                "they must be all numbers or all strings")
        if any(i != i for i in ids):
            raise ValueError(f"{what} contain NaN, which has no order")
        rows = sorted(base.filter(F.col("cid").isin(ids)).collect(),
                      key=lambda r: r.cid)
        null = [r.cid for r in rows if r.cvec is None]
        if null:
            raise ValueError(f"{what} entry {null[0]!r} has a NULL vector")
    return [[float(x) for x in r.cvec] for r in rows]


def build_ivf_index(
    df: DataFrame,
    num_cells: int = 64,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    seed: int = 42,
    centroid_ids: list[int] | None = None,
    centroid_source: DataFrame | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Assign every vector to its nearest centroid: the k-means-lite
    inverted-file index. At 100 TB it turns a full scan into a
    cells-fraction scan (:func:`ivf_topk`).

    Centroids: ``centroids`` as given, or the ``num_cells`` vectors
    :func:`_seed_rows` draws from ``centroid_source`` (default ``df``):
    the xxhash64 sample, or the explicitly listed ``centroid_ids`` in id
    order — the latter gives a rule plain SQL can replicate, which the
    oracle-checked ``ann_ivf`` query uses. Assignment: the centroid
    array rides in as a literal and :func:`_nearest` argmins over it per
    row (narrow map — the index build never shuffles the big table;
    write it partitioned by cell for pruned probes). An empty centroid
    set raises ``ValueError``.
    Returns (assigned_df with ``_cell`` column, centroids list).
    """
    if centroids is None:
        src = centroid_source if centroid_source is not None else df
        centroids = list(enumerate(_seed_rows(
            src, vec_col, id_col, num_cells, centroid_ids, seed,
            "build_ivf_index: centroid_ids")))
    best = _nearest(F.col(vec_col), centroids)
    return df.withColumn("_cell", best.getField("cell")), centroids


def _probe_cells(
    centroids: list[tuple[int, list[float]]], q: list[float], nprobe: int
) -> list[int]:
    """Ids of the ``nprobe`` centroids nearest ``q`` (driver-side
    :func:`_py_sqdist`; the stable sort keeps list order on ties)."""
    probe = sorted(centroids, key=lambda ic: _py_sqdist(q, ic[1]))
    return [i for i, _ in probe[:nprobe]]


def ivf_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Approximate top-k: scan only the ``nprobe`` cells nearest the query.

    With the index table written ``partitionBy('_cell')``, the cell filter
    is partition pruning — the 100 TB scan becomes nprobe/num_cells of it.
    """
    cells = _probe_cells(centroids, query_vec, nprobe)
    return brute_force_topk(
        assigned.filter(F.col("_cell").isin(cells)),
        query_vec,
        k=k,
        vec_col=vec_col,
        id_col=id_col,
    )


def _lloyd(
    df: DataFrame, vec_col: str, id_col: str, m: int, k: int, iters: int,
    init_ids, seed: int, cache: bool, fn: str,
) -> list[list[tuple[int, list[float]]]]:
    """The one Lloyd's loop: ``k`` centroids in each of ``m`` contiguous
    subspaces (``m=1`` is plain k-means), fitted together. Returns
    ``[codebook_0, ...]``, each ``[(cell, centroid), ...]``.

    Scale shape per iteration: ONE corpus pass assigns every subspace in
    the same narrow map (:func:`_nearest` per slice, no shuffle of
    vectors); the update ``posexplode``s each vector and aggregates one
    ``sum`` per ``(subspace, cell, dimension)`` key — map-side combine
    cuts the shuffle to k × dim partial sums per input partition (raw
    vectors never shuffle), and because the dimension is a grouping
    VALUE rather than a generated column, the plan holds two aggregate
    expressions whatever the width. The k × dim means come back to the
    driver between iterations (a few KB): ``iters`` bounded jobs, plus
    one init collect. ``cache=True`` (standard Lloyd's practice for a
    curated feature table) persists the two pruned columns across
    iterations instead of re-scanning the source each round.
    """
    rows = _seed_rows(df, vec_col, id_col, k, init_ids, seed,
                      f"{fn}: init_ids")
    if not rows:
        raise ValueError(f"{fn}: empty input: no non-null vectors")
    # vector width from the init rows themselves — a separate .first()
    # dim probe would be one more sequential driver job per fit
    dim = len(rows[0])
    if m < 1 or dim % m != 0:
        raise ValueError(
            f"{fn}: dim={dim} not divisible into m={m} subspaces")
    if len(rows) < k:
        raise ValueError(f"{fn}: only {len(rows)} init vectors for k={k}")
    sub = dim // m
    books = [
        [(i, r[s * sub:(s + 1) * sub]) for i, r in enumerate(rows)]
        for s in range(m)
    ]
    work = df.select(id_col, vec_col)
    if cache:
        work = work.persist()
    try:
        for _ in range(iters):
            cells = F.array(
                *[b.getField("cell") for b in _pq_best(F.col(vec_col), books)])
            part = F.floor(F.col("_i") / F.lit(sub)).cast("int")
            sums = (
                work.withColumn("_cells", cells)
                .select(
                    "_cells",
                    F.posexplode(F.col(vec_col)).alias("_i", "_x"),
                )
                .select(
                    part.alias("_s"),
                    F.element_at("_cells", part + F.lit(1)).alias("_cell"),
                    "_i",
                    "_x",
                )
                .groupBy("_s", "_cell", "_i")
                .agg(
                    F.count(F.lit(1)).alias("_n"),
                    F.sum(F.col("_x").cast("double")).alias("_sum"),
                )
                .collect()
            )
            # snap to a 1e-9 grid with floor(x*1e9 + 0.5)/1e9 — the SAME
            # float ops the oracle's SQL runs, so both engines land on
            # the identical double even AT grid boundaries (library
            # round() implementations differ there). Summation order
            # (partition layout, core count) perturbs the mean only in
            # the last ulps (~1e-13), far inside the grid step, and the
            # grid is far finer than any real assignment gap.
            acc: dict[tuple[int, int], dict[int, float]] = {}
            for r in sums:
                acc.setdefault((r._s, r._cell), {})[r._i - r._s * sub] = (
                    math.floor(r._sum / r._n * 1e9 + 0.5) / 1e9
                )
            books = [
                [
                    (cell,
                     [acc[(s, cell)][i] for i in range(sub)]
                     if (s, cell) in acc else cv)  # empty cell: keep
                    for cell, cv in book
                ]
                for s, book in enumerate(books)
            ]
    finally:
        if cache:
            work.unpersist()
    return books


def kmeans_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 16,
    iters: int = 5,
    init_ids: list[int] | None = None,
    seed: int = 42,
    cache: bool = False,
) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over an embedding column, DataFrame-native.

    The centroid trainer for :func:`build_ivf_index` (IVF quality depends
    on centroids matching the data distribution, not a random sample).
    It is :func:`_lloyd` with one subspace, so it equals
    ``pq_fit(..., m=1)[0]``: assignment is the IVF index's argmin narrow
    map, the update shuffles k × dim partial sums, ``iters`` bounded
    jobs. Deterministic: init from ``init_ids`` (id order) or the
    xxhash64 sample used by the index builder — no RNG state.

    Returns ``[(cell_id, centroid_vector), ...]`` ready to pass as
    ``build_ivf_index(..., centroids=...)``.
    """
    [book] = _lloyd(df, vec_col, id_col, 1, k, iters, init_ids, seed,
                    cache, "kmeans_fit")
    return book


def kmeans_inertia(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> float:
    """Sum of squared distances to the nearest centroid (fit quality)."""
    d = _nearest(F.col(vec_col), centroids).getField("d")
    row = df.agg(F.sum(d)).first()
    return float(row[0]) if row and row[0] is not None else 0.0


def pq_fit(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m: int = 4,
    k: int = 16,
    iters: int = 5,
    init_ids: list[int] | None = None,
    seed: int = 42,
    cache: bool = False,
) -> list[list[tuple[int, list[float]]]]:
    """Product-quantization codebooks (Jégou, Douze & Schmid 2011,
    "Product Quantization for Nearest Neighbor Search"): split the
    vector into ``m`` contiguous subspaces and run k-means in each —
    ``m`` codebooks of ``k`` centroids whose cross product quantizes the
    space into ``k^m`` cells at the cost of storing ``m·k`` short
    vectors. The IVF-PQ memory move: a 64-dim float vector becomes ``m``
    small ints, so the candidate set of an ANN probe fits in a fraction
    of the memory and the distance math drops to table lookups
    (:func:`pq_adc_topk`).

    Deterministic like :func:`kmeans_fit` (id-ordered ``init_ids`` or
    the xxhash64 sample; no RNG state); ``dim % m == 0`` enforced.
    Returns ``[codebook_0, ..., codebook_{m-1}]``, each a
    ``[(code, sub_centroid), ...]`` list.

    Scale shape (100 TB): the ``m`` subspace fits are FUSED in
    :func:`_lloyd` — every iteration is ONE corpus pass that assigns all
    ``m`` subspaces and aggregates all update sums in one
    ``(subspace, cell, dim)``-keyed shuffle; an unfused per-subspace
    loop would re-scan the corpus ``m`` times per iteration. Values are
    those of a per-subspace fit (same slice argmin, same 1e-9
    grid-snapped mean), so the SQL oracle's per-subspace unrolled CTEs
    still match bit-for-bit.
    """
    return _lloyd(df, vec_col, id_col, m, k, iters, init_ids, seed,
                  cache, "pq_fit")


def _pq_best(v, codebooks: list[list[tuple[int, list[float]]]]):
    """Per-subspace :func:`_nearest` struct columns: the argmin applied
    to each contiguous slice of ``v``. One codebook spans the whole
    vector, so ``v`` goes in unsliced: the fold sits inside the
    per-centroid lambda, where a slice would copy ``v`` once per
    centroid per row."""
    sub = len(codebooks[0][0][1])
    if any(len(book[0][1]) != sub for book in codebooks):
        raise ValueError("pq codebooks have unequal subspace widths")
    if len(codebooks) == 1:
        return [_nearest(v, codebooks[0])]
    return [
        _nearest(F.slice(v, s * sub + 1, sub), book)
        for s, book in enumerate(codebooks)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    error_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Encode vectors against fitted PQ ``codebooks``: per subspace,
    the nearest sub-centroid's code (squared-L2 argmin, ties to the
    lowest code — the :func:`build_ivf_index` rule), gathered into an
    ``array<int>`` of length ``m``. ``error_col`` optionally exposes
    the total squared reconstruction error Σ_s min_c ‖v_s − c‖² — the
    quantization-quality audit (rounded, fixed-order sum of the ``m``
    subspace minima, bit-deterministic).

    Scale shape (100 TB): pure scan-level arithmetic — the codebooks
    ride in as ``m`` nested-array literals (compile-time constants, no
    broadcast, no shuffle, no fitted state on executors). NULL vectors
    encode to NULL.
    """
    v = F.col(vec_col)
    bests = _pq_best(v, codebooks)
    codes = F.array(*[b.getField("cell").cast("int") for b in bests])
    out = df.withColumn(code_col, F.when(v.isNotNull(), codes))
    if error_col is not None:
        err = bests[0].getField("d")
        for b in bests[1:]:
            err = err + b.getField("d")
        out = out.withColumn(
            error_col, F.when(v.isNotNull(), F.round(err, round_to)))
    return out


def pq_adc_topk(
    df: DataFrame,
    codebooks: list[list[tuple[int, list[float]]]],
    query_vec: list[float],
    top_k: int = 10,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    dist_col: str = "adc_dist",
    round_to: int = 6,
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes (ADC; Jégou et al.
    2011 §IV): precompute the ``m × k`` lookup table of squared
    distances from the query's subvectors to every sub-centroid
    (driver-side arithmetic on literals — sequential IEEE folds, the
    :func:`ivf_topk` determinism rule), then score each row as the
    fixed-order sum of ``m`` table lookups on its stored codes — the
    raw vectors are never read, which is the entire point of PQ at
    100 TB: the scan touches ``m`` ints per row instead of ``dim``
    floats, and the plan is a scan + ONE global top-k
    (TakeOrderedAndProject — no full sort, no shuffle of the corpus).

    Returns the ``top_k`` rows by approximate distance ascending
    (ties to ``id_col``) with ``dist_col`` attached.
    """
    m = len(codebooks)
    sub = len(codebooks[0][0][1])
    if len(query_vec) != m * sub:
        raise ValueError(
            f"pq_adc_topk: query dim {len(query_vec)} != {m * sub}")

    luts = []
    for s, book in enumerate(codebooks):
        q_s = query_vec[s * sub:(s + 1) * sub]
        luts.append({int(code): _py_sqdist(q_s, cv) for code, cv in book})
    codes = F.col(code_col)
    total = None
    for s, lut in enumerate(luts):
        mp = F.create_map(*[
            x for code, d in sorted(lut.items())
            for x in (F.lit(code), F.lit(d))
        ])
        term = F.element_at(mp, F.element_at(codes, s + 1))
        total = term if total is None else total + term
    # a code absent from the codebook map makes element_at NULL
    # (non-ANSI mode; ANSI throws on its own) and asc() sorts NULLS
    # FIRST — mismatched-codebook rows would silently occupy the
    # top-k. Fail loud in-plan instead: any NULL distance means the
    # codes were produced by a different codebook than the one scoring
    loud = F.when(
        total.isNull(),
        F.raise_error(F.lit(
            "pq_adc_topk: NULL ADC distance — a stored code is absent "
            "from the codebook (codes and codebooks are from different "
            "pq_fit runs?)")).cast("double"),
    ).otherwise(F.round(total, round_to))
    scored = df.filter(codes.isNotNull()).withColumn(dist_col, loud)
    return scored.orderBy(F.col(dist_col).asc_nulls_last(),
                          F.col(id_col).asc()).limit(top_k)


def topk_recall(
    exact: DataFrame,
    approx: DataFrame,
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Recall@k audit between an EXACT top-k result set and an
    approximate one (IVF, IVF-PQ, LSH …) — THE acceptance metric for
    every ANN deployment: what fraction of the true neighbors did the
    index return. Returns ONE row ``(n_exact, n_approx, n_overlap,
    recall)`` with ``recall = |exact ∩ approx| / |exact|`` (NULL when
    the exact set is empty — no 0/0).

    Scale shape: both inputs are k-row result sets, so the overlap is
    a full outer join of two broadcast-sized relations followed by one
    scalar aggregate — negligible next to the searches themselves.
    Deterministic given deterministic inputs (both engine top-ks
    tie-break on the id).
    """
    e = exact.select(F.col(id_col).alias("_id"),
                     F.lit(1).alias("_in_e"))
    a = approx.select(F.col(id_col).alias("_id"),
                      F.lit(1).alias("_in_a"))
    both = e.join(a, "_id", "full")
    out = both.agg(
        F.count("_in_e").alias("n_exact"),
        F.count("_in_a").alias("n_approx"),
        F.count(F.when(F.col("_in_e").isNotNull()
                       & F.col("_in_a").isNotNull(), 1))
        .alias("n_overlap"),
    )
    return out.select(
        "n_exact", "n_approx", "n_overlap",
        F.round(
            F.when(
                F.col("n_exact") > 0,
                F.col("n_overlap").cast("double") / F.col("n_exact"),
            ),
            round_to,
        ).alias("recall"),
    )


def _guard_cell_population(
    assigned: DataFrame, max_cell_rows: int | None, op_name: str
) -> None:
    """Degenerate-fit guard shared by every within-cell quadratic
    (:func:`semantic_dedup`, :func:`hard_negative_mining`): a collapsed
    k-means fit can put most vectors in ONE cell and silently
    reintroduce the O(n²/k) all-pairs join the bucketing exists to
    prevent. When ``max_cell_rows`` is set, a cheap count-by-cell job
    (k rows, one partial-agg shuffle of cluster ids) runs before the
    pair join and raises ``ValueError`` naming the offending cell and
    its population — an actionable error instead of a blowup at
    100 TB."""
    if max_cell_rows is None:
        return
    if max_cell_rows < 1:
        raise ValueError("max_cell_rows must be >= 1")
    hot = (
        assigned.groupBy("_cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_cell_rows)
        .orderBy(F.col("_n").desc())
        .first()
    )
    if hot is not None:
        raise ValueError(
            f"{op_name} cell {hot['_cell']} holds {hot['_n']} "
            f"rows (> max_cell_rows={max_cell_rows}): the k-means "
            "fit is too coarse for a bounded pair join — raise k, "
            "refit with more iterations/better init_ids, or raise "
            "max_cell_rows if the quadratic cost is acceptable"
        )


def _cell_pairs(
    df: DataFrame, id_col: str, vec_col: str, k: int, iters: int, init_ids,
    centroids, max_cell_rows: int | None, op_name: str, keep, round_to: int,
) -> tuple[DataFrame, Column]:
    """The within-cell pair stream of :func:`semantic_dedup` and
    :func:`hard_negative_mining`: fit k-means (or reuse ``centroids``),
    assign every vector to its cell, run the
    :func:`_guard_cell_population` check, then self-join each cell's
    rows on ``keep(_a._sid, _b._sid)``. Norms are projected per ROW
    before the join: an inline cosine would re-fold each side's norm
    once per PAIR (O(pairs·dim) instead of O(rows·dim)).

    Returns ``(pairs, cosine)``: the joined sides ``_a``/``_b`` (columns
    ``_sid``, ``_svec``, ``_snorm``, ``_cell``) and their cosine rounded
    to ``round_to`` decimals."""
    if centroids is None:
        centroids = kmeans_fit(
            df, k=k, iters=iters, init_ids=init_ids,
            vec_col=vec_col, id_col=id_col, cache=True,
        )
    assigned, _ = build_ivf_index(
        df, centroids=centroids, vec_col=vec_col, id_col=id_col
    )
    _guard_cell_population(assigned, max_cell_rows, op_name)
    sides = assigned.select(
        F.col(id_col).alias("_sid"),
        F.col(vec_col).alias("_svec"),
        norm(F.col(vec_col)).alias("_snorm"),
        "_cell",
    )
    a, b = sides.alias("_a"), sides.alias("_b")
    cos = F.round(
        _cosine(F.col("_a._svec"), F.col("_b._svec"),
                F.col("_a._snorm"), F.col("_b._snorm")),
        round_to,
    )
    pairs = a.join(
        b,
        (F.col("_a._cell") == F.col("_b._cell"))
        & keep(F.col("_a._sid"), F.col("_b._sid")),
    )
    return pairs, cos


def hard_negative_mining(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    lo: float = 0.5,
    hi: float = 0.95,
    per_anchor: int = 5,
    k: int = 8,
    iters: int = 2,
    init_ids: list[int] | None = None,
    centroids: list[tuple[int, list[float]]] | None = None,
    max_cell_rows: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Hard-negative mining for contrastive training data (the
    in-batch-negatives upgrade used by dense-retriever pipelines, e.g.
    DPR/ANCE-style training): for every anchor vector, the
    ``per_anchor`` highest-cosine candidates whose rounded similarity
    lies in ``[lo, hi)`` — similar enough to be informative, below the
    near-duplicate band that :func:`semantic_dedup` would drop (a
    near-dup used as a negative poisons the loss). Returns
    ``(anchor, negative, cosine, neg_rank)`` with deterministic
    ordering (cosine desc, negative id asc — same rounded-cosine
    convention as the dedup stack).

    Scale shape (100 TB): candidates come from the SAME k-means cell
    as the anchor (:func:`_cell_pairs`, the :func:`semantic_dedup`
    bucketing and its ``max_cell_rows`` guard), and the per-anchor
    top-n is one anchor-keyed window over the band-filtered pairs
    (band selectivity, not cell size, bounds the exchange). Pass
    precomputed ``centroids`` to reuse one fit across band sweeps.
    """
    from pyspark.sql.window import Window

    if not (0.0 <= lo < hi):
        raise ValueError("need 0 <= lo < hi")
    if per_anchor < 1:
        raise ValueError("per_anchor must be >= 1")
    pairs, cos = _cell_pairs(
        df, id_col, vec_col, k=k, iters=iters, init_ids=init_ids,
        centroids=centroids, max_cell_rows=max_cell_rows,
        op_name="hard_negative_mining", keep=operator.ne, round_to=round_to,
    )
    banded = (
        pairs.select(
            F.col("_a._sid").alias("anchor"),
            F.col("_b._sid").alias("negative"),
            cos.alias("cosine"),
        )
        .filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    )
    w = Window.partitionBy("anchor").orderBy(
        F.col("cosine").desc(), F.col("negative").asc()
    )
    return banded.withColumn(
        "neg_rank", F.row_number().over(w)
    ).filter(F.col("neg_rank") <= per_anchor)


def ivf_pq_topk(
    assigned: DataFrame,
    centroids: list[tuple[int, list[float]]],
    codebooks: list[list[tuple[int, list[float]]]],
    query_vec: list[float],
    k: int = 10,
    nprobe: int = 8,
    code_col: str = "pq_code",
    id_col: str = "vec_id",
    dist_col: str = "adc_dist",
    round_to: int = 6,
) -> DataFrame:
    """IVF-PQ approximate top-k (Jégou et al. 2011 §V — the IVFADC
    system): coarse-probe the ``nprobe`` cells nearest the query
    (:func:`ivf_topk`'s driver-side centroid scan), then rank ONLY the
    surviving rows by asymmetric PQ distance (:func:`pq_adc_topk`) —
    never touching the raw vectors. ``assigned`` carries both the
    ``_cell`` column (:func:`build_ivf_index`) and the PQ codes
    (:func:`pq_encode`).

    This is the memory-bandwidth shape ANN runs at 100 TB: with the
    table written ``partitionBy('_cell')`` the cell filter is
    partition PRUNING (nprobe/num_cells of the scan), and each scanned
    row costs ``m`` int lookups instead of ``dim`` float multiplies —
    the two cuts compose multiplicatively. Plan: pruned scan + ONE
    global top-k (TakeOrderedAndProject), no shuffle, no join.
    """
    cells = _probe_cells(centroids, query_vec, nprobe)
    return pq_adc_topk(
        assigned.filter(F.col("_cell").isin(cells)),
        codebooks,
        query_vec,
        top_k=k,
        code_col=code_col,
        id_col=id_col,
        dist_col=dist_col,
        round_to=round_to,
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    init_ids: list[int] | None = None,
    threshold: float = 0.99,
    centroids: list[tuple[int, list[float]]] | None = None,
    keep_cols: bool = True,
    max_cell_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style embedding-level dedup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): cluster the vectors with k-means, compare pairs
    ONLY within a cluster, and drop every row that has a smaller-id
    neighbor at rounded cosine similarity ≥ ``threshold``. The survivor
    set is deterministic (min-id representative per near-dup
    neighborhood) — no RNG, no iteration-order dependence.

    Cosine values are rounded to 6 decimals before the threshold
    compare, so the keep/drop decision is reproducible across engines
    and partitionings (same convention as the ANN oracle queries).

    Scale shape (100 TB):
    - clustering cost is the k-means fit (broadcast-argmin assignment,
      k×dim partial-sum update — raw vectors never shuffle);
    - the pair comparison is an equi self-join on the cluster id —
      quadratic only WITHIN a cluster, never across the corpus; size
      ``k`` proportionally to the corpus (cells of bounded average
      population) exactly as an IVF index would;
    - the drop set ships as a distinct-id anti join (planner
      broadcast-able when the duplicate fraction is small).

    Pass precomputed ``centroids`` (from :func:`kmeans_fit`) to reuse
    one fit across threshold sweeps.

    ``max_cell_rows`` guards the quadratic against a degenerate fit
    (see :func:`_guard_cell_population`). Sizing rule: the pair join does ~``rows²/2`` cosine folds per cell,
    so bound it by what one executor core should absorb (e.g. 100_000
    rows ≈ 5e9 folds per hot cell).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    pairs, cos = _cell_pairs(
        df, id_col, vec_col, k=k, iters=iters, init_ids=init_ids,
        centroids=centroids, max_cell_rows=max_cell_rows,
        op_name="semantic_dedup", keep=operator.lt, round_to=6,
    )
    losers = (
        pairs.filter(cos >= F.lit(float(threshold)))
        .select(F.col("_b._sid").alias(id_col))
        .distinct()
    )
    out = df.join(losers, id_col, "left_anti")
    return out if keep_cols else out.select(id_col)


def semantic_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "doc_id",
    bench_vec_col: str | None = None,
    bench_id_col: str | None = None,
    threshold: float = 0.95,
    mode: str = "flag",
    max_benchmark_rows: int | None = 100_000,
) -> DataFrame:
    """Embedding-level benchmark decontamination — the semantic
    sibling of :func:`~yaetl_spark.operators.dedup.decontaminate`'s
    n-gram check: flag every training row whose embedding's best
    cosine against ANY benchmark embedding reaches ``threshold``
    (paraphrased eval leakage that exact n-gram overlap misses; the
    embedding-similarity decontamination used by open-data efforts
    such as Dolma/FineWeb).

    ``mode='flag'`` returns ``(id_col, bench_id, max_cosine)`` for the
    contaminated rows — ``bench_id`` is the argmax benchmark row
    (rounded-cosine desc, benchmark id asc: a total order, so the
    result is deterministic even though the benchmark fold order is
    not). ``mode='clean'`` returns ``docs`` filtered to rows BELOW the
    threshold — a per-row predicate, not an anti-join.

    Scale shape (100 TB corpus): the benchmark side is small by
    construction — it reduces to ONE |bench|-bounded row of
    ``(id, vec, norm)`` structs (norms precomputed per benchmark row,
    not per pair) that BROADCASTS; the corpus is then a single narrow
    scan with a per-row fold over the benchmark array (O(|bench|·dim)
    per row, whole-stage-codegen, no UDF) and NO shuffle of any kind —
    there is no groupBy, no join keyed on corpus rows, no anti-join.
    ``max_benchmark_rows`` guards the broadcast the same way
    :func:`~yaetl_spark.streaming.stream_psi` guards its reference
    collect: passing a corpus where the benchmark belongs raises an
    actionable error (one bounded count job) instead of materializing
    an unbounded single row. 100k rows × 64 dims ≈ 50 MB — at larger
    benchmarks, pre-reduce with :func:`semantic_dedup` or shard the
    benchmark and union the flag sets.

    Cosines are rounded to 6 decimals before the compare (the ANN
    oracle convention) so flag/clean decisions reproduce bit-for-bit
    across engines and partitionings. Zero-norm vectors score 0.0 on
    every pair (the :func:`cosine_similarity` convention).
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    if mode not in ("flag", "clean"):
        raise ValueError(f"unknown mode {mode!r}")
    bvec = bench_vec_col or vec_col
    bid = bench_id_col or id_col
    if max_benchmark_rows is not None:
        probe = benchmark.limit(max_benchmark_rows + 1).count()
        if probe > max_benchmark_rows:
            raise ValueError(
                f"benchmark has more than {max_benchmark_rows} rows — "
                "semantic_decontaminate broadcasts the whole benchmark "
                "as one row of (id, vec, norm) structs; pass the "
                "(small) eval set here and the corpus as docs, shard "
                "the benchmark, or raise max_benchmark_rows if the "
                "memory math holds"
            )
    bench_row = benchmark.agg(
        F.collect_list(
            F.struct(
                F.col(bid).cast("bigint").alias("bid"),
                F.transform(
                    F.col(bvec), lambda x: x.cast("double")
                ).alias("bv"),
                norm(F.col(bvec)).alias("bn"),
            )
        ).alias("_bench")
    )
    # corpus norm projected once per ROW (the semantic_dedup
    # discipline: an inline cosine would re-fold it once per pair)
    with_norm = docs.withColumn("_dn", norm(F.col(vec_col)))
    paired = with_norm.crossJoin(F.broadcast(bench_row))
    # One fold over the benchmark array per corpus row. The
    # accumulator is (max_cosine, bench_id); the update is a pure
    # total-order max (rounded-cos desc, bid asc), so the fold is
    # order-insensitive — collect_list's nondeterministic order can
    # never change the answer.
    dvec = F.col(vec_col)
    init = F.struct(
        F.lit(None).cast("double").alias("max_cosine"),
        F.lit(None).cast("bigint").alias("bench_id"),
    )

    def fold_step(acc: Column, b: Column) -> Column:
        c = F.round(_cosine(dvec, b["bv"], F.col("_dn"), b["bn"]), 6)
        take = (
            acc["max_cosine"].isNull()
            | (c > acc["max_cosine"])
            | ((c == acc["max_cosine"]) & (b["bid"] < acc["bench_id"]))
        )
        return F.when(
            take,
            F.struct(c.alias("max_cosine"), b["bid"].alias("bench_id")),
        ).otherwise(acc)

    best = F.aggregate(F.col("_bench"), init, fold_step)
    scored = paired.withColumn("_best", best)
    if mode == "clean":
        return scored.filter(
            F.col("_best.max_cosine").isNull()
            | (F.col("_best.max_cosine") < F.lit(float(threshold)))
        ).drop("_dn", "_bench", "_best")
    return scored.filter(
        F.col("_best.max_cosine") >= F.lit(float(threshold))
    ).select(
        F.col(id_col),
        F.col("_best.bench_id").alias("bench_id"),
        F.col("_best.max_cosine").alias("max_cosine"),
    )


def retrieval_metrics(
    df: DataFrame,
    queries_df: DataFrame,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    label_col: str = "label",
    exclude_self: bool = True,
    max_queries: int | None = 10_000,
) -> DataFrame:
    """IR eval battery: precision/recall@k, MRR, nDCG@k per query.

    Ground truth is label agreement: a candidate is *relevant* to a
    query when their ``label_col`` values match (the standard proxy for
    labeled-embedding retrieval eval).

    ``exclude_self=True`` (default) encodes the *queries are a subset
    of the corpus* contract: self-matches are excluded on both the
    retrieved side (``id`` inequality) and the denominator side
    (``n_rel = label_count − 1``). For an EXTERNAL query set — ids and
    labels not drawn from the corpus — pass ``exclude_self=False``:
    otherwise ``n_rel`` undercounts by 1 and any corpus row that merely
    shares an id with a query is wrongly dropped (ADVICE r8).

    ``max_queries`` is the in-plan feasibility guard (the
    ``max_hot_grams`` pattern, ``operators/joins.py``): the scoring
    stream below is deliberately corpus × query-sample brute force, so
    a fat query set must fail LOUD at plan execution rather than
    silently schedule a quadratic score. ``None`` disables (own risk).

    Per query: brute-force cosine top-``k`` over ``df`` (rounded to 6
    decimals, ``id_col`` ascending as the deterministic tiebreak), then

    - ``precision_at_k`` = hits / k
    - ``recall_at_k``    = hits / n_rel          (NULL when n_rel = 0)
    - ``rr``             = 1 / rank of first hit (0 when no hit) — MRR
      is the mean of this column
    - ``ndcg``           = DCG@k / IDCG@k with the Järvelin &
      Kekäläinen (2002) binary gain 1/log2(rank+1); IDCG sums the
      ideal prefix of length min(n_rel, k). NULL when n_rel = 0.

    DCG/IDCG terms ride the repo's absorb-the-ulps pattern (terms
    rounded to 9 decimals, accumulated as DECIMAL(38,9)) so the result
    hash-matches the DuckDB oracle regardless of summation order.

    Scale shape (100 TB corpus): ``queries_df`` is the small eval
    sample — it is broadcast, the corpus is scanned twice (one
    column-pruned label-count pass for the relevant-universe sizes,
    one scoring pass), and the only shuffle is the per-query top-k
    window keyed on query id (Q·N scored
    rows reduced map-side by nothing — this is the *exact* baseline by
    construction; production retrieval at scale goes through
    :func:`ivf_topk` and this battery grades that index against the
    exact answer on a sample).
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    dec = "decimal(38,9)"
    # norms are precomputed ONCE per side (corpus row / query row), not
    # per pair — the Q·N pair stream then does one zip_with dot + one
    # multiply instead of three array folds (same float expression tree,
    # so the rounded score is bit-identical to inline cosine)
    c = df.select(
        F.col(id_col).alias("_cid"),
        F.col(vec_col).alias("_cvec"),
        F.col(label_col).alias("_clbl"),
        norm(F.col(vec_col)).alias("_cn"),
    )
    q = queries_df.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qvec"),
        F.col(label_col).alias("_qlbl"),
        norm(F.col(vec_col)).alias("_qn"),
    )
    # relevant-universe size per query: corpus label counts, minus self
    # under the queries-subset-of-corpus contract
    lbl_counts = df.groupBy(F.col(label_col).alias("_clbl")).agg(
        F.count(F.lit(1)).alias("_lcnt")
    )
    n_rel_expr = (
        (F.coalesce(F.col("_lcnt"), F.lit(1)) - F.lit(1))
        if exclude_self
        else F.coalesce(F.col("_lcnt"), F.lit(0))
    )
    q = q.join(
        F.broadcast(lbl_counts), q["_qlbl"] == lbl_counts["_clbl"], "left"
    ).select(
        "query_id",
        "_qvec",
        "_qlbl",
        "_qn",
        n_rel_expr.alias("n_rel"),
    )
    if max_queries is not None:
        # in-plan guard: n_rel is non-foldable and every downstream
        # metric consumes it, so the raise fires while the (small)
        # query side is built — BEFORE the Q·N score stream runs
        from yaetl_spark.operators.curation import attach_scalars

        nq = queries_df.agg(F.count(F.lit(1)).alias("_nq"))
        q = (
            attach_scalars(q, nq, "query_id")
            .withColumn(
                "n_rel",
                F.when(
                    F.col("_nq") <= F.lit(int(max_queries)),
                    F.col("n_rel"),
                ).otherwise(
                    F.raise_error(F.concat(
                        F.lit("retrieval_metrics: query sample has "),
                        F.col("_nq").cast("string"),
                        F.lit(
                            f" rows (> max_queries={max_queries}); "
                            "this operator brute-force scores corpus "
                            "× queries — route big query sets through "
                            "ivf_topk, or raise max_queries"
                        ),
                    ))
                ),
            )
            .drop("_nq")
        )
    scored = c.crossJoin(F.broadcast(q))
    if exclude_self:
        scored = scored.where(F.col("_cid") != F.col("query_id"))
    scored = (
        scored
        .select(
            "query_id",
            "n_rel",
            F.round(
                _cosine(F.col("_cvec"), F.col("_qvec"),
                        F.col("_cn"), F.col("_qn")),
                6,
            ).alias("_score"),
            (F.col("_clbl") == F.col("_qlbl")).alias("_rel"),
            "_cid",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("_score").desc(), F.col("_cid").asc()
    )
    top = scored.select(
        "query_id",
        "n_rel",
        "_rel",
        F.row_number().over(w).alias("_rank"),
    ).where(F.col("_rank") <= k)
    gain = F.round(
        F.lit(1.0) / F.log2(F.col("_rank").cast("double") + 1.0), 9
    )
    per_q = top.groupBy("query_id", "n_rel").agg(
        F.sum(F.when(F.col("_rel"), 1).otherwise(0)).alias("hits"),
        F.max(
            F.when(F.col("_rel"), F.lit(1.0) / F.col("_rank"))
        ).alias("_rr"),
        F.sum(
            F.when(F.col("_rel"), gain.cast(dec)).otherwise(
                F.lit(0).cast(dec)
            )
        ).alias("_dcg"),
    )
    # IDCG@k over the ideal prefix min(n_rel, k): same 9-decimal terms,
    # same exact decimal accumulation (order-free on both engines).
    # Floor at 1: sequence(1, 0) would run DESCENDING through i=0,
    # where 1/log2(1) = Inf poisons the decimal cast under ANSI — the
    # n_rel = 0 rows emit NULL ndcg regardless, the floor just keeps
    # the discarded expression finite.
    m = F.greatest(F.least(F.col("n_rel"), F.lit(k)), F.lit(1))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m),
        F.lit(0).cast(dec),
        # decimal + decimal would widen past precision 38 and silently
        # drop to scale 8; re-cast keeps the accumulator at (38,9)
        lambda acc, i: (
            acc
            + F.round(
                F.lit(1.0) / F.log2(i.cast("double") + 1.0), 9
            ).cast(dec)
        ).cast(dec),
    ).cast("double")
    return per_q.select(
        "query_id",
        "n_rel",
        "hits",
        F.round(F.col("hits").cast("double") / k, 6).alias(
            "precision_at_k"
        ),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.col("hits").cast("double") / F.col("n_rel"), 6),
        ).alias("recall_at_k"),
        F.round(F.coalesce(F.col("_rr"), F.lit(0.0)), 6).alias("rr"),
        F.when(
            F.col("n_rel") > 0,
            F.round(F.col("_dcg").cast("double") / idcg, 6),
        ).alias("ndcg"),
    ).orderBy("query_id")


def reciprocal_rank_fusion(
    df: DataFrame,
    query_col: str,
    doc_col: str,
    score_cols: list[str],
    k: int = 60,
    top_k: int | None = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack, Clarke & Büttcher 2009) — the
    standard way to combine heterogeneous retrieval signals (BM25 +
    dense cosine, multiple cross-encoder scores) without calibrating
    them onto one scale: per query, rank candidates under each score
    independently, then ``fused = Σ_i 1/(k + rank_i)``; the rank
    transform makes wildly different score distributions commensurable
    and ``k`` (60 in the paper) damps the head.

    Input is one row per ``(query, doc)`` with the raw scores as
    columns (higher = better). A NULL score means the doc is absent
    from that ranker's list and contributes nothing — the fusion
    convention for union-of-retrievers candidate pools. Ranks break
    ties deterministically by ``doc_col`` ascending. Returns the
    per-query ``top_k`` by fused score (ties again by doc) with each
    ranker's rank exposed as ``rank_<score_col>`` for auditing, the
    fused score rounded to ``round_to``, and ``fused_rank``.

    Scale shape (100 TB): ONE query-keyed Exchange shared by every
    rank window and the final top-k window (all partition on
    ``query_col``; Catalyst plans consecutive same-key windows without
    a second shuffle — only per-window sorts). Candidate-pool size per
    query is the retrievers' k, so window state is bounded; the fused
    sum is a fixed-order chain of ``len(score_cols)`` terms — bitwise
    deterministic, no aggregation-order float drift.
    """
    from pyspark.sql.window import Window

    if not score_cols:
        raise ValueError("score_cols must name at least one score")
    if k < 1:
        raise ValueError("k must be >= 1")
    # rank_<sc>/fused_score/fused_rank are OUTPUT-CONTRACT names, not
    # internal temps — renaming them on collision would silently change
    # the documented schema, so an input that already carries one is
    # rejected loudly instead (same defect class as top_p_filter's
    # fixed temp names, r11 ADVICE).
    reserved = [f"rank_{sc}" for sc in score_cols]
    reserved += ["fused_score", "fused_rank"]
    clash = [c for c in reserved if c in df.columns]
    if clash:
        raise ValueError(
            "reciprocal_rank_fusion output column(s) already present "
            f"in the input: {clash}; rename or drop them first"
        )
    out = df
    fused = None
    for sc in score_cols:
        w = Window.partitionBy(query_col).orderBy(
            F.col(sc).desc_nulls_last(), F.col(doc_col).asc()
        )
        rn = F.row_number().over(w)
        rank_c = F.when(F.col(sc).isNotNull(), rn)
        out = out.withColumn(f"rank_{sc}", rank_c)
        term = F.when(
            F.col(f"rank_{sc}").isNotNull(),
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"rank_{sc}")
                          .cast("double")),
        ).otherwise(F.lit(0.0))
        fused = term if fused is None else fused + term
    out = out.withColumn("fused_score", F.round(fused, round_to))
    wf = Window.partitionBy(query_col).orderBy(
        F.col("fused_score").desc(), F.col(doc_col).asc()
    )
    out = out.withColumn("fused_rank", F.row_number().over(wf))
    if top_k is not None:
        out = out.filter(F.col("fused_rank") <= top_k)
    return out


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 16,
    seed: int = 42,
    out_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection to ``out_dim``
    dimensions with deterministic ±1/√k planes (Achlioptas 2003's
    database-friendly signs) — the dimensionality-reduction front of
    the similarity stack: project once, then feed the short vectors to
    IVF build/probe or brute-force top-k at a fraction of the
    arithmetic, with pairwise distances preserved to JL tolerance.

    Plane ``p``'s sign at dimension ``i`` is the parity of
    ``((a_p·(i+1) + b_p) mod M)² mod M`` over the engine's shared
    31-bit coefficient family — exact int64 in any engine, the same
    construction (and therefore the same planes for the same seed) as
    :func:`~yaetl_spark.operators.dedup.embedding_dedup_pairs`'s
    ``plane_fn='lcg'`` buckets, so a projection and an LSH bucketing
    built on one seed agree on geometry. Components are sequential
    left folds over the input dimensions scaled by ``1/√out_dim`` and
    rounded — bit-reproducible in SQL via ``list_reduce``.

    Scale shape (100 TB): pure scan-level arithmetic — no shuffle, no
    Python, no fitted state to broadcast (the planes are compile-time
    constants). NULL vectors project to NULL.
    """
    from .dedup import _MERSENNE31, _hash_coeffs31

    if out_dim < 1:
        raise ValueError("out_dim must be >= 1")
    out = out_col or f"{vec_col}_proj"
    v = F.col(vec_col)
    inv = 1.0 / math.sqrt(float(out_dim))
    coeffs = _hash_coeffs31(out_dim, seed)

    def component(a_p: int, b_p: int) -> Column:
        def term(acc, i):
            # i runs 1..size (1-based, mirroring the oracle's
            # range(1, len+1)); s = a_p*i + b_p matches the previous
            # 0-based a_p*(i+1) + b_p values exactly.
            s = F.pmod(
                F.lit(a_p).cast("bigint") * i.cast("bigint")
                + F.lit(b_p).cast("bigint"),
                F.lit(_MERSENNE31),
            )
            w = F.pmod(s * s, F.lit(_MERSENNE31))
            sign = F.when(F.pmod(w, F.lit(2)) == 0,
                          F.lit(1.0)).otherwise(F.lit(-1.0))
            return acc + F.element_at(v, i.cast("int")) \
                .cast("double") * sign

        # Guard size==0: sequence(1, 0) would DESCEND ([1, 0]) and
        # element_at(v, 0) always raises INVALID_INDEX_OF_ZERO; an
        # empty (non-NULL) vector instead projects to 0.0 components,
        # matching the SQL fold over an empty index range.
        folded = F.when(
            F.size(v) > 0,
            F.aggregate(
                F.sequence(F.lit(1), F.size(v)), F.lit(0.0), term
            ),
        ).otherwise(F.lit(0.0))
        return F.round(folded * F.lit(inv), round_to)

    return df.withColumn(
        out,
        F.when(v.isNotNull(),
               F.array(*[component(a, b) for a, b in coeffs])),
    )
