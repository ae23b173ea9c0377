"""Connected components + dedup clustering (beyond-reference).

The near-dup operators (:mod:`yaetl_spark.operators.dedup`) emit verified
*pairs*; corpus dedup needs *clusters* — every document labeled with one
canonical representative so a keep/drop decision covers transitive chains
(A~B, B~C ⇒ {A,B,C} is one group even if A≁C directly). This is the
standard final stage of a training-data dedup pipeline (the reference
engine has no graph stage; parity target is the pair ops it feeds from,
cited in dedup.py).

Scale shape: min-label propagation with pointer doubling — per iteration
one edge⋈label equi-join (shuffle on node id) plus one label⋈label
pointer jump, both map-side-combinable `groupBy(min)` aggregations.
Pointer doubling halves label-tree depth each round, so convergence is
O(log(diameter)) iterations, not O(diameter) — a 1M-node dup chain
resolves in ~20 rounds. Lineage is truncated every iteration (without
truncation the loop's plan doubles per round and Catalyst analysis time
explodes) — by default with a lazy ``localCheckpoint`` (plan truncation
is immediate, materialization rides the next action, and the blocks
live on executors — lost on executor death), or, when
``checkpoint_dir=`` is given and the loop runs distributed, with a
reliable eager ``checkpoint()`` to that directory so the loop survives
executor loss on a real cluster. Edges for near-dup graphs are
tiny relative to the corpus (only dup candidates appear), so the label
frame — two longs per node — is the largest shuffled artifact; raw
documents never enter the loop.

Both loops first decide, with one count, whether the graph is small
enough to solve on the driver; a small graph is fetched once and its
result returned as an Arrow-built local frame (``LocalTableScan``).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["connected_components", "dedup_clusters", "drop_duplicate_members",
           "pagerank"]


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Label every node of the undirected graph with the minimum node id
    reachable from it (its component representative).

    Returns ``(node, component)`` — one row per distinct node that has at
    least one edge to a *different* node (self-loops are discarded, so a
    node appearing only in self-loops is absent), both columns ``long``.
    Deterministic: the fixpoint is a pure graph property, independent of
    partitioning or engine.

    Adaptive execution, same spirit as AQE localizing a small join: a
    near-dup pair graph is usually tiny relative to the corpus (only dup
    candidates appear), so when the deduped edge count is ≤
    ``local_threshold`` (~a few MB of longs) the fixpoint is solved with
    driver-side union-find in one collect instead of 2-3 distributed
    rounds of 2 joins each. Above the threshold — or with
    ``local_threshold=0`` — the distributed min-label-propagation loop
    runs. Both paths compute the identical fixpoint.

    ``checkpoint_dir`` selects the lineage-truncation strategy for the
    iterative loop: ``None`` (default) uses ``localCheckpoint`` — fast,
    zero I/O, but the checkpoint blocks live in executor storage and an
    executor death mid-loop fails the job; a path (HDFS/S3A/local)
    switches to reliable ``checkpoint()`` so the truncated frames are
    replicated to that directory and the loop survives executor loss —
    the right setting for a long dedup job on a real cluster. Both
    strategies compute the identical fixpoint. The directory is used only
    when the distributed loop runs (a small graph writes nothing there),
    and it is set with ``sc.setCheckpointDir``, which changes the
    checkpoint directory for the whole Spark session.

    Raises ``RuntimeError`` if the distributed loop hits ``max_iter``
    rounds without converging (pointer doubling makes that ~2^max_iter of
    effective diameter, so it signals bad input, not tuning).
    """
    e = (
        edges.select(
            F.col(src).cast("long").alias("a"),
            F.col(dst).cast("long").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
    )
    # Symmetrize once; dedup so a hot pair does not multiply join output.
    e = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct()

    # Truncate BEFORE the localization probe: the lazy checkpoint makes
    # the probe's count() materialize the deduped edge blocks, so the
    # collect() below (small-graph path) and the iteration joins
    # (distributed path) both read those blocks instead of re-running
    # the scan + distinct. A reliable checkpoint is written only once
    # the graph is known to need the distributed loop.
    e = e.localCheckpoint(eager=False)

    if local_threshold:
        # Localization probe: ONE fully-parallel count() job. (r16 used
        # limit(threshold+1).collect() to fuse decide+fetch into one
        # call, but an under-limit take cannot short-circuit — Spark's
        # executeTake ramp then scans the reduce partitions in up to
        # log4(P) SEQUENTIAL waves (1, 4, 16, ... of 32), each a driver
        # round trip. For the common small-graph case count+collect is
        # two all-parallel jobs, the second a cheap read of the blocks
        # the count just pinned — measured 1.4x faster end-to-end on
        # the consuming queries.)
        if e.count() <= local_threshold:
            return _local_union_find(e.collect(), e.sparkSession)

    _truncate = _truncator(e, checkpoint_dir)
    if checkpoint_dir is not None:
        e = _truncate(e)
    labels = _truncate(
        e.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )

    for _ in range(max_iter):
        # 1) neighbor-min: the best label any neighbor holds.
        nbr = (
            e.join(labels, e.b == labels.node)
            .select(F.col("a").alias("node"), "comp")
            .groupBy("node")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(nbr, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", "comp")
                ).alias("comp"),
            )
        )
        # 2) pointer doubling: adopt the label of the current label.
        parent = stepped.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        doubled = _truncate(
            stepped.join(parent, stepped.comp == parent.p_node, "left")
            .select(
                "node",
                F.coalesce("p_comp", "comp").alias("comp"),
            )
        )
        # This count is the iteration's ONLY synchronous job: it
        # materializes the (lazily checkpointed) doubled labels as a
        # side effect of deciding convergence.
        changed = (
            doubled.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = doubled
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components: no fixpoint after {max_iter} iterations"
    )


def _truncator(df: DataFrame, checkpoint_dir: str | None):
    """The lineage truncation a distributed driver loop applies to its
    frames each round.

    ``None``: lazy ``localCheckpoint``. The logical plan is cut to an RDD
    node at once (that is what bounds Catalyst analysis of the loop), but
    the materializing job rides the next action that needs the data
    instead of a dedicated job per truncation: each synchronous driver
    job is pure round-trip latency at any scale.

    A path: reliable eager ``checkpoint()`` to that directory, so the
    loop survives executor loss. This calls ``sc.setCheckpointDir``,
    which changes the checkpoint directory for the whole session."""
    if checkpoint_dir is None:
        return lambda d: d.localCheckpoint(eager=False)
    df.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)
    return lambda d: d.checkpoint(eager=True)


def _local_frame(spark, columns: dict, schema: str) -> DataFrame:
    """A result computed on the driver, as an Arrow-built local relation.

    Spark plans it as ``LocalTableScan`` (up to
    ``spark.sql.execution.arrow.localRelationThreshold``), so using it
    starts no job and no Python worker. ``createDataFrame(list)`` instead
    runs its rows through a Python-worker RDD when the result executes."""
    import pyarrow as pa

    return spark.createDataFrame(pa.table(columns), schema)


def _local_union_find(rows, spark) -> DataFrame:
    """Driver-side union-find over a small collected (already
    symmetrized) edge list: path-halving + union-by-min so every root
    is its component's minimum id. The rows arrive from the caller's
    single bounded probe collect; one local frame out — the classic
    small-side localization. The fixpoint is order-independent, so the
    collect's partition order never matters."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for r in rows:
        a, b = r.a, r.b
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return _local_frame(
        spark,
        {"node": list(parent), "comp": [find(n) for n in parent]},
        "node long, comp long",
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    local_threshold: int = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Cluster verified near-duplicate pairs: ``(doc_id, cluster)`` where
    ``cluster`` is the smallest doc_id in the connected group. Only
    documents that appear in at least one pair are returned — at corpus
    scale the overwhelming majority of docs never enter the graph.
    ``checkpoint_dir`` forwards to :func:`connected_components` for
    cluster-durable lineage truncation (it sets the session-wide
    ``sc.setCheckpointDir`` when the distributed loop runs)."""
    cc = connected_components(
        pairs, src=id_a, dst=id_b, max_iter=max_iter,
        local_threshold=local_threshold, checkpoint_dir=checkpoint_dir)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster"))


def drop_duplicate_members(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one canonical document per cluster: drop every clustered doc
    whose id is not its cluster representative. Non-clustered docs pass
    through untouched. Join strategy is left to Catalyst/AQE: on a
    lightly-duplicated corpus the drop-list fits a broadcast and the
    filter is one narrow pass; on a heavy-dup corpus (drop-list at
    corpus scale) forcing a broadcast would OOM the driver, and the
    planner correctly falls back to a shuffled anti join."""
    losers = clusters.filter(F.col(id_col) != F.col("cluster")).select(id_col)
    return docs.join(losers, id_col, "left_anti")


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    local_threshold: int = 100_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over a directed multigraph (Page et al. 1999), with
    proper dangling-node mass redistribution, run for a FIXED ``iters``
    power iterations so the result is a deterministic function of the
    graph — reproducible across engines, partitionings, and reruns
    (fixed iteration count is what makes the operator oracle-checkable,
    same contract as the unrolled-Lloyd's k-means). Returns
    ``(node, rank)`` with ranks rounded to 6; ranks sum to 1.

    Update rule per iteration, mirrored exactly by the DuckDB oracle::

        rank'(v) = (1-d)/N + d * (Σ_{u→v} rank(u)·w(u,v)/out(u) + D/N)

    where ``w`` is edge multiplicity (parallel edges weigh), ``out(u)``
    the weighted out-degree, and ``D`` the summed rank of dangling
    nodes (no out-edges). Contribution and dangling sums round each
    term to 9 decimals and accumulate as DECIMAL(20,9) — exact,
    order-independent — so the scores are bit-stable (the same
    absorb-the-ulps pattern as ngram_perplexity/dsir_score).

    Scale shape (100 TB / web-graph):
    - edges pre-aggregate to ``(src, dst, w)`` once, and one count of
      those weighted edges decides where the iterations run;
    - small graph (count ≤ ``local_threshold``, same name, default and
      meaning as on :func:`connected_components`; ``0`` always runs
      distributed): the weighted edges are fetched to the driver in one
      Arrow collect, the ``iters`` power iterations run in NumPy, and
      the ranks come back as an Arrow-built local frame
      (``LocalTableScan``) — no job per iteration. Bit-parity contract:
      this path repeats the distributed loop's arithmetic step by step
      (``rank·w/out`` in float64 in the same order; each term rounded
      HALF_UP on its shortest repr, as Spark's ``round(x, 9)`` and the
      DECIMAL(20,9) cast do; exact integer-nano sums divided once by
      1e9; the same update expression; ``round(rank, 6)``), so both
      paths, and the oracle, return the same bits;
    - distributed: the per-iteration work is ONE rank⋈edge equi join
      (shuffle on src) plus one dst-keyed partial-agg sum; ranks are
      two columns per node, the raw input never re-enters the loop;
    - the dangling mass is a 1-row aggregate attached in-plan via a
      broadcast hash join (:func:`~yaetl_spark.operators.curation.attach_scalars`)
      — no driver round-trip per iteration;
    - lineage is truncated every iteration (localCheckpoint, or
      reliable ``checkpoint()`` under ``checkpoint_dir=`` to survive
      executor loss — same strategy as :func:`connected_components`,
      including its session-wide ``sc.setCheckpointDir``, and likewise
      used only on the distributed path); one count job fixes ``N`` up
      front.
    """
    from .curation import attach_scalars

    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")

    # Lazy local checkpoint: the localization probe's count materializes
    # the weighted edges once, for the Arrow fetch or the loop's joins.
    e = (
        edges.select(
            F.col(src).cast("long").alias("_s"),
            F.col(dst).cast("long").alias("_d"),
        )
        .filter(F.col("_s").isNotNull() & F.col("_d").isNotNull())
        .groupBy("_s", "_d")
        .agg(F.count(F.lit(1)).alias("_w"))
        .localCheckpoint(eager=False)
    )
    if local_threshold and e.count() <= local_threshold:
        return _local_pagerank(e, iters, damping)

    # With lazy local checkpoints no per-iteration materializing job is
    # submitted: the single nodes.count() below and the caller's own
    # action compute the whole chain, each truncated frame caching as
    # it materializes.
    _truncate = _truncator(e, checkpoint_dir)
    if checkpoint_dir is not None:
        e = _truncate(e)
    outw = e.groupBy("_s").agg(F.sum("_w").alias("_ow"))
    nodes = _truncate(
        e.select(F.col("_s").alias("node"))
        .union(e.select(F.col("_d").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n
    init = 1.0 / n
    dec = "decimal(20,9)"

    ranks = nodes.withColumn("rank", F.lit(init))
    for _ in range(iters):
        dang = (
            ranks.join(outw, ranks["node"] == outw["_s"], "left_anti")
            .agg(
                F.coalesce(
                    F.sum(F.round(F.col("rank"), 9).cast(dec)),
                    F.lit(0).cast(dec),
                ).cast("double").alias("_dang")
            )
        )
        contribs = (
            e.join(ranks, e["_s"] == ranks["node"])
            .join(outw, "_s")
            .select(
                F.col("_d").alias("node"),
                F.round(
                    F.col("rank") * F.col("_w") / F.col("_ow"), 9
                ).cast(dec).alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").cast("double").alias("_contrib"))
        )
        ranks = _truncate(
            attach_scalars(
                nodes.join(contribs, "node", "left"), dang, "node"
            ).select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_contrib"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    )
                ).alias("rank"),
            )
        )
    return ranks.select("node", F.round("rank", 6).alias("rank"))


def _local_pagerank(e: DataFrame, iters: int, damping: float) -> DataFrame:
    """:func:`pagerank` on the driver: one Arrow fetch of the weighted
    edges ``(_s, _d, _w)``, then the distributed loop's arithmetic
    repeated step by step in NumPy, so both paths return the same bits.
    Term sums are integer nanos; summed as float64 they stay exact,
    since every sum is far below 2**53 nanos (ranks sum to about 1)."""
    t = e.toArrow()
    s, d, w = (t.column(c).to_numpy() for c in ("_s", "_d", "_w"))
    nodes, idx = np.unique(np.concatenate([s, d]), return_inverse=True)
    n = len(nodes)
    rank = np.zeros(0)
    if n:
        si, di = idx[: len(s)], idx[len(s):]
        out_w = np.bincount(si, weights=w, minlength=n)
        dangling = out_w == 0
        w, ow = w.astype(np.float64), out_w[si]
        base = (1.0 - damping) / n
        rank = np.full(n, 1.0 / n)
        for _ in range(iters):
            dang = _half_up_units(rank[dangling], 9).sum() / 1e9
            contrib = np.bincount(
                di, weights=_half_up_units(rank[si] * w / ow, 9), minlength=n
            ) / 1e9
            rank = base + damping * (contrib + dang / float(n))
    return _local_frame(
        e.sparkSession,
        {"node": nodes, "rank": _half_up_units(rank, 6) / 1e6},
        "node long, rank double",
    )


def _half_up_units(x, scale: int):
    """Non-negative finite doubles ``x`` as int64 units of
    ``10**-scale``, rounded HALF_UP on each value's shortest decimal
    repr — what Spark's ``round(x, scale)`` (``BigDecimal.valueOf(x)
    .setScale(scale, HALF_UP)``) and its cast to ``decimal(p, scale)``
    compute.

    Vectorized as ``floor(x * 10**scale + 0.5)``. Below 2**31 units the
    float error of that is under 1e-6 units, so it can only be wrong for
    values within 1e-6 units of a half unit; those, and larger values,
    are redone exactly through ``Decimal(repr(x))``."""
    y = x * 10.0 ** scale
    units = np.floor(y + 0.5).astype(np.int64)
    near_half = np.abs(y - np.floor(y) - 0.5) < 1e-6
    for i in np.flatnonzero(near_half | (y >= 2.0 ** 31)):
        units[i] = int(
            Decimal(repr(float(x[i]))).scaleb(scale)
            .to_integral_value(rounding=ROUND_HALF_UP)
        )
    return units
