"""Deduplication operators for training-data pipelines (beyond-reference).

All variants are designed for the 100 TB path:

- :func:`exact_dedup` — hash-groupBy; one shuffle on the fingerprint, AQE
  handles skew (duplicate-heavy fingerprints).
- :func:`minhash_lsh` — shingle → minhash signature → banding → bucket
  join. The candidate join is an equi join on (band, band_hash) so Catalyst
  shuffles both sides on the bucket key — never an all-pairs product.
  :func:`minhash_index` / :func:`minhash_probe` split it into a persisted
  corpus index and incremental probes, :func:`shard_minhash_dedup` runs it
  over whole shards. All of them share one MinHash core — one signature
  fold (:func:`_signature_frame`), one banding (:func:`_banded_signatures`),
  one slot-agreement verify (:func:`_verified`) and one probe join
  (:func:`_probe_candidates`), the streaming probe included.
- :func:`simhash_dedup` — 64-bit SimHash per doc from per-bit sums over
  exploded shingle hashes (:func:`simhash_signatures`); near-dup =
  identical signature.
- :func:`ngram_jaccard_pairs` — exact Jaccard over character shingles for
  a candidate pair set (used to verify LSH candidates).
- :func:`embedding_dedup_pairs` — cosine near-dup over embedding vectors,
  bucketed by random-hyperplane signs (LSH) to avoid the quadratic join.

Everything is built-in Spark expressions (xxhash64, transform, aggregate,
zip_with), built as Columns or parsed from SQL text where a Column build
would cost hundreds of driver round trips — JVM-side, no Python in the
hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (_MERSENNE31, TOKEN_SPLIT, _window_starts, char_ngrams,
                   let_once, rolling_hash_raw, tokenize)

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one representative (min id) per normalized-text fingerprint.

    One shuffle on the fingerprint — the 16-byte
    :func:`~yaetl_spark.operators.text.fingerprint128` xxhash64 pair
    over the same whitespace/case normalization (r16, was 32-char md5
    hex: half the key bytes, a fraction of the hash CPU; the key never
    reaches the output so the swap is result-identical); group sizes
    are duplicate-cluster sizes, naturally small — safe at any scale.
    """
    from .text import fingerprint128, normalize_ws_case

    fp = fingerprint128(normalize_ws_case(F.col(text_col))).alias("_fp")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


# 31-bit family for the oracle-checkable hash_fn='rolling' mode (modulus
# text._MERSENNE31): a < 2^16 keeps a*h + b under 2^47 — exact in int64
# in ANY engine (DuckDB BIGINT errors on overflow rather than wrapping,
# so the 61-bit family can't be replicated there).
def _hash_coeffs31(k: int, seed: int = 42) -> list[tuple[int, int]]:
    coeffs = []
    state = seed
    for _ in range(k):
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        a = (state % ((1 << 16) - 1)) + 1
        state = (6364136223846793005 * state + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE31
        coeffs.append((a, b))
    return coeffs


def shingles(
    text: Column, mode: str = "word", size: int = 3
) -> Column:
    """Distinct shingle array: ``word`` n-grams (default — ~10× fewer
    shingles per doc than char n-grams, the scale-friendly choice) or
    ``char`` n-grams (finer granularity for short texts)."""
    if mode == "char":
        return F.array_distinct(char_ngrams(text, size))

    def grams(toks: Column) -> Column:
        # size, not array_size: a NULL text's shingles are [''] with
        # ANSI off and NULL with it on, as the MinHash oracles pin them
        n = F.size(toks)
        return F.array_distinct(
            F.when(n < size, F.array(F.concat_ws(" ", toks))).otherwise(
                F.transform(
                    _window_starts(n, size),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, size)),
                )
            )
        )

    # bind the token array once — an inline tokenize() reference inside
    # the transform lambda re-runs the regexp split per shingle position
    # (measured 9x slower at sf0.1)
    return let_once(tokenize(text), grams)


def _slot_hash(hash_fn: str, seed: int, h: str, slot) -> str:
    """Slot ``slot``'s MinHash re-mix of the element hash ``h``, as SQL
    text — the one definition of the per-slot hash family.

    ``hash_fn='xxhash'`` (production): ``xxhash64(seed, i, h)`` — an
    independent 64-bit re-mix per slot, NO modular arithmetic at all,
    so an ANSI session can never overflow-throw (the previous
    ``(a*h + b) mod 2^61-1`` family relied on deliberate signed-64
    wrap, which Spark 4 ANSI rejects — r9 adversarial sweep).
    ``hash_fn='rolling'`` (oracle mode): ``pmod(a*h + b, 2^31-1)`` with
    the 16-bit-coefficient :func:`_hash_coeffs31` family over 31-bit
    element hashes — every operation exact in int64, so plain SQL
    (DuckDB) reproduces the signatures bit-for-bit. ``slot`` is the
    slot index (xxhash) or its ``(a, b)`` coefficients (rolling), as
    literals or as the fold's lambda variables."""
    if hash_fn == "rolling":
        a, b = slot
        return f"pmod({a} * {h} + {b}, {_MERSENNE31})"
    return f"xxhash64({seed}, {slot}, {h})"


def _slots(num_hashes: int, seed: int, hash_fn: str) -> list:
    """The per-slot ``slot`` arguments of :func:`_slot_hash`."""
    if hash_fn == "rolling":
        return _hash_coeffs31(num_hashes, seed)
    return list(range(num_hashes))


def _word_shingles_sql(text_sql: str, size: int) -> str:
    """:func:`shingles` word mode as ONE SQL string over ``text_sql``:
    the :func:`~yaetl_spark.operators.text.tokenize` split, its token
    array bound once, distinct ``size``-grams joined by spaces."""
    toks = f"filter(split(lower({text_sql}), '{TOKEN_SPLIT}'), t -> t != '')"
    grams = (
        f"array_distinct(case when size(t) < {size} "
        f"then array(concat_ws(' ', t)) "
        f"else transform(sequence(1, size(t) - {size - 1}), "
        f"i -> concat_ws(' ', slice(t, i, {size}))) end)"
    )
    return f"get(transform(array({toks}), t -> {grams}), 0)"


def _signature_fold_sql(
    sh: str, num_hashes: int, seed: int, hash_fn: str
) -> str:
    """The MinHash signature (array<bigint>, length ``num_hashes``) of
    the shingle array ``sh``, as SQL text: hash each shingle once
    (``xxhash64``, or :func:`~.text.rolling_hash_raw` written as SQL
    text — keep the two in step), then ONE fold with an
    array-of-minima accumulator taking every slot's
    :func:`_slot_hash`, so the shingle construction runs once per row
    regardless of ``num_hashes``. The slot parameters are one
    literal array — a single parse instead of ~400 Column calls (a
    Python→JVM round trip each; see stats._dsum_sql)."""
    if hash_fn == "rolling":
        h = (
            "case when length(s) = 0 then cast(0 as bigint) else "
            "aggregate(transform(sequence(1, length(s)), "
            "i -> cast(ascii(substr(s, i, 1)) as bigint)), "
            "cast(0 as bigint), "
            f"(h, c) -> pmod(h * 31 + c, {_MERSENNE31})) end"
        )
        top, var, slot = _MERSENNE31, "c", ("c.a", "c.b")
        params = [f"named_struct('a',{a},'b',{b})"
                  for a, b in _slots(num_hashes, seed, hash_fn)]
    else:
        h, top, var, slot = "xxhash64(s)", (1 << 63) - 1, "i", "i"
        params = [str(i) for i in _slots(num_hashes, seed, hash_fn)]
    return (
        f"aggregate(transform({sh}, s -> {h}), "
        f"array_repeat(cast({top} as bigint), {num_hashes}), "
        f"(acc, h) -> zip_with(acc, array({','.join(params)}), "
        f"(m, {var}) -> least(m, {_slot_hash(hash_fn, seed, 'h', slot)})))"
    )


def _signature_frame(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    shingle_size: int,
    seed: int,
    shingle_mode: str,
    hash_fn: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(*carry, _id, _sig)``: the one MinHash signature builder of
    the LSH operators, :func:`_signature_fold_sql` over the shingles.
    Word mode shingles in SQL too (:func:`_word_shingles_sql` over the
    text projected to a fixed internal name, which collapses in the
    optimizer); char mode folds :func:`shingles`' Column, named
    ``_sh``. ``carry`` names extra ``df`` columns to ride along
    unchanged (the streaming probe threads its event time through).
    Rows with no signature (NULL text) are dropped."""
    if shingle_mode == "char":
        sh = "_sh"
        src = shingles(F.col(text_col), shingle_mode, shingle_size).alias(sh)
    else:
        sh = _word_shingles_sql("_mh_t", shingle_size)
        src = F.col(text_col).alias("_mh_t")
    return df.select(
        *carry, F.col(id_col).alias("_id"), src,
    ).select(
        *carry, "_id",
        F.expr(_signature_fold_sql(sh, num_hashes, seed, hash_fn))
        .alias("_sig"),
    ).filter(F.size("_sig") > 0)


def minhash_lsh(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    jaccard_threshold: float | None = 0.8,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Near-duplicate pairs via MinHash + LSH banding.

    Returns ``(id_a, id_b, jaccard_sim)`` with ``id_a < id_b``. Pipeline:

    1. signature per doc (one narrow pass);
    2. explode into ``bands`` buckets keyed by a hash of each band slice —
       the only shuffle, on (band_idx, band_hash);
    3. self-join per bucket → candidates (distinct);
    4. verify candidates with estimated Jaccard = fraction of matching
       signature slots; filter by threshold when given.

    At 100 TB the bucket join dominates; AQE skew-split handles hot
    buckets (e.g. boilerplate-heavy shingles).
    """
    sigs = _signature_frame(
        df, text_col, id_col, num_hashes, shingle_size, seed,
        shingle_mode, hash_fn)
    return _lsh_band_pairs(sigs, num_hashes, bands, hash_fn,
                           jaccard_threshold)


def _lsh_band_pairs(
    sigs: DataFrame,
    num_hashes: int,
    bands: int,
    hash_fn: str,
    jaccard_threshold: float | None,
) -> DataFrame:
    """Banding + candidate join + slot-agreement verify over a
    ``(_id, _sig)`` signature table — steps 2-4 of the LSH pipeline,
    shared by the per-document (:func:`minhash_lsh`) and per-shard
    (:func:`shard_minhash_dedup`) operators."""
    banded = _banded_signatures(sigs, num_hashes, bands, hash_fn)
    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a._id") < F.col("b._id")),
        )
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            F.col("a._sig").alias("sig_a"),
            F.col("b._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    return _verified(candidates, ["id_a", "id_b"], "sig_a", "sig_b",
                     num_hashes, jaccard_threshold)


def _banded_signatures(
    sigs: DataFrame, num_hashes: int, bands: int, hash_fn: str,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(*carry, _id, _sig)`` → ``(*carry, _id, _sig, band, bhash)``:
    the one band-key explosion of the LSH operators, keyed by each
    band's slot slice. rolling/oracle mode keeps the raw slot string
    (SQL-replicable); production mode hashes it down to 8 bytes for a
    cheaper shuffle. Parsed as a single SQL expression instead of ~10
    Column calls per band (driver round-trip cost — see
    timeseries.autocorrelation). ``carry`` columns ride along
    unchanged."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rpb = num_hashes // bands
    slot_str = (
        f"concat_ws(',', transform(slice(_sig, b * {rpb} + 1, {rpb}), "
        "x -> cast(x as string)))"
    )
    key = slot_str if hash_fn == "rolling" else f"xxhash64({slot_str})"
    buckets = F.expr(
        f"transform(sequence(0, {bands - 1}), "
        f"b -> named_struct('band', b, 'bhash', {key}))"
    )
    return sigs.select(
        *carry, "_id", "_sig", F.explode(buckets).alias("_bucket"),
    ).select(*carry, "_id", "_sig", "_bucket.band", "_bucket.bhash")


def _verified(
    pairs: DataFrame,
    keep: list[str],
    sig_a: str,
    sig_b: str,
    num_hashes: int,
    jaccard_threshold: float | None,
) -> DataFrame:
    """``keep`` columns plus ``jaccard_sim``: the estimated Jaccard of each
    candidate pair — the fraction of agreeing signature slots, rounded
    to 6 places — kept at or above ``jaccard_threshold`` when given."""
    sim = F.expr(
        f"cast(size(filter(zip_with({sig_a}, {sig_b}, (x, y) -> x = y), "
        f"eq -> eq)) as double) / {float(num_hashes)!r}D"
    )
    out = pairs.select(*keep, F.round(sim, 6).alias("jaccard_sim"))
    if jaccard_threshold is not None:
        out = out.filter(F.col("jaccard_sim") >= jaccard_threshold)
    return out


def _probe_candidates(
    index: DataFrame,
    incoming: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
    seed: int,
    shingle_mode: str,
    hash_fn: str,
    index_id_col: str,
    exclude_same_id: bool,
    broadcast_probe: bool = False,
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(*carry, probe_id, index_id, sig_p, sig_i)``: ``incoming``
    signatured and banded like the index, bucket-joined against it on
    ``(band, bhash)`` — one row per band hit, so a pair sharing several
    bands repeats (each caller dedupes where its execution mode wants
    it). Shared by :func:`minhash_probe` and the streaming probe."""
    sigs = _signature_frame(
        incoming, text_col, id_col, num_hashes, shingle_size, seed,
        shingle_mode, hash_fn, carry)
    banded = _banded_signatures(sigs, num_hashes, bands, hash_fn, carry)
    probe_side = banded.select(
        *carry,
        F.col("_id").alias("_p_id"),
        F.col("_sig").alias("_p_sig"),
        F.col("band").alias("_p_band"),
        F.col("bhash").alias("_p_bhash"),
    )
    if broadcast_probe:
        probe_side = F.broadcast(probe_side)
    cond = (F.col("_p_band") == F.col("band")) & (
        F.col("_p_bhash") == F.col("bhash")
    )
    if exclude_same_id:
        cond = cond & (F.col("_p_id") != F.col(index_id_col))
    return probe_side.join(index, cond).select(
        *carry,
        F.col("_p_id").alias("probe_id"),
        F.col(index_id_col).alias("index_id"),
        F.col("_p_sig").alias("sig_p"),
        F.col("sig").alias("sig_i"),
    )


def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Persistable MinHash-LSH index over a corpus: one row per
    (document, band) — ``(id_col, band, bhash, sig)``. Build it ONCE
    from the existing corpus, persist it, and match every future
    shard against it with :func:`minhash_probe` — the incremental
    near-dup pattern :func:`minhash_lsh` cannot give you (its
    self-join recompares corpus-vs-corpus on every run).

    Scale notes for 100 TB: the index is |corpus|·bands rows but only
    (id, band, bhash, 8·num_hashes B sig) wide. Write it
    ``partitionBy('band')`` (or bucketed by ``(band, bhash)``) so a
    probe's bucket join prunes to the probed bands' files and
    co-locates without shuffling the index side. Signatures ride
    along so the probe's verify step needs no second corpus join.

    All signature/banding parameters must be recorded with the index
    — a probe with different values produces garbage, not an error
    (``bhash``/``sig`` are pure arithmetic of them).
    """
    sigs = _signature_frame(
        df, text_col, id_col, num_hashes, shingle_size, seed,
        shingle_mode, hash_fn)
    banded = _banded_signatures(sigs, num_hashes, bands, hash_fn)
    return banded.select(
        F.col("_id").alias(id_col), "band", "bhash",
        F.col("_sig").alias("sig"),
    )


def minhash_probe(
    index: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_size: int = 3,
    jaccard_threshold: float | None = 0.8,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
    index_id_col: str = "doc_id",
    exclude_same_id: bool = True,
    broadcast_probe: bool = False,
) -> DataFrame:
    """Near-dup matches of an INCOMING shard against a persisted
    :func:`minhash_index` — incremental dedup without re-scanning or
    self-joining the existing corpus: only the (typically small)
    incoming shard is tokenized/signatured, banded identically, and
    bucket-joined against the index on ``(band, bhash)``; candidate
    pairs verify by signature slot agreement exactly like
    :func:`minhash_lsh`. Anti-join the result's ``probe_id`` against
    ``incoming`` to keep only novel documents.

    Returns ``(probe_id, index_id, jaccard_sim)`` (distinct pairs,
    post-``jaccard_threshold`` when given). The signature parameters
    MUST match the ones the index was built with.
    ``exclude_same_id`` drops pairs whose two ids are equal — the
    no-op matches you get when the incoming shard was already
    indexed (re-delivery); ids from disjoint ranges are unaffected.
    ``broadcast_probe`` force-broadcasts the banded incoming side so
    a band-partitioned index never shuffles at all — turn it on when
    the shard is ≪ the executor memory budget, leave AQE to decide
    otherwise.

    Within-shard duplicates are deliberately out of scope (run
    :func:`minhash_lsh` on the shard for those — same signatures,
    composable by construction).
    """
    candidates = _probe_candidates(
        index, incoming, text_col, id_col, num_hashes, bands, shingle_size,
        seed, shingle_mode, hash_fn, index_id_col, exclude_same_id,
        broadcast_probe,
    ).dropDuplicates(["probe_id", "index_id"])
    return _verified(candidates, ["probe_id", "index_id"], "sig_p",
                     "sig_i", num_hashes, jaccard_threshold)


def shard_minhash_dedup(
    df: DataFrame,
    shard_col: str,
    text_col: str = "text",
    element: str = "token",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_size: int = 2,
    jaccard_threshold: float | None = 0.5,
    seed: int = 42,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
    persist: bool = True,
    return_sigs: bool = False,
) -> DataFrame | tuple[DataFrame, DataFrame | None]:
    """Shard/container-level MinHash dedup: estimate the Jaccard
    similarity of whole SHARDS (files, crawl dumps, source buckets —
    whatever ``shard_col`` names) and emit near-duplicate shard pairs
    ``(shard_a, shard_b, jaccard_sim)`` with ``shard_a < shard_b`` —
    the coarse first rung of dedup at 100 TB, where dropping a
    re-uploaded container before any per-document work saves the most
    compute (container-level dedup as in CommonCrawl-scale pipeline
    reports, e.g. RefinedWeb/Dolma appendix dedup ladders).

    ``element`` picks what a shard is a set OF:

    - ``"token"``: the shard's pooled shingle vocabulary — per-doc
      MinHash signatures (the :func:`minhash_lsh` slot family)
      min-merged per shard. Sound because MinHash is a min-union
      sketch: slotwise ``min`` over members IS the signature of the
      union of their shingle sets.
    - ``"content"``: whole-document fingerprints — shards sharing
      verbatim documents score high (true container dedup; re-uploads
      and overlapping dumps).

    Scale shape (100 TB): one narrow per-doc pass (no shuffle), ONE
    ``groupBy(shard)`` partial-agg shuffle bounded by |shards| — never
    document pairs, never shard pairs outside shared LSH bands — then
    the banded candidate join over |shards|-sized signatures (the
    :func:`minhash_lsh` band/verify stage, reused). ``persist``
    (default ON — the signature table is |shards| rows, tiny by the
    definition of a shard) caches that table before the band
    SELF-join, which otherwise re-executes the whole corpus-scan
    lineage once per join side (measured 8× on the sf0.1 corpus).
    Callers that want to unpersist eagerly pass ``return_sigs=True``
    and get ``(pairs, sigs)`` back — the handle is an explicit return,
    not an attribute, because any transformation of the result would
    produce a new DataFrame and silently drop an attached handle
    (r11 ADVICE). With ``persist=False`` the second element is None.

    Cache lifetime on the DEFAULT path (``persist=True,
    return_sigs=False``): no handle is returned, so the |shards|-row
    signature cache cannot be unpersisted by the caller — it lives
    until Spark's LRU block eviction or ``spark.catalog.clearCache()``
    reclaims it. That is a deliberate trade (the table is tiny by the
    definition of a shard); callers needing eager, deterministic
    release MUST pass ``return_sigs=True`` and ``sigs.unpersist()``
    themselves.
    """
    if element not in ("token", "content"):
        raise ValueError("element must be 'token' or 'content'")
    # hash each element ONCE into a named column ``_gh``, then derive
    # the per-slot re-mixes from it via one parsed expression per slot
    # (stats._dsum_sql note on Column-call round trips): ~450 JVM
    # calls -> ~num_hashes. The optimizer collapses the extra
    # projection.
    slot_cols = [
        F.expr(f"{_slot_hash(hash_fn, seed, '_gh', s)} as _m{i}")
        for i, s in enumerate(_slots(num_hashes, seed, hash_fn))
    ]
    if element == "token":
        # same values as min-merging per-doc signature arrays (min over
        # the shard's shingle multiset == min over the union; duplicate
        # shingles can't move a min) but computed COLUMNAR: explode the
        # per-doc shingle set once, hash each shingle once, and let the
        # partial-agg combine take the per-slot minima — whole-stage
        # codegen over flat columns instead of a 32-wide array-fold
        # allocation per shingle (measured ~3× on the sf0.1 documents
        # corpus), and the exploded rows collapse map-side so the
        # shuffle stays |shards|-bounded.
        grams = df.select(
            F.col(shard_col).alias("_id"),
            F.explode(
                shingles(F.col(text_col), shingle_mode, shingle_size)
            ).alias("_g"),
        )
        hasher = rolling_hash_raw if hash_fn == "rolling" else F.xxhash64
        hashed = grams.select("_id", hasher(F.col("_g")).alias("_gh"))
    else:
        # one element per doc: a content fingerprint
        if hash_fn == "rolling":
            # md5-prefix fingerprint (< 2^28, so the 16-bit-coefficient
            # universal hash stays far inside int64 — ANSI-safe and
            # SQL-replicable, same discipline as rolling_hash_raw)
            h = F.conv(F.substring(F.md5(F.col(text_col)), 1, 7), 16, 10) \
                .cast("bigint")
        else:
            h = F.xxhash64(F.col(text_col))
        hashed = df.filter(F.col(text_col).isNotNull()).select(
            F.col(shard_col).alias("_id"), h.alias("_gh"))
    per_doc = hashed.select("_id", *slot_cols)
    sigs = (
        per_doc.groupBy("_id")
        .agg(*[F.expr(f"min(_m{i}) as _m{i}")
               for i in range(num_hashes)])
        .select(
            "_id",
            F.expr("array({}) as _sig".format(
                ",".join(f"_m{i}" for i in range(num_hashes)))),
        )
    )
    if persist:
        from pyspark.storagelevel import StorageLevel

        sigs = sigs.persist(StorageLevel.MEMORY_AND_DISK)
    out = _lsh_band_pairs(
        sigs, num_hashes, bands, hash_fn, jaccard_threshold
    ).withColumnsRenamed({"id_a": "shard_a", "id_b": "shard_b"})
    if return_sigs:
        return out, (sigs if persist else None)
    return out


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """``(id_col, _sh)`` — SimHash per doc, explode + bit-count sums.

    Explodes shingle hashes and computes per-bit ``sum((h >> b) & 1)``
    aggregates (a per-doc array fold would build a 64-CASE expression per
    shingle, which falls out of whole-stage codegen). Partial (map-side)
    aggregation means the shuffle carries one row per doc — scale-safe,
    and every operator stays in codegen. Bit ``b`` of the signature is
    set iff more than half the shingle hashes set it.

    ``hash_fn='xxhash'`` (production): 64-bit signature. ``'rolling'``:
    31-bit polynomial shingle hashes → 31-bit signature, every operation
    exact in plain SQL (the DuckDB-oracle mode).
    """
    if hash_fn == "rolling":
        n_bits, hasher = 31, rolling_hash_raw
    else:
        n_bits, hasher = 64, F.xxhash64
    exploded = df.select(
        F.col(id_col),
        F.explode(
            F.transform(
                shingles(F.col(text_col), shingle_mode, shingle_size),
                lambda s: hasher(s),
            )
        ).alias("_h"),
    )
    # Expressions as SQL strings: one py4j call each instead of several per
    # Column op — plan construction stays O(ms) despite 64 aggregates.
    sums = [
        F.expr(f"sum(shiftright(_h, {b}) & 1)").alias(f"_b{b}")
        for b in range(n_bits)
    ]
    counts = exploded.groupBy(id_col).agg(F.count("*").alias("_n"), *sums)
    terms = [
        f"(CASE WHEN _b{b} * 2 > _n THEN "
        f"{1 << b if b < n_bits - 1 or n_bits < 64 else -(1 << 63)}L "
        f"ELSE 0L END)"
        for b in range(n_bits)
    ]
    sig = F.expr(" | ".join(terms))
    return counts.select(F.col(id_col), sig.alias("_sh"))


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 3,
    shingle_mode: str = "word",
    hash_fn: str = "xxhash",
) -> DataFrame:
    """Keep min-id representative per identical SimHash signature."""
    return (
        simhash_signatures(
            df, text_col, id_col, shingle_size, shingle_mode, hash_fn
        )
        .groupBy("_sh")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_size: int = 5,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    all_pairs: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    At scale always feed LSH ``candidates`` (``minhash_lsh``). The
    all-pairs join is quadratic — a 100 TB footgun — so running without
    ``candidates`` requires the explicit ``all_pairs=True`` opt-in and
    raises otherwise. Returns ``(id_a, id_b, jaccard)``.
    """
    grams = df.select(
        F.col(id_col).alias("_id"),
        shingles(F.col(text_col), "char", shingle_size).alias("_g"),
    )
    if candidates is None:
        if not all_pairs:
            raise ValueError(
                "ngram_jaccard_pairs without candidates is a quadratic "
                "all-pairs join; pass minhash_lsh candidates, or opt in "
                "explicitly with all_pairs=True on bounded inputs"
            )
        a, b = grams.alias("a"), grams.alias("b")
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
    else:
        pairs = (
            candidates.select("id_a", "id_b")
            .join(grams.withColumnRenamed("_id", "id_a"), "id_a")
            .withColumnRenamed("_g", "_ga")
            .join(
                grams.withColumnRenamed("_id", "id_b").withColumnRenamed("_g", "_gb"),
                "id_b",
            )
        )
        inter = F.size(F.array_intersect("_ga", "_gb")).cast("double")
        union = F.size(F.array_union("_ga", "_gb")).cast("double")
        return pairs.select(
            "id_a",
            "id_b",
            F.round(
                F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6
            ).alias("jaccard"),
        ).filter(F.col("jaccard") >= threshold)
    inter = F.size(F.array_intersect(F.col("a._g"), F.col("b._g"))).cast("double")
    union = F.size(F.array_union(F.col("a._g"), F.col("b._g"))).cast("double")
    return pairs.select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.round(F.when(union == 0, F.lit(0.0)).otherwise(inter / union), 6).alias(
            "jaccard"
        ),
    ).filter(F.col("jaccard") >= threshold)


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram_size: int = 5,
    min_matches: int = 1,
    mode: str = "flag",
    hash_fn: str = "rolling",
) -> DataFrame:
    """Benchmark decontamination: find training documents sharing at least
    ``min_matches`` distinct word ``ngram_size``-grams with an evaluation
    set — the standard pre-training leak check.

    Scale shape: the benchmark side is small by construction — its distinct
    shingle hashes BROADCAST, so the 100 TB training side is a narrow
    map (tokenize → hash → explode) plus a broadcast hash join; the only
    shuffle carries matched (doc, shingle) pairs, which contamination
    rarity keeps tiny. ``mode='flag'`` returns (id, n_matched);
    ``mode='clean'`` anti-joins the flagged ids away.

    ``hash_fn='rolling'`` (default) uses the 31-bit polynomial family —
    bit-exact in any SQL engine, collisions included; ``'xxhash'`` trades
    oracle checkability for a 64-bit space."""
    hasher = F.xxhash64 if hash_fn == "xxhash" else rolling_hash_raw

    def gram_hashes(df: DataFrame) -> DataFrame:
        h = F.transform(
            shingles(F.col(text_col), "word", ngram_size),
            lambda s: hasher(s),
        )
        return df.select(
            F.col(id_col), F.explode(F.array_distinct(h)).alias("_ghash")
        )

    bench = gram_hashes(benchmark).select("_ghash").distinct()
    flagged = (
        gram_hashes(docs)
        .join(F.broadcast(bench), "_ghash")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_matched"))
        .filter(F.col("n_matched") >= min_matches)
    )
    if mode == "flag":
        return flagged
    if mode == "clean":
        return docs.join(flagged, id_col, "left_anti")
    raise ValueError(f"unknown mode {mode!r}")


def embedding_dedup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    num_planes: int = 8,
    seed: int = 42,
    brute_force: bool = False,
    plane_fn: str = "xxhash",
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    Scale path: random-hyperplane LSH — each vector gets a ``num_planes``-bit
    sign bucket; only same-bucket pairs are compared (equi join on the
    bucket key). ``plane_fn='xxhash'`` (production) derives the ±1 plane
    components from xxhash64 of (plane, dim); ``'lcg'`` derives them from a
    quadratic-residue mix of 31-bit coefficients — every step exact in
    int64, so plain SQL (the DuckDB oracle) reproduces buckets bit-for-bit.

    ``brute_force=True`` switches to the exact quadratic join (for tests /
    small dims).
    """
    from .similarity import _cosine, norm

    # norm projected per ROW: an inline cosine_similarity() in the pair
    # select would re-fold each side's norm once per PAIR
    vecs = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        norm(F.col(vec_col)).alias("_n"),
    )
    if brute_force:
        a, b = vecs.alias("a"), vecs.alias("b")
        pairs = a.join(b, F.col("a._id") < F.col("b._id"))
    else:
        dim_idx = F.sequence(F.lit(0), F.size("_v") - 1)
        coeffs = _hash_coeffs31(num_planes, seed)

        # Spark infers higher-order-function arity from the Python callable's
        # parameter count — the sign fns must take exactly one argument.
        def lcg_sign(a_p: int, b_p: int):
            def sign(i):
                # bigint throughout — int32 would silently wrap on a*(i+1)+b
                v = F.pmod(
                    F.lit(a_p).cast("bigint") * (i + 1).cast("bigint")
                    + F.lit(b_p).cast("bigint"),
                    F.lit(_MERSENNE31),
                )
                w = F.pmod(v * v, F.lit(_MERSENNE31))
                return F.when(F.pmod(w, F.lit(2)) == 0,
                              F.lit(1.0)).otherwise(F.lit(-1.0))

            return sign

        def xxhash_sign(p: int):
            def sign(i):
                return F.when(
                    F.pmod(F.xxhash64(F.lit(seed), F.lit(p), i),
                           F.lit(2)) == 0,
                    F.lit(1.0),
                ).otherwise(F.lit(-1.0))

            return sign

        plane_bits = []
        for p in range(num_planes):
            sign = (lcg_sign(*coeffs[p]) if plane_fn == "lcg"
                    else xxhash_sign(p))

            dot = F.aggregate(
                F.zip_with(
                    F.col("_v"),
                    F.transform(dim_idx, sign),
                    lambda v, s: v.cast("double") * s,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            plane_bits.append(
                F.when(dot >= 0, F.shiftleft(F.lit(1), p)).otherwise(F.lit(0))
            )
        bucket = plane_bits[0]
        for pb in plane_bits[1:]:
            bucket = bucket.bitwiseOR(pb)
        bucketed = vecs.withColumn("_bkt", bucket)
        a, b = bucketed.alias("a"), bucketed.alias("b")
        pairs = a.join(
            b,
            (F.col("a._bkt") == F.col("b._bkt")) & (F.col("a._id") < F.col("b._id")),
        )
    sim = _cosine(F.col("a._v"), F.col("b._v"), F.col("a._n"), F.col("b._n"))
    return pairs.select(
        F.col("a._id").alias("id_a"),
        F.col("b._id").alias("id_b"),
        F.round(sim, 6).alias("cosine_sim"),
    ).filter(F.col("cosine_sim") >= threshold)


def keep_latest(
    df: DataFrame,
    keys: list[str] | str,
    order_col: str,
    tiebreak: list[str] | str | None = None,
) -> DataFrame:
    """Latest-version-per-key compaction — the CDC/changelog dedup: one
    row per key, the one with the greatest ``order_col`` (append a
    ``tiebreak`` column list to make ties deterministic — without it,
    ties resolve arbitrarily and results are partitioning-dependent).

    One shuffle on the keys; ``row_number`` keeps a single row of state
    per key per partition. The upsert-compaction complement to
    :func:`~yaetl_spark.operators.transformers.scd2_merge` (which keeps
    history; this keeps only the head).
    """
    from pyspark.sql.window import Window

    keys = [keys] if isinstance(keys, str) else list(keys)
    tb = [tiebreak] if isinstance(tiebreak, str) else list(tiebreak or [])
    order = [F.col(order_col).desc()] + [F.col(c).desc() for c in tb]
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
