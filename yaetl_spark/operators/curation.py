"""Corpus-curation operators — the document-level filters a pretraining
pipeline runs between raw crawl and tokenizer.

Beyond-reference capability layer (the reference has no text pipeline —
SURVEY.md §2.10/§2.11 list the absences we fill Spark-side). Three ops the
published curation recipes (CCNet, Gopher, RefinedWeb) made standard:

- :func:`line_dedup` — corpus-level frequent-line removal: lines (or any
  separator-delimited unit) that repeat across the corpus more than a
  threshold are boilerplate (headers, nav bars, cookie banners) and are
  cut from every document while the rest of the document survives.
- :func:`cap_per_group` — deterministic per-source/domain quota: keep at
  most ``n`` documents per group, chosen by a stable hash order so the
  sample never changes across reruns, engines, or partitionings.
- :func:`gopher_quality_flags` — the Gopher-style rule battery (token
  count bounds, mean word length bounds, punctuation density, stopword
  presence) as per-rule boolean columns plus the conjunction, so a
  pipeline can either filter on ``gopher_pass`` or audit per-rule drop
  rates.

Everything is pure Column expressions + relational ops (JVM-side,
whole-stage codegen; no Python UDFs), built only from primitives with
identical semantics in DuckDB so every operator is oracle-checkable.
The tokenize / n-gram / count / score rules come from the text core in
:mod:`~yaetl_spark.operators.text` (one n-gram window, one padded
marker frame, NULL-safe ``array_size`` token counts); one-row scalars
attach with :func:`attach_scalars`, and rounded log terms fold with the
exact DECIMAL sum :func:`~yaetl_spark.operators.stats._dsum`.
"""

from __future__ import annotations

import re
from typing import Mapping

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sampling import hash_bucket, hash_bucket_str
from .stats import _dsum
from .text import (LANG_MARKERS, _padded, _window_starts, let_once,
                   normalize_ws, punct_ratio, token_count, tokenize)

__all__ = [
    "attach_scalars",
    "blocklist_flags",
    "c4_quality_flags",
    "canonical_url",
    "cap_per_group",
    "dsir_score",
    "encoding_quality_flags",
    "duplicate_spans",
    "frequent_lines",
    "gopher_quality_flags",
    "line_dedup",
    "mix_sources",
    "ngram_perplexity",
    "strip_duplicate_spans",
    "top_p_filter",
    "url_dedup",
]


def frequent_lines(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    min_occurrences: int = 2,
) -> DataFrame:
    """The corpus boilerplate inventory: every line occurring at least
    ``min_occurrences`` times across the corpus, as ``(line, n)`` rows —
    the inspectable counterpart of :func:`line_dedup`'s removal set
    (audit WHAT is being cut before cutting it).

    Scale shape: one fingerprint-keyed count shuffle with map-side
    combine — the key is the 16-byte :func:`~yaetl_spark.operators.text.
    fingerprint128` pair (two xxhash64 longs; r16 optimization, was md5
    hex at twice the key width and ~10x the hash CPU); the raw line
    string rides only inside the aggregation state of its own group
    (``any_value``), never as the shuffle key.
    """
    from .text import fingerprint128

    line = F.col("line")
    return (
        df.select(
            F.explode(F.split(F.col(text_col), re.escape(sep), -1)).alias(
                "line"
            )
        )
        .groupBy(fingerprint128(line).alias("_h"))
        .agg(
            F.any_value(line).alias("line"),
            F.count(F.lit(1)).alias("n"),
        )
        .filter(F.col("n") >= min_occurrences)
        .select("line", "n")
    )


def line_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    max_occurrences: int = 1,
    min_line_chars: int = 0,
    drop_empty: bool = True,
) -> DataFrame:
    """Remove corpus-frequent lines from every document (CCNet-style
    line-level dedup): split ``text_col`` on the literal ``sep``, count
    each line's occurrences across the WHOLE corpus, and cut every line
    that occurs more than ``max_occurrences`` times; surviving lines
    rejoin in their original order. Lines shorter than ``min_line_chars``
    are exempt (kept regardless of frequency — short fragments are noisy
    dedup keys). Documents left with zero lines are dropped when
    ``drop_empty`` (else kept with empty text).

    Returns the input columns with ``text_col`` rebuilt, plus ``n_lines``
    (surviving line count per document).

    Scale shape (100 TB):
    - the frequency table groups on the line's 128-bit
      :func:`~yaetl_spark.operators.text.fingerprint128` — a fixed
      16-byte key (two xxhash64 longs; r16, was 32-char md5 hex), so
      the count shuffle never carries full line text and map-side
      partial aggregation collapses within-partition repeats first;
    - only the OVER-threshold fingerprints (the boilerplate set — tiny by
      Zipf) survive the ``HAVING``, so the removal join is a
      planner-broadcastable left-anti against a small hot set, not a join
      against the full line inventory;
    - reassembly is one groupBy on the document id with an
      ``array_sort(collect_list(struct(pos, line)))`` — per-document
      state, no global sort;
    - the final join back to the original columns is id-keyed; raw
      document text crosses the wire exactly once (exploded lines), and
      AQE may replace the shuffle join with broadcast when one side is
      small.
    """
    from .text import fingerprint128

    if max_occurrences < 1:
        raise ValueError("max_occurrences must be >= 1")
    line = F.col("line")
    lines = df.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.col(text_col), re.escape(sep), -1)
        ).alias("pos", "line"),
    )
    hot = (
        lines.groupBy(fingerprint128(line).alias("_h"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > max_occurrences)
        .select("_h")
    )
    tagged = lines.withColumn("_h", fingerprint128(line))
    if min_line_chars > 0:
        # one pass over the exploded lines: left-join the hot set and keep
        # exempt-short lines regardless (a filtered-branch union would
        # explode the corpus twice)
        kept = (
            tagged.join(hot.withColumn("_hot", F.lit(True)), "_h", "left")
            .filter(
                F.col("_hot").isNull() | (F.length(line) < min_line_chars)
            )
            .drop("_hot")
        )
    else:
        kept = tagged.join(hot, "_h", "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "line"))),
                lambda s: s["line"],
            ),
            sep,
        ).alias("_new_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    if drop_empty and set(df.columns) == {id_col, text_col}:
        # nothing to join back — the reassembly already carries every
        # surviving column, so skip the id join entirely
        return rebuilt.select(
            id_col, F.col("_new_text").alias(text_col), "n_lines"
        )
    out = df.drop(text_col).join(
        rebuilt, id_col, "inner" if drop_empty else "left"
    )
    if not drop_empty:
        out = out.withColumn(
            "_new_text", F.coalesce(F.col("_new_text"), F.lit(""))
        ).withColumn("n_lines", F.coalesce(F.col("n_lines"), F.lit(0)))
    return out.withColumnRenamed("_new_text", text_col)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
) -> DataFrame:
    """Corpus-duplicated token spans (ExactSubstr-style dedup, after Lee
    et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every maximal run of tokens in which each token is covered
    by at least one corpus-hot length-``k`` shingle (one occurring at
    least ``min_occurrences`` times across the WHOLE corpus). Note the
    per-token, not per-window, invariant: hot windows that overlap or
    touch merge into one span even when an interior window of the merged
    run is itself cold (hot at positions p and p+2 merges across a cold
    p+1 — gaps-and-islands semantics). Returns one row per merged span:
    ``(id_col, span_start, span_end, span_tokens, n_shingles)`` with
    1-based inclusive token positions.

    A duplicated region of ``L >= k`` tokens shows up as ``L - k + 1``
    hot shingles at consecutive positions; overlapping/adjacent hot
    shingle windows merge into one span (gaps-and-islands over the
    position sequence).

    Scale shape (100 TB):
    - shingle fingerprints are the fixed 16-byte
      :func:`~yaetl_spark.operators.text.fingerprint128` pair (two
      xxhash64 longs folded straight over the token slice — r16, was
      ``md5(concat_ws(...))`` hex at twice the key width plus a per-
      position string allocation and a cryptographic digest) — the
      corpus-wide frequency count shuffles 16-byte keys with map-side
      combine, never raw text; the expansion itself is pinned with
      :func:`~yaetl_spark.session.compute_once` so the hash pass runs
      once per execution, not once per consumer (hot count + tag join);
    - only over-threshold fingerprints survive (Zipf-small boilerplate
      set), so tagging positions is a planner-broadcastable inner join;
    - span merging is a per-document window (partitioned by ``id_col``,
      ordered by position) — state bounded by document length, no global
      sort.

    Built from DuckDB-replicable span semantics (split / slice /
    windowed running max-sum; the shingle fingerprint is a purely
    internal equality key, so the oracle may key on the shingle text
    itself), so the whole operator is oracle-checkable.
    """
    from pyspark.sql.window import Window

    from .text import fingerprint128

    if k < 1:
        raise ValueError("k must be >= 1")
    if min_occurrences < 2:
        raise ValueError("min_occurrences must be >= 2 (1 matches every span)")
    # project the token array ONCE before the per-position lambda:
    # referencing split() inline inside transform() re-evaluates the split
    # for every shingle position (measured ~2.6x slower at sf0.1); same
    # for the per-position slice — let_once binds it so the two hash
    # halves fold one slice, not two
    toks = F.col("_toks")
    positions = _window_starts(F.array_size(toks), k)
    shingled = df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("_toks")
    ).select(
        F.col(id_col),
        F.explode(
            F.transform(
                positions,
                lambda p: let_once(
                    F.slice(toks, p, k),
                    lambda sl: F.struct(
                        p.alias("pos"),
                        fingerprint128(sl).alias("_h"),
                    ),
                ),
            )
        ).alias("s"),
    ).select(id_col, F.col("s.pos").alias("pos"), F.col("s._h").alias("_h"))
    # the shingle expansion (a split + per-position slice + hash pair —
    # the operator's dominant CPU) feeds BOTH the corpus-wide hot count
    # and the position-tagging join; without pinning it computes twice
    # per execution (the broadcast leg and the stream leg share no
    # exchange, so AQE stage reuse cannot recover it)
    from ..session import compute_once

    shingled = compute_once(shingled)
    hot = (
        shingled.groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") >= min_occurrences)
        .select("_h")
    )
    marked = shingled.join(hot, "_h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    prev_end = F.max(F.col("pos") + F.lit(k - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_end.isNull() | (F.col("pos") > prev_end + F.lit(1)), F.lit(1)
    ).otherwise(F.lit(0))
    islands = marked.withColumn(
        "_island",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy(id_col, "_island")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_tokens"),
            "n_shingles",
        )
    )


def strip_duplicate_spans(
    df: DataFrame,
    spans: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    min_occurrences: int = 2,
    drop_empty: bool = True,
) -> DataFrame:
    """Cut every corpus-duplicated span (see :func:`duplicate_spans`) out
    of the documents: tokens covered by any span are removed, survivors
    rejoin in order. Returns ``(id_col, text_col, n_tokens, n_removed)``.
    Pass a precomputed ``spans`` frame to reuse one discovery pass across
    several strip policies; otherwise spans are computed with the given
    ``k`` / ``min_occurrences``.

    Scale shape: spans collapse to one array per document (tiny — spans,
    not tokens), and the cut happens IN PLACE on the token array — an
    indexed ``filter()`` lambda against the per-doc span array — so the
    token stream is never exploded, never shuffled, and never
    reassembled: the only exchanges are the span discovery itself and
    the id-keyed span join (planner-broadcastable when the span set is
    small).
    """
    if spans is None:
        spans = duplicate_spans(
            df, text_col=text_col, id_col=id_col, k=k,
            min_occurrences=min_occurrences,
        )
    span_arr = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )

    def cut(toks: Column) -> Column:
        # positions are 1-based in the span table; filter() indexes from 0
        kept = F.filter(
            toks,
            lambda t, i: ~F.coalesce(
                F.exists(
                    F.col("_spans"),
                    lambda s: (i + 1 >= s["span_start"])
                    & (i + 1 <= s["span_end"]),
                ),
                F.lit(False),
            ),
        )

        def finish(kept_b: Column) -> Column:
            return F.struct(
                F.array_join(kept_b, " ").alias("text"),
                F.size(kept_b).cast("bigint").alias("n_tokens"),
                (F.size(toks) - F.size(kept_b)).cast("bigint").alias(
                    "n_removed"
                ),
            )

        return let_once(kept, finish)

    out = (
        df.join(span_arr, id_col, "left")
        .withColumn(
            "_cutres", let_once(F.split(F.col(text_col), " "), cut)
        )
        .drop("_spans", text_col)
        .withColumn(text_col, F.col("_cutres.text"))
        .withColumn("n_tokens", F.col("_cutres.n_tokens"))
        .withColumn("n_removed", F.col("_cutres.n_removed"))
        .drop("_cutres")
    )
    if drop_empty:
        out = out.filter(F.col("n_tokens") > 0)
    return out


#: query params cut by :func:`canonical_url` — the standard tracking set
TRACKING_PARAM_RE = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="


def canonical_url(
    url: Column,
    drop_param_re: str = TRACKING_PARAM_RE,
    strip_www: bool = True,
) -> Column:
    """Canonical form of an absolute URL, for web-corpus dedup:
    lowercase scheme and host, strip any userinfo (``user:pass@`` before
    the host — credentials never belong in a dedup key, and two fetches
    of the same resource under different logins are the same document),
    strip a leading ``www.``, strip the scheme's default port (``:80``
    http / ``:443`` https), drop the fragment, drop tracking query
    params (``drop_param_re``, matched against ``name=value``), sort the
    surviving params, and trim trailing slashes from the path. Returns
    NULL when the value has no ``scheme://`` prefix (not an absolute
    URL).

    Pure regexp/array expressions — scan-level, whole-stage codegen —
    built only from primitives with identical semantics in DuckDB
    (``regexp_extract`` group capture, ``list_filter``/``list_sort``),
    so canonicalization itself is oracle-checkable. Deliberately NOT a
    full RFC 3986 resolver: no percent-encoding normalization or dot-
    segment removal (rare in crawl URLs; a Pandas-UDF ``urllib`` pass
    can layer on top when needed).
    """
    scheme = F.lower(F.regexp_extract(url, r"^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    # authority = [userinfo@]host[:port]; cut the userinfo BEFORE case
    # folding so user@host never collides with nor diverges by its case
    host = F.lower(
        F.regexp_replace(
            F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1),
            r"^[^/@]*@",
            "",
        )
    )
    if strip_www:
        host = F.regexp_replace(host, r"^www\.", "")
    host = (
        F.when(scheme == "http", F.regexp_replace(host, ":80$", ""))
        .when(scheme == "https", F.regexp_replace(host, ":443$", ""))
        .otherwise(host)
    )
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1),
        r"/+$",
        "",
    )
    qs = F.regexp_extract(url, r"\?([^#]*)", 1)
    params = F.array_sort(
        F.filter(
            F.split(qs, "&"),
            lambda p: (p != "") & ~p.rlike(drop_param_re),
        )
    )
    q = F.array_join(params, "&")
    return F.when(
        scheme != "",
        F.concat(
            scheme,
            F.lit("://"),
            host,
            path,
            F.when(q != "", F.concat(F.lit("?"), q)).otherwise(F.lit("")),
        ),
    )


def url_dedup(
    df: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    drop_param_re: str = TRACKING_PARAM_RE,
    strip_www: bool = True,
) -> DataFrame:
    """Group rows by :func:`canonical_url` of ``url_col``: one row per
    canonical URL with ``n_dups`` (occurrence count) and ``keep_id``
    (minimum ``id_col`` — the deterministic canonical keeper). Rows whose
    URL fails to canonicalize (no scheme) group under NULL. One shuffle
    on the canonical string; map-side combine collapses within-partition
    repeats first.
    """
    curl = canonical_url(
        F.col(url_col), drop_param_re=drop_param_re, strip_www=strip_www
    )
    return (
        df.select(curl.alias("canonical_url"), F.col(id_col))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def ngram_perplexity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    persist: bool = False,
) -> DataFrame:
    """Per-document perplexity under an add-alpha-smoothed bigram model
    trained on the corpus itself — the CCNet-style LM quality signal
    (Wenzek et al. 2020 rank documents by LM perplexity; a count-based
    bigram model is the self-contained analogue): unusually improbable
    token sequences (gibberish, boilerplate soup) score HIGH, fluent
    text scores LOW.

    ``P(w|prev) = (c(prev,w) + alpha) / (c(prev) + alpha·V)`` over the
    corpus bigram counts with vocabulary size ``V``;
    ``ppl(doc) = exp(-mean ln P)`` over the document's bigram positions.
    Documents with fewer than 2 tokens drop (no bigrams to score).
    Returns ``(id_col, ppl, n_bigrams)``.

    Determinism contract: each ln-term is rounded to 9 decimals and
    summed as DECIMAL (:func:`~yaetl_spark.operators.stats._dsum`) — an
    EXACT, order-independent sum — so the result is bit-stable across
    partitionings and engines (the same absorb-the-ulps pattern as the
    k-means oracle); only then does the single exp/divide run in float.

    Scale shape (100 TB):
    - the bigram stream is a narrow array transform + explode (token
      array bound once);
    - model training is two partially-aggregated groupBys whose keys are
      vocabulary-sized (Zipf — orders of magnitude below the stream);
    - scoring joins the stream against the two count tables on
      (prev, cur) / prev — vocabulary-keyed shuffles, broadcastable when
      the model is small;
    - V rides in as a ONE-ROW broadcast (:func:`attach_scalars`, onto
      the vocabulary-sized ``prev``-count table, never the bigram
      stream), so the whole operator is a single lazy job — no eager
      driver action at call time.

    Recompute caveat: the tokenize→bigram lineage feeds the bigram-count
    branch, the prev-count branch, the vocabulary count, AND the scoring
    join's probe side. Within the one job, AQE exchange reuse typically
    collapses the identical count shuffles, but the token scan itself
    can run up to ~4×. Pass ``persist=True`` to cache the bigram stream
    (MEMORY_AND_DISK) when the corpus re-read dominates — at 100 TB
    prefer the recompute (scans are cheap and parallel; caching the full
    token stream is not) unless the source is remote/expensive.

    With ``persist=True`` the cached bigram handle is exposed on the
    result as ``result.persisted_bigrams`` — call
    ``result.persisted_bigrams.unpersist()`` once the result has been
    consumed, or the MEMORY_AND_DISK blocks live for the session (the
    operator cannot know when the lazily-evaluated result is done).
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed zeros break ln)")
    toks_df = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_t")
    )

    def to_bigrams(t: Column) -> Column:
        return F.transform(
            _window_starts(F.array_size(t), 2),
            lambda i: F.struct(
                F.element_at(t, i).alias("prev"),
                F.element_at(t, i + 1).alias("cur"),
            ),
        )

    bigrams = toks_df.select(
        F.col(id_col),
        F.explode(let_once(F.col("_t"), to_bigrams)).alias("_b"),
    ).select(id_col, F.col("_b.prev").alias("prev"),
             F.col("_b.cur").alias("cur"))
    if persist:
        from pyspark import StorageLevel

        bigrams = bigrams.persist(StorageLevel.MEMORY_AND_DISK)
    vocab_df = toks_df.select(F.explode("_t").alias("_tok")).agg(
        F.countDistinct("_tok").cast("double").alias("_v"))
    # NOT pinned with compute_once: the model's count shuffle sits below
    # any pin point, and localCheckpoint on a shuffle-bearing plan
    # materializes its stages at call time under AQE — breaking this
    # operator's no-job-at-call contract (test_ngram_perplexity_is_lazy_
    # single_plan). AQE exchange reuse already collapses the two
    # identical count shuffles at runtime.
    cbg = bigrams.groupBy("prev", "cur").agg(
        F.count(F.lit(1)).alias("_c"))
    cpv = attach_scalars(
        cbg.groupBy("prev").agg(F.sum("_c").alias("_cp")), vocab_df, "prev")
    lp = F.log(
        (F.col("_c") + F.lit(float(alpha)))
        / (F.col("_cp") + F.lit(float(alpha)) * F.col("_v"))
    )
    scored = (
        bigrams.join(cbg, ["prev", "cur"])
        .join(cpv, "prev")
        .select(F.col(id_col), lp.alias("_lp"))
    )
    out = scored.groupBy(id_col).agg(
        F.round(
            F.exp(-(_dsum(F.col("_lp")) / F.count(F.lit(1)))),
            6,
        ).alias("ppl"),
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
    )
    if persist:
        # expose the cached handle so the CALLER can unpersist after the
        # result is consumed — the lazily-evaluated result gives the
        # operator no completion point to hook, and a leaked
        # MEMORY_AND_DISK bigram stream is session-lifetime storage
        out.persisted_bigrams = bigrams
    return out


def cap_per_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n: int,
    string_key: bool = False,
    buckets: int = 1_000_000,
    rank_col: str | None = None,
) -> DataFrame:
    """Keep at most ``n`` rows per ``group_col`` value — the per-domain /
    per-source quota of corpus curation (no single crawl source may
    dominate the mixture). Selection is DETERMINISTIC: rows rank within
    their group by ``(hash_bucket(key), key)`` — a stable pseudo-random
    order reproducible in any engine (same Knuth / md5-prefix arithmetic
    as :mod:`~yaetl_spark.operators.sampling`), never by RNG or physical
    row order, so the kept set is identical across reruns, engines,
    partitionings, and cluster sizes. New rows entering a group displace
    proportionally rather than reshuffling the whole quota.

    ``rank_col`` optionally exposes the within-group rank (1-based).

    Scale shape: ONE shuffle — the ``row_number`` window partitioned by
    the group key; parallelism is the number of groups. A pathologically
    hot group serializes through one task — pre-filter with a cheaper
    per-group sample (e.g. :func:`~yaetl_spark.operators.sampling.
    hash_sample` at a rate that overshoots ``n``) before the exact cap
    when one group is corpus-scale.
    """
    from pyspark.sql.window import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    b = (hash_bucket_str if string_key else hash_bucket)(key_col, buckets)
    w = Window.partitionBy(group_col).orderBy(b.asc(), F.col(key_col).asc())
    rk = "_cap_rank" if rank_col is None else rank_col
    out = df.withColumn(rk, F.row_number().over(w)).filter(F.col(rk) <= n)
    return out.drop(rk) if rank_col is None else out


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 8,
    max_tokens: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 12.0,
    max_punct_ratio: float = 0.25,
    min_stopword_kinds: int = 1,
) -> DataFrame:
    """Gopher-style quality rule battery (Rae et al. 2021, §A1.1) over a
    text column: each rule lands as its own boolean column so drop rates
    are auditable per rule, plus the conjunction ``gopher_pass`` for
    direct filtering. Rules (all thresholds parameterized):

    - ``flag_tokens``        — token count within ``[min_tokens, max_tokens]``
    - ``flag_word_len``      — mean word length within
      ``[min_mean_word_len, max_mean_word_len]``
    - ``flag_punct``         — punctuation character ratio ≤ ``max_punct_ratio``
    - ``flag_stopwords``     — at least ``min_stopword_kinds`` distinct
      common-English stopwords present (the "real prose" signal)

    Adds ``n_tokens`` and ``mean_word_len`` (rounded to 6) alongside the
    flags. Pure scan-level expressions — whole-stage codegen, no shuffle,
    no Python; formulas use only DuckDB-identical primitives, so the rule
    battery itself is oracle-checkable.
    """
    t = F.col(text_col)
    n_tok = token_count(t)
    norm = normalize_ws(t)
    n_word_chars = F.length(F.replace(norm, F.lit(" "), F.lit("")))
    mean_wl = F.when(n_tok == 0, F.lit(0.0)).otherwise(
        n_word_chars.cast("double") / n_tok.cast("double")
    )
    padded = _padded(t)
    kinds: Column = F.lit(0)
    for m in LANG_MARKERS["en"]:
        kinds = kinds + F.when(padded.contains(m), F.lit(1)).otherwise(F.lit(0))
    flag_tokens = (n_tok >= min_tokens) & (n_tok <= max_tokens)
    flag_word_len = (mean_wl >= min_mean_word_len) & (
        mean_wl <= max_mean_word_len
    )
    flag_punct = punct_ratio(t) <= max_punct_ratio
    flag_stop = kinds >= min_stopword_kinds
    return (
        df.withColumn("n_tokens", n_tok.cast("bigint"))
        .withColumn("mean_word_len", F.round(mean_wl, 6))
        .withColumn("flag_tokens", flag_tokens)
        .withColumn("flag_word_len", flag_word_len)
        .withColumn("flag_punct", flag_punct)
        .withColumn("flag_stopwords", flag_stop)
        .withColumn(
            "gopher_pass",
            flag_tokens & flag_word_len & flag_punct & flag_stop,
        )
    )


def _zero_key(c: Column) -> Column:
    """Always-0 join key DERIVED from a real column. A literal key would
    be constant-folded into a ``true`` join condition and planned as
    BroadcastNestedLoopJoin; a non-foldable pmod(·, 1) keeps the join an
    equi BroadcastHashJoin (see :func:`attach_scalars`)."""
    return F.pmod(
        F.coalesce(F.length(c.cast("string")), F.lit(0)), F.lit(1)
    )


def attach_scalars(
    df: DataFrame, scalars: DataFrame, anchor: Column | str
) -> DataFrame:
    """Attach every column of a ONE-ROW DataFrame (typically a global
    aggregate — a corpus total, a vocabulary size, a feasibility bound)
    to every row of ``df``, entirely IN-PLAN: no driver action, no
    literal round-trip, no job at call time.

    Implemented as a broadcast hash join on an always-0 key computed
    from ``anchor`` (a non-null-heavy column of ``df``) on one side and
    from the scalar row itself on the other — 1 row broadcast against
    the stream, and never a BroadcastNestedLoopJoin (a plain
    ``crossJoin`` would plan one and trip ``assert_scales``).

    The join is inner: if ``scalars`` evaluates to ZERO rows (e.g. an
    aggregate over an empty corpus with no grand-total row) the result
    is empty. Global aggregates without GROUP BY always yield exactly
    one row, so the standard uses are safe.
    """
    a = F.col(anchor) if isinstance(anchor, str) else anchor
    sc = scalars.withColumn("_zk", _zero_key(F.col(scalars.columns[0])))
    return (
        df.withColumn("_zk", _zero_key(a))
        .join(F.broadcast(sc), "_zk")
        .drop("_zk")
    )


def c4_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    min_terminal_punct_ratio: float = 0.5,
    min_sentences: int = 3,
    min_words_per_line: float = 3.0,
) -> DataFrame:
    """C4-style heuristic filter battery (Raffel et al. 2020, §2.2 —
    the cleaning rules behind the C4 corpus), document-level, each rule
    as its own boolean column plus the conjunction ``c4_pass`` so drop
    rates stay auditable per rule (same contract as
    :func:`gopher_quality_flags`):

    - ``flag_terminal_punct`` — at least ``min_terminal_punct_ratio`` of
      the document's non-empty lines end in a terminal punctuation mark
      (``. ! ? "``); C4 drops non-terminated lines outright, the
      document-level ratio keeps the signal while staying one-row-per-doc
    - ``flag_sentences``      — at least ``min_sentences`` sentence
      enders (``.!?`` occurrences) in the document
    - ``flag_line_words``     — mean words per non-empty line at least
      ``min_words_per_line`` (C4 drops lines with <3 words)
    - ``flag_no_lorem``       — no ``lorem ipsum`` placeholder text
    - ``flag_no_braces``      — no ``{`` (code, JSON, templating)
    - ``flag_no_javascript``  — no line mentioning ``javascript`` (the
      "enable javascript" boilerplate signal)

    Adds ``n_lines``, ``terminal_ratio``, ``n_sentences``,
    ``words_per_line`` (ratios rounded to 6) alongside the flags. Pure
    scan-level expressions — whole-stage codegen, no shuffle, no Python;
    DuckDB-identical primitives only, so the battery is oracle-checkable.
    An empty/whitespace document has no lines: both ratios define to 0
    and the line-based flags fail.
    """
    t = F.col(text_col)
    # project the trimmed-nonempty line array ONCE, derive everything
    # from the bound column, then drop it — each withColumn re-deriving
    # split+trim+filter would re-evaluate the split per flag
    staged = df.withColumn(
        "_lines",
        F.filter(
            F.transform(F.split(t, "\n"), F.trim),
            lambda line: line != "",
        ),
    )
    ls = F.col("_lines")
    n_lines = F.size(ls)
    n_term = F.size(F.filter(ls, lambda li: li.rlike('[.!?"]$')))
    term_ratio = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        n_term.cast("double") / n_lines.cast("double")
    )
    wpl = F.when(n_lines == 0, F.lit(0.0)).otherwise(
        token_count(t).cast("double") / n_lines.cast("double")
    )
    has_js = F.exists(ls, lambda li: F.lower(li).contains("javascript"))
    n_sent = F.length(t) - F.length(F.regexp_replace(t, r"[.!?]", ""))
    flag_term = term_ratio >= F.lit(float(min_terminal_punct_ratio))
    flag_sent = n_sent >= F.lit(int(min_sentences))
    flag_words = wpl >= F.lit(float(min_words_per_line))
    flag_lorem = ~F.lower(t).contains("lorem ipsum")
    flag_braces = ~t.contains("{")
    flag_js = ~has_js
    return (
        staged.withColumn("n_lines", n_lines.cast("bigint"))
        .withColumn("terminal_ratio", F.round(term_ratio, 6))
        .withColumn("n_sentences", n_sent.cast("bigint"))
        .withColumn("words_per_line", F.round(wpl, 6))
        .withColumn("flag_terminal_punct", flag_term)
        .withColumn("flag_sentences", flag_sent)
        .withColumn("flag_line_words", flag_words)
        .withColumn("flag_no_lorem", flag_lorem)
        .withColumn("flag_no_braces", flag_braces)
        .withColumn("flag_no_javascript", flag_js)
        .withColumn(
            "c4_pass",
            flag_term & flag_sent & flag_words & flag_lorem & flag_braces
            & flag_js,
        )
        .drop("_lines")
    )


def pii_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    mask: bool = True,
    kinds: list[str] | None = None,
) -> DataFrame:
    """Auditable PII scrubbing pass — the redaction step every
    public-corpus recipe runs before training (the BigScience/ROOTS and
    Dolma pipelines regex-mask exactly these classes): per-kind match
    COUNTS plus (with ``mask=True``) the redacted text, as a
    DataFrame-level, oracle-checkable wrapper around the same
    :data:`~yaetl_spark.operators.text._PII_PATTERNS` the Column-level
    :func:`~yaetl_spark.operators.text.redact_pii` applies.

    Returns ``(id_col, n_<kind>…, pii_total[, masked_text])`` —
    default kinds ``email, ipv4, ssn, phone``. Counts are taken on the
    ORIGINAL text per kind independently; masking chains the
    replacements in ``kinds`` order (email first, so an IPv4-shaped
    substring inside an email can't survive as a second hit). The
    patterns are deliberately the common Java-regex/RE2 subset — no
    lookaround, no backrefs — so the operator is engine-portable; like
    every published regex pass it trades recall for auditability
    (obfuscated PII needs an NER model upstream).

    Scale shape (100 TB): pure scan-level regexp expressions — zero
    shuffles, zero joins, zero Python; whole-stage codegen end to end.
    """
    from .text import _PII_PATTERNS, redact_pii

    kinds = list(kinds) if kinds is not None else list(_PII_PATTERNS)
    unknown = [k for k in kinds if k not in _PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds: {unknown}; "
                         f"available: {list(_PII_PATTERNS)}")
    if not kinds:
        raise ValueError("kinds must name at least one pattern")
    # NULL text must count as zero matches, not -1 per kind: with
    # ansi=false, size(regexp_extract_all(NULL, ...)) yields -1
    t = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        k: F.size(
            F.regexp_extract_all(t, F.lit(_PII_PATTERNS[k]), F.lit(0))
        )
        for k in kinds
    }
    total = None
    for c in counts.values():
        total = c if total is None else total + c
    cols = [F.col(id_col)]
    cols += [c.cast("bigint").alias(f"n_{k}") for k, c in counts.items()]
    cols.append(total.cast("bigint").alias("pii_total"))
    if mask:
        cols.append(redact_pii(t, kinds=kinds).alias("masked_text"))
    return df.select(*cols)


def mix_sources(
    df: DataFrame,
    weights: Mapping[str, float],
    source_col: str = "source",
    key_col: str = "doc_id",
    buckets: int = 100_000,
    string_key: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Blend a multi-source corpus to TARGET mixture proportions by
    deterministic downsampling — the "dataset mixing" step every
    pretraining recipe runs (The Pile, LLaMA, Dolma publish exactly such
    weight tables): given ``weights`` mapping a source value to its
    target share, keep the LARGEST corpus achievable with those exact
    proportions without upsampling any source.

    The feasible total is bound by the scarcest source relative to its
    weight: ``T = min_s(n_s / w_s)``; each source then keeps
    ``w_s · T`` rows via the engine's deterministic hash sampling
    (:func:`~yaetl_spark.operators.sampling.hash_bucket`), so reruns,
    engines, and partitionings all select the SAME rows. Weights are
    RELATIVE — the keep fraction ``w_s · min_u(n_u/w_u) / n_s`` is
    invariant under scaling all weights by a common factor, so the raw
    literals are used UNNORMALIZED. (Normalizing on one engine only can
    flip ``floor(threshold)`` by one bucket at the ulp; keeping the
    arithmetic term-for-term identical to a SQL oracle written with the
    same literals makes the threshold bit-stable across engines.)
    Sources absent from ``weights`` are dropped (weight 0). Achieved
    proportions are exact up to hash-bucket granularity (~1/buckets
    relative error) — hash sampling trades exact counts for
    partition-independence, the right trade for training data.

    ``weight_col`` switches the mixture UNIT from rows to that
    column's mass — pass the token count and the proportions become
    TOKEN shares (what pretraining weight tables actually mean: LLaMA
    and Dolma mix by tokens, not documents): per-source totals are
    ``Σ weight_col``, the feasible total is ``min_s(W_s/w_s)`` in
    token units, and each source keeps the hash-sampled row subset
    whose expected token mass is its quota. Selection stays row-level
    and deterministic; achieved token shares are exact up to sampling
    variation (rows are kept independently of their length, so the
    kept fraction of tokens concentrates on the kept fraction of rows
    for any corpus big enough to need mixing). ``weight_col`` values
    must be ``>= 0`` — a negative token count would silently skew the
    per-source mass and the feasibility bound, so the plan asserts
    non-negativity row-by-row (JVM-side, inside the counts scan) and
    the job FAILS on the first negative value; NULL weights count as
    0 mass. A source whose weights are ALL NULL/0 therefore has mass
    0 and — exactly like the zero-ROWS case below — forces ``T = 0``
    and an EMPTY result: zero mass cannot anchor a nonzero share.

    A source NAMED in ``weights`` but holding ZERO rows forces
    ``T = 0`` and the result is EMPTY: the largest corpus achievable at
    the exact target proportions without upsampling an absent source is
    the empty corpus. (A silent drop-through would hand back a
    plausible mixture with the wrong proportions — e.g. on a misspelled
    source name — so emptiness is the honest, loudly-visible answer.)

    Entirely in-plan — no driver action: per-source counts are one tiny
    groupBy (|sources| rows), the feasibility bound rides a
    single-partition window over that bounded counts table (so the
    corpus scan behind the counts runs exactly once), the per-source
    keep-thresholds broadcast onto the stream, and the final predicate
    is a scan-level hash compare. Shuffle cost at 100 TB: ONE partial
    count aggregation over source keys; the data stream itself never
    shuffles.
    """
    if not weights:
        raise ValueError("weights must name at least one source")
    if any(w <= 0 for w in weights.values()):
        raise ValueError("weights must be > 0 (omit a source to drop it)")
    s = F.col(source_col)
    # the weight table as literal ROWS (not a CASE expression): right-
    # joining the observed counts onto it keeps a weighted source with
    # zero rows VISIBLE with _n = 0, which drives T = min(n_s/w_s) to 0
    # and the output to empty — see the docstring contract. |weights|
    # rows, driver-local literals, no job.
    wt = df.sparkSession.createDataFrame(
        [(k, float(v)) for k, v in weights.items()], [source_col, "_w"]
    )
    if weight_col is None:
        mass = F.count(F.lit(1))
    else:
        wc = F.col(weight_col).cast("double")
        # assert_true returns NULL when the condition holds and throws
        # otherwise, so coalesce(assert, value) evaluates the guard on
        # every row inside the counts scan (JVM-side, codegen'd) and
        # yields the value; NULL weights pass the guard and count as 0
        mass = F.sum(F.coalesce(
            F.assert_true(
                wc.isNull() | (wc >= 0),
                F.lit(f"mix_sources: negative {weight_col!r} value — "
                      "weight_col must be >= 0 (NULL counts as 0)")),
            F.coalesce(wc, F.lit(0.0)),
        ))
    counts = (
        df.filter(s.isin(*weights.keys()))
        .groupBy(source_col)
        .agg(mass.alias("_n"))
        .join(wt, source_col, "right")
        .withColumn("_n", F.coalesce(F.col("_n"), F.lit(0)))
    )
    # the feasibility bound T = min(n_s/w_s) rides a single-partition
    # window over the COUNTS table — bounded at |sources| rows by
    # construction, so the single partition is safe, and the counts
    # lineage (a corpus scan) executes exactly once; attach_scalars
    # would re-derive the aggregate from scratch for the scalar side
    feasible = F.min(
        F.col("_n").cast("double") / F.col("_w")
    ).over(Window.partitionBy())
    thresholds = counts.select(
        source_col,
        # a weighted source with ZERO rows already forces feasible = 0
        # (empty result by contract); its own keep fraction is 0/0 —
        # branch it to 0 explicitly so an ANSI session (Spark 4 throws
        # on double/0 too) cannot blow up computing a discarded value
        F.floor(
            F.when(
                F.col("_n") > 0,
                F.least(
                    F.lit(1.0),
                    F.col("_w") * feasible
                    / F.col("_n").cast("double"),
                ),
            ).otherwise(F.lit(0.0))
            * F.lit(int(buckets))
        ).cast("bigint").alias("_thr"),
    )
    b = (hash_bucket_str if string_key else hash_bucket)(key_col, buckets)
    return (
        df.join(F.broadcast(thresholds), source_col)
        .filter(b < F.col("_thr"))
        .drop("_thr")
    )


def dsir_score(
    df: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    buckets: int = 4096,
    alpha: float = 1.0,
    use_bigrams: bool = True,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every raw
    document by the log-likelihood ratio of a TARGET-domain hashed
    n-gram model against the RAW-corpus model —
    ``score(doc) = Σ_g log(p_target(h(g)) / p_raw(h(g)))`` over the
    document's unigrams (+ bigrams with ``use_bigrams``), features
    hashed into ``buckets`` cells, both models add-``alpha`` smoothed.
    High scores read "looks like the target domain"; importance
    resampling then keeps raw docs with probability ∝ exp(score).
    Returns ``(id_col, dsir_logratio, n_feats)`` — documents with zero
    tokens have no features and drop.

    Determinism contract: features hash via md5 (engine-portable), each
    log term is rounded to 9 decimals and summed as DECIMAL
    (:func:`~yaetl_spark.operators.stats._dsum`) — an exact,
    order-independent sum — so scores are bit-stable across
    partitionings and engines; the final round(·, 6) happens after the
    exact sum.

    Scale shape (100 TB):
    - the feature stream is a narrow tokenize → unigram+bigram explode
      (token array bound once per side);
    - BOTH models are ≤ ``buckets``-row count tables (fixed-width
      integer keys, map-side combine) — the shuffles are bucket-keyed,
      never token-keyed, and the smoothed totals ride a
      single-partition window over the bounded model table (each corpus
      is tokenized exactly once for its counts), no driver action
      anywhere;
    - scoring broadcasts the ≤ ``buckets``-row log-ratio table against
      the raw feature stream, then one id-keyed aggregation.
    """
    if alpha <= 0:
        raise ValueError("alpha must be > 0 (unsmoothed zeros break log)")
    if buckets < 2:
        raise ValueError("buckets must be >= 2")

    def feats(frame: DataFrame) -> DataFrame:
        toks = frame.select(
            F.col(id_col), tokenize(F.col(text_col)).alias("_t")
        )
        t = F.col("_t")
        bigrams = F.transform(
            _window_starts(F.array_size(t), 2),
            lambda i: F.concat(
                F.element_at(t, i), F.lit(" "), F.element_at(t, i + 1)),
        )
        grams = toks.select(
            F.col(id_col),
            F.explode(F.concat(t, bigrams) if use_bigrams else t).alias("_g"),
        )
        return grams.select(
            F.col(id_col), hash_bucket_str(F.col("_g"), buckets).alias("_b")
        )

    # pinned (compute_once): the raw feature stream feeds BOTH its model
    # count and the final scoring join — unpinned, the raw corpus pays
    # tokenize + gram explode + per-gram md5 twice. The pinned rows are
    # narrow (id, bucket int) — far below the text they derive from.
    from ..session import compute_once

    raw_feats = compute_once(feats(df))
    t_counts = feats(target).groupBy("_b").agg(
        F.count(F.lit(1)).alias("_ct"))
    r_counts = raw_feats.groupBy("_b").agg(
        F.count(F.lit(1)).alias("_cr"))
    model = (
        t_counts.join(r_counts, "_b", "full_outer")
        .select(
            "_b",
            F.coalesce("_ct", F.lit(0)).alias("_ct"),
            F.coalesce("_cr", F.lit(0)).alias("_cr"),
        )
    )
    # corpus totals ride a single-partition window over the MODEL table
    # (bounded at `buckets` rows), so each corpus is tokenized exactly
    # once for its count table — attach_scalars here would re-run the
    # whole count lineage (an extra corpus scan per total) just to
    # produce the 1-row side
    w_all = Window.partitionBy()
    model = model.withColumn(
        "_tt", F.sum("_ct").over(w_all).cast("double")
    ).withColumn("_tr", F.sum("_cr").over(w_all).cast("double"))
    a = F.lit(float(alpha))
    ak = F.lit(float(alpha) * buckets)
    lr = (
        F.log((F.col("_ct") + a) / (F.col("_tt") + ak))
        - F.log((F.col("_cr") + a) / (F.col("_tr") + ak))
    )
    ratios = model.select("_b", lr.alias("_lr"))
    return (
        raw_feats.join(F.broadcast(ratios), "_b")
        .groupBy(id_col)
        .agg(
            F.round(_dsum(F.col("_lr")), 6).alias("dsir_logratio"),
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        )
    )


def top_p_filter(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    p: float,
    key_col: str,
    share_col: str | None = None,
) -> DataFrame:
    """Nucleus-style cumulative-share cap: within each ``group_col``,
    keep the heaviest rows (by ``weight_col``, descending; ``key_col``
    ascending breaks ties deterministically) until they jointly cover a
    ``p`` fraction of the group's total weight — the "keep the sources
    that make up 90% of the tokens" cut of corpus curation (the same
    rule as nucleus / top-p sampling, Holtzman et al. 2020, applied as
    a filter).

    A row is kept iff the cumulative weight STRICTLY BEFORE it is
    < ``p`` × group total — so the row that crosses the threshold is
    included and coverage is always ≥ ``p`` (the nucleus convention),
    and at least one row per group always survives. The comparison is
    EXACT: weights are summed as DECIMAL(28,9) and ``p`` (max 6
    decimals) enters as an integer cross-multiplication
    (``cum_before · 10⁶ < p·10⁶ · total``) — no float boundary for the
    engines to disagree on.

    ``share_col`` optionally exposes each kept row's cumulative-share
    numerator (cum_before / total as DOUBLE, rounded 6) for auditing.
    Rows with NULL weight are dropped (a NULL cumulative sum can never
    satisfy the strict threshold compare); weights are assumed
    non-negative (sizes/counts — the nucleus semantics).

    Exactness caveat: the DECIMAL(28,9) × 10⁶ cross-multiply exceeds
    DECIMAL(38) and Spark's precision-loss rules keep scale 6 — so the
    "no float boundary" guarantee holds for weights with ≤ 6 fractional
    digits (token/byte/row counts, the intended inputs). Weights with
    more fractional precision are compared at scale 6.

    Scale shape (100 TB): ONE group-keyed shuffle; the running sum and
    the group total are two window passes over the same sort (no second
    Exchange — same shape as :func:`~yaetl_spark.operators.events.
    sessionize`). Weight magnitudes: DECIMAL(28,9) holds ~10¹⁹ weight
    units per group ×10⁶ for the cross-multiply inside DECIMAL(38,9) —
    token counts at 100 TB fit with headroom.
    """
    from pyspark.sql.window import Window

    if not 0.0 < p <= 1.0:
        raise ValueError("p must be in (0, 1]")
    p_num = int(round(p * 1_000_000))
    if abs(p_num - p * 1_000_000) > 1e-6:
        raise ValueError("p must have at most 6 decimal places")
    w_dec = F.col(weight_col).cast("decimal(28,9)")
    win = Window.partitionBy(group_col).orderBy(
        F.col(weight_col).desc(), F.col(key_col).asc()
    )
    cum = F.sum(w_dec).over(
        win.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    total = F.sum(w_dec).over(Window.partitionBy(group_col))
    # collision-safe temp names: fixed "_cb"/"_tot" silently clobbered
    # same-named caller columns (r10 ADVICE)
    cb_col, tot_col = "_cb", "_tot"
    while cb_col in df.columns or tot_col in df.columns:
        cb_col, tot_col = "_" + cb_col, "_" + tot_col
    work = df.withColumns({cb_col: cum - w_dec, tot_col: total})
    kept = work.filter(
        F.col(cb_col) * F.lit(1_000_000) < F.lit(p_num) * F.col(tot_col)
    )
    if share_col is not None:
        kept = kept.withColumn(
            share_col,
            F.round(
                F.col(cb_col).cast("double") / F.col(tot_col).cast("double"),
                6,
            ),
        )
    return kept.drop(cb_col, tot_col)


def blocklist_flags(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    whole_word: bool = True,
    count_col: str = "n_blocked",
    flag_col: str = "blocklist_pass",
) -> DataFrame:
    """Blocklist screening (the wordlist gate every crawl pipeline runs
    — C4 §2.2 applies exactly this with the "List of Dirty, Naughty …"
    wordlist): adds ``count_col`` (total occurrences of any blocked
    term, case-insensitive) and ``flag_col`` (True = clean). Flag
    semantics (count + auditable pass column, filter at the caller)
    match the Gopher/C4 batteries in this module.

    ``whole_word=True`` matches at word boundaries only ("class" does
    not trip "ass"); terms are regex-escaped, so commas, dots and
    parens in a term are literal. Boundaries are applied per term edge
    and only where the edge is a word character — ``\b`` before a
    non-word edge (".net", "c++", "!!!") can never match, so such
    edges get no anchor instead of a silent always-0 (r10 ADVICE).

    Scale shape (100 TB): pure scan-level regexp count — one compiled
    alternation pattern over the text column, no shuffle, no join, no
    Python. Blocklists are static config (hundreds of terms): the
    pattern compiles once per task, not per row.
    """
    if not terms:
        raise ValueError("terms must name at least one blocked term")

    def _anchored(t: str) -> str:
        esc = re.escape(t)
        if not whole_word:
            return esc
        lead = r"\b" if re.match(r"\w", t) else ""
        trail = r"\b" if re.search(r"\w$", t) else ""
        return f"{lead}{esc}{trail}"

    alts = "|".join(sorted(_anchored(t.lower()) for t in set(terms)))
    pat = rf"(?:{alts})"
    # count = number of pattern matches: regexp_count is exact and
    # engine-shared (DuckDB len(regexp_extract_all(...)) mirrors it)
    n = F.coalesce(
        F.regexp_count(F.lower(F.col(text_col)), F.lit(pat))
        .cast("bigint"),
        F.lit(0).cast("bigint"),
    )
    return df.withColumns({
        count_col: n,
        flag_col: n == 0,
    })


def encoding_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    max_replacement_ratio: float = 0.0,
    max_control_ratio: float = 0.001,
) -> DataFrame:
    """Mojibake / encoding-damage screening — one of the most common
    raw-crawl defects: adds per-document counts and auditable pass
    flags for (a) U+FFFD replacement characters (the tombstone a lossy
    decode leaves behind) and (b) C0 control characters other than
    tab/newline/carriage-return (binary junk in a text column).
    Ratios are per character; empty/NULL text passes with zero counts
    (nothing to be damaged).

    Columns: ``n_chars_enc, n_replacement, n_control,
    flag_no_mojibake, flag_no_control, encoding_pass``.

    Scale shape (100 TB): pure scan-level regexp counts — no shuffle,
    no join, no Python; composes into the same single scan pass as the
    Gopher/C4 batteries.
    """
    if max_replacement_ratio < 0 or max_control_ratio < 0:
        raise ValueError("ratios must be >= 0")
    text = F.coalesce(F.col(text_col), F.lit(""))
    total = F.length(text).cast("bigint")
    n_rep = F.regexp_count(text, F.lit("�")).cast("bigint")
    n_ctl = F.regexp_count(
        text, F.lit(r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]")
    ).cast("bigint")
    ok_rep = F.when(total == 0, F.lit(True)).otherwise(
        n_rep.cast("double") / total <= F.lit(float(max_replacement_ratio))
    )
    ok_ctl = F.when(total == 0, F.lit(True)).otherwise(
        n_ctl.cast("double") / total <= F.lit(float(max_control_ratio))
    )
    return df.withColumns({
        "n_chars_enc": total,
        "n_replacement": n_rep,
        "n_control": n_ctl,
        "flag_no_mojibake": ok_rep,
        "flag_no_control": ok_ctl,
        "encoding_pass": ok_rep & ok_ctl,
    })
