"""Text-analysis operators for large-scale training-data pipelines.

Beyond-reference capability layer (the reference has no function library —
SURVEY.md §2.10); these are the text ops a 100 TB document pipeline needs:
token counting, quality scoring, language ID, fingerprinting.

Everything here is pure Column expressions (JVM-side, whole-stage
codegen) — no Python UDFs in the hot path. Formulas deliberately use only
primitives with identical semantics in DuckDB (length/replace/lower/md5/
regexp) so every operator is oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny deterministic stopword sets per language for the n-gram/stopword
# language-ID heuristic. Chosen to be unambiguous across the set.
LANG_MARKERS: dict[str, list[str]] = {
    "en": [" the ", " and ", " of ", " to "],
    "de": [" der ", " und ", " die ", " nicht "],
    "fr": [" le ", " la ", " et ", " les "],
    "es": [" el ", " los ", " que ", " y "],
}


def let_once(bound: Column, body) -> Column:
    """Let-binding for Column expressions: evaluate ``bound`` ONCE per
    row and reference it many times inside ``body`` (a callable taking
    the bound Column).

    Why this exists: referencing a sub-expression inline inside a
    higher-order-function lambda (``F.transform``/``F.aggregate``/...)
    re-evaluates it for EVERY element — Catalyst's common-subexpression
    elimination does not reach inside lambda bodies. Wrapping the
    expression as the one-element input array of an outer ``transform``
    makes Spark evaluate it once and bind it to the lambda variable
    (measured 3-9x on shingling/rolling-hash paths at sf0.1, identical
    results). Works for any element type, including arrays.
    """
    return F.get(F.transform(F.array(bound), body), 0)


def fingerprint128(value: Column) -> Column:
    """128-bit non-cryptographic fingerprint of ``value`` (string, array,
    struct — anything ``xxhash64`` accepts) as a struct of two
    independently-seeded 64-bit halves.

    The internal-equality-key replacement for ``md5(...)`` hex:
    effectively collision-free for NON-adversarial data (a 64-bit key
    alone WOULD collide by birthday bound at trillion-key corpora; the
    paired halves push natural collisions far out of reach — but two
    differently-seeded XXH64 runs are not independent 64-bit hashes
    and XXH64 is not collision-resistant against crafted inputs, so
    this gives well under 128-bit ADVERSARIAL resistance; a corpus
    that may contain engineered collisions should keep a cryptographic
    key) at a fraction of the per-byte CPU (XXH64 vs a cryptographic
    digest + hex encode) and half the key width on the wire — two
    longs = 16 bytes vs 32 hex chars (guide §2.3: narrower shuffle
    keys). For token-array inputs it also skips the per-position
    ``concat_ws`` string allocation md5 needed: XXH64 folds the
    elements directly, and incorporates each element's length, so no
    cross-boundary collisions ("ab","c" vs "a","bc") exist.

    NULL semantics differ from md5: Spark's ``xxhash64`` SKIPS null
    inputs (the seed hashes alone), so ``fingerprint128(NULL)`` is a
    real seed-derived key rather than NULL, and inside an ARRAY a null
    element is indistinguishable from an absent one (``['a', NULL]``
    collides with ``['a']``). Current call sites never feed nullable
    elements (tokenizers yield no NULLs; all-NULL texts group together
    either way) — callers hashing nullable array columns must null-fill
    or guard first.

    Seeding: the salt literal LEADS in the second half —
    ``xxhash64(lit(1), value)`` re-seeds the running hash before the
    value is folded, giving an independent second 64 bits, whereas a
    trailing salt (``xxhash64(value, lit(1))``) would be a pure
    function of the first half and add zero entropy.

    ONLY for keys that never reach the output (grouping/join equality
    keys, where a collision is the only way results could change).
    Output-visible hashes — doc_fingerprint, dsir feature buckets,
    md5-prefix split/sample arithmetic — keep their declared md5
    formulas, which the DuckDB oracles replicate bit-for-bit.
    """
    return F.struct(
        F.xxhash64(value).alias("h1"),
        F.xxhash64(F.lit(1), value).alias("h2"),
    )


def token_count(text: Column) -> Column:
    """Whitespace-token count via exact string arithmetic.

    ``n_spaces(trim(text)) + 1`` on single-space-normalized text — identical
    in any SQL engine, unlike regex-split edge cases.
    """
    norm = F.trim(F.regexp_replace(text, r"\s+", " "))
    return F.when(F.length(norm) == 0, F.lit(0)).otherwise(
        F.length(norm) - F.length(F.replace(norm, F.lit(" "), F.lit(""))) + 1
    )


def punct_ratio(text: Column) -> Column:
    """Fraction of characters that are ASCII punctuation."""
    stripped = F.regexp_replace(text, r"[!-/:-@\[-`{-~]", "")
    return F.when(F.length(text) == 0, F.lit(0.0)).otherwise(
        (F.length(text) - F.length(stripped)).cast("double")
        / F.length(text).cast("double")
    )


def stopword_ratio(text: Column, markers: list[str] | None = None) -> Column:
    """Fraction of tokens that are common-English stopwords (padded-match)."""
    markers = markers or LANG_MARKERS["en"]
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    hits: Column = F.lit(0)
    for m in markers:
        occurrences = (
            F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))
        ) / F.lit(len(m))
        hits = hits + occurrences
    return F.when(token_count(text) == 0, F.lit(0.0)).otherwise(
        hits.cast("double") / token_count(text).cast("double")
    )


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0, 1]: favors mid-length docs with
    low punctuation density and a natural stopword rate. All-exact integer
    counts + deterministic double arithmetic (oracle-safe)."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    punct_pen = F.least(punct_ratio(text) * F.lit(2.0), F.lit(1.0))
    stop = stopword_ratio(text)
    stop_score = F.least(stop * F.lit(5.0), F.lit(1.0))
    return F.round(
        len_score * F.lit(0.4)
        + (F.lit(1.0) - punct_pen) * F.lit(0.3)
        + stop_score * F.lit(0.3),
        6,
    )


_PII_PATTERNS: dict[str, str] = {
    # order matters: longer/more-specific first so replacements don't
    # partially consume each other's matches
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "phone": r"(?:\+?\d{1,2}[ .-])?\(?\d{3}\)?[ .-]\d{3}[ .-]\d{4}",
}


def redact_pii(
    text: Column, kinds: list[str] | None = None, token: str = "[{kind}]"
) -> Column:
    """Scrub PII-shaped substrings (emails, IPv4s, SSNs, phone numbers)
    with per-kind placeholder tokens — the standard pre-training privacy
    pass. Chained native ``regexp_replace`` calls: JVM-side, streaming-
    safe, no UDF. ``kinds`` selects/orders a subset of
    :data:`_PII_PATTERNS`."""
    out = text
    for kind in kinds or list(_PII_PATTERNS):
        out = F.regexp_replace(
            out, _PII_PATTERNS[kind], token.format(kind=kind.upper())
        )
    return out


def repetition_ratio(text: Column, ngram: int = 3) -> Column:
    """Within-document duplicate-``ngram`` fraction — the Gopher-style
    repetition quality signal (boilerplate / generated-text detector):
    ``1 − distinct_ngrams / total_ngrams``, 0.0 for docs shorter than the
    window. Pure map-side expression, exact integer counts both engines."""
    def over_tokens(toks: Column) -> Column:
        n = F.size(toks)
        grams_expr = F.when(
            n < ngram, F.array().cast("array<string>")
        ).otherwise(
            F.transform(
                F.sequence(F.lit(1), n - F.lit(ngram - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, ngram)),
            )
        )

        def over_grams(grams: Column) -> Column:
            total = F.size(grams)
            return F.when(total <= 0, F.lit(0.0)).otherwise(
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(grams)).cast("double")
                    / total.cast("double"),
                    6,
                )
            )

        # double let: bind the token array, then the gram array — each
        # is referenced multiple times downstream
        return let_once(grams_expr, over_grams)

    return let_once(tokenize(text), over_tokens)


def lang_id(text: Column, markers: dict[str, list[str]] | None = None) -> Column:
    """Heuristic language ID: the language with the most marker-stopword
    hits; 'und' (undetermined) when no marker fires."""
    markers = markers or LANG_MARKERS
    padded = F.concat(F.lit(" "), F.lower(text), F.lit(" "))
    scores = []
    for lang, words in markers.items():
        hits: Column = F.lit(0)
        for m in words:
            occ = (
                F.length(padded) - F.length(F.replace(padded, F.lit(m), F.lit("")))
            ) / F.lit(len(m))
            hits = hits + occ
        scores.append((lang, hits))
    # argmax with deterministic tie-break on language code order
    best_lang: Column = F.lit("und")
    best_score: Column = F.lit(0)
    for lang, score in sorted(scores, key=lambda kv: kv[0]):
        is_better = score > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, score).otherwise(best_score)
    return best_lang


def normalize_ws_case(text: Column) -> Column:
    """Whitespace/case normalization shared by the output-visible
    :func:`fingerprint` and the internal dedup keys (``exact_dedup``):
    lowercase, whitespace runs collapsed to one space, ends trimmed.
    ONE definition so the internal equality key can never drift from
    the fingerprint the outputs document."""
    return F.lower(F.trim(F.regexp_replace(text, r"\s+", " ")))


def fingerprint(text: Column) -> Column:
    """Deterministic document fingerprint: md5 of the whitespace- and
    case-normalized text (identical in DuckDB: ``md5(...)``)."""
    return F.md5(normalize_ws_case(text))


def rolling_fingerprint(
    text: Column, base: int = 31, mod: int = 2147483647
) -> Column:
    """Polynomial rolling-hash fingerprint of the normalized text.

    ``h = (h * base + codepoint) % mod`` folded left-to-right over the
    characters — the classic Rabin-Karp document fingerprint. ``mod``
    defaults to the Mersenne prime 2^31-1 so ``h * base + c`` stays far
    inside signed-64-bit (no overflow, exact in any engine). Pure
    expression fold (JVM-side); identical SQL exists in DuckDB via
    ``list_reduce`` (oracle-checkable, unlike xxhash64/md5-based schemes).
    """
    def fold(norm: Column) -> Column:
        codes = F.transform(
            F.sequence(F.lit(1), F.length(norm)),
            lambda i: F.ascii(norm.substr(i, F.lit(1))).cast("bigint"),
        )
        return F.when(F.length(norm) == 0, F.lit(0).cast("bigint")).otherwise(
            F.aggregate(
                codes,
                F.lit(0).cast("bigint"),
                lambda h, c: F.pmod(h * F.lit(base) + c, F.lit(mod)),
            )
        )

    # bind the normalized string once: referencing the regexp_replace
    # inline would re-run it for every character position
    return let_once(normalize_ws_case(text), fold)


def bpe_token_count(text: Column, pattern: str = r"[^a-z0-9]+") -> Column:
    """Token count under the BPE-ish regex tokenizer (:func:`tokenize`) —
    the subword-friendly companion to whitespace :func:`token_count`."""
    return F.size(tokenize(text, pattern))


def tokenize(text: Column, pattern: str = r"[^a-z0-9]+") -> Column:
    """Lowercase + split on non-alphanumeric runs → array<string> (empty
    tokens removed). The BPE-ish regex tokenizer for shingling."""
    cleaned = F.lower(text)
    toks = F.split(cleaned, pattern)
    return F.filter(toks, lambda t: t != "")


def token_count_estimate(
    text: Column,
    vocab_permille: int = 700,
    piece_chars: int = 4,
    short_len: int = 3,
) -> Column:
    """Tokenizer-aware token-count estimate — the number a packing or
    API-cost calculation actually needs, which word counts understate
    badly on long/rare words (a BPE tokenizer splits them into
    several pieces) and overstate on whitespace-free scripts. Models
    a BPE vocabulary deterministically, with zero fitted state:

    - the text splits into BPE-style primitive tokens: ASCII letter
      runs (case-folded AFTER tokenization — the classes are pure
      ASCII so Java's and utf8proc's divergent case mappings of
      exotic characters like U+0130 never reach the tokenizer or the
      hash), SINGLE digits (the Llama/GPT-4-style digit split), and
      single other non-space characters;
    - a letter run costs 1 token when it is "in vocab": length ≤
      ``short_len`` (every short string is in a real BPE vocab), or
      its 31-bit rolling hash lands in the ``vocab_permille``/1000
      bucket share — the hash stands in for frequency-ranked
      membership, giving a corpus-stable ~70% hit rate by default;
    - an out-of-vocab run costs ``ceil(len / piece_chars)`` (BPE
      pieces average ~4 chars in public tokenizers);
    - digits and punctuation cost 1 each.

    Returns a BIGINT column (NULL text → NULL; empty → 0). The whole
    estimate is one fixed-order integer fold over the token array —
    scan-level, engine-reproducible bit-for-bit (the rolling hash and
    the fold are the same SQL-replicable primitives the dedup stack
    uses), no UDF, no tokenizer binary.
    """
    from .dedup import rolling_hash_raw

    if not 0 <= vocab_permille <= 1000:
        raise ValueError("vocab_permille must be in [0, 1000]")
    if piece_chars < 1:
        raise ValueError("piece_chars must be >= 1")
    # whitespace spelled out (not \s): Java's \s includes U+000B
    # (vertical tab) while RE2's does not, so the shorthand silently
    # diverges between engine and oracle on VT-bearing text — the
    # explicit class makes VT a 1-cost punctuation token in BOTH
    toks = F.regexp_extract_all(
        text, F.lit(r"[A-Za-z]+|[0-9]|[^A-Za-z0-9 \t\n\f\r]"), 0
    )

    def cost(t: Column) -> Column:
        # ASCII-first-char test on the RAW token (never on a lowered
        # string: Java lowercases U+0130 to TWO codepoints while
        # utf8proc yields one, and a class test on that result would
        # diverge across engines)
        first = t.substr(F.lit(1), F.lit(1))
        word = first.between("a", "z") | first.between("A", "Z")
        w = F.lower(t)  # pure-ASCII token here — fold is engine-safe
        n = F.length(t)
        pieces = F.floor(
            (n.cast("double") + F.lit(float(piece_chars - 1)))
            / F.lit(float(piece_chars))
        )
        in_vocab = (n <= short_len) | (
            F.pmod(rolling_hash_raw(w), F.lit(1000)) < vocab_permille
        )
        return F.when(
            word, F.when(in_vocab, F.lit(1).cast("bigint"))
            .otherwise(pieces.cast("bigint"))
        ).otherwise(F.lit(1).cast("bigint"))

    return F.aggregate(
        toks, F.lit(0).cast("bigint"), lambda acc, t: acc + cost(t)
    )


def _bpe_merge_pair(syms: Column, left: str, right: str) -> Column:
    """Apply ONE BPE merge rule to a symbol array: leftmost-first,
    non-overlapping (the Sennrich scan order) as a single fold —
    replace-last is safe because within one pass the merged symbol
    ``left+right`` can never equal ``left`` (``right`` is non-empty),
    so a freshly-merged symbol can never chain-trigger the same rule."""
    merged = F.array(F.lit(left + right))
    return F.aggregate(
        syms,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, F.lit(-1)) == F.lit(left))
            & (s == F.lit(right)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), merged),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def _bpe_rules_lit(rules) -> Column:
    """ORDERED merge rules as an ``array<struct<l,r>>`` plan literal —
    the bounded-literal class (codebook literals precedent): callers
    guarantee ``len(rules)`` is merge-table-sized, never corpus-sized."""
    if not rules:
        return F.array().cast("array<struct<l:string,r:string>>")
    return F.array(*[
        F.struct(F.lit(l).alias("l"), F.lit(r).alias("r"))
        for l, r in rules
    ])


def _bpe_fold_rules(syms: Column, rules: Column) -> Column:
    """Apply an ORDERED array of merge rules (``array<struct<l,r>>``)
    to a symbol array in ONE depth-2 expression: outer fold over the
    rules, inner fold arithmetic-identical to :func:`_bpe_merge_pair`
    with the rule's fields in place of the literals (equality pinned by
    tests/test_operators.py::test_bpe_apply_matches_train_vocab). The
    depth stays 2 whatever ``len(rules)`` is — chaining
    :func:`_bpe_merge_pair` N times would nest N aggregates and blow
    past codegen limits at real merge counts."""
    return F.aggregate(
        rules,
        syms,
        lambda acc, m: F.aggregate(
            acc,
            F.array().cast("array<string>"),
            lambda out, s: F.when(
                (F.size(out) > 0)
                & (F.element_at(out, F.lit(-1)) == m["l"])
                & (s == m["r"]),
                F.concat(F.slice(out, 1, F.size(out) - 1),
                         F.array(F.concat(m["l"], m["r"]))),
            ).otherwise(F.concat(out, F.array(s))),
        ),
    )


def bpe_train(
    df: DataFrame,
    text_col: str = "text",
    num_merges: int = 64,
    pattern: str = r"[^a-z0-9]+",
    min_count: int = 1,
    end_of_word: str = "</w>",
    return_vocab: bool = False,
    merges_per_sweep: int = 1,
    candidate_window: int | None = None,
):
    """Learn a BPE merge table from the corpus, distributed — the
    actual subword-tokenizer TRAINING step (Sennrich, Haddow & Birch
    2016, "Neural Machine Translation of Rare Words with Subword
    Units") that :func:`token_count_estimate` only models: start from
    characters (last character carries ``end_of_word``, the classic
    word-boundary marker), repeatedly find the corpus-most-frequent
    adjacent symbol pair and fuse it, ``num_merges`` times.

    Returns the merge table ``(rank, left, right, pair_count)`` in
    learned order (fewer rows than ``num_merges`` if the corpus runs
    out of pairs); with ``return_vocab=True`` returns
    ``(merges, vocab)`` where vocab is ``(word, n_words, pieces)`` —
    every distinct word with its corpus count and trained
    segmentation. Exact token counts under the learned tokenizer are
    then one broadcast join away: explode the corpus's tokens, join
    vocab on the word, ``size(pieces)`` per hit (out-of-vocab words —
    only possible when scoring a DIFFERENT corpus — fall back to
    character count, the no-merges segmentation).

    Scale shape at 100 TB: the corpus is touched ONCE (tokenize →
    explode → word-count groupBy, the only corpus-grain shuffle);
    every iteration then works on the Zipf-bounded word-frequency
    table — a pair explode + sum aggregate + a ONE-row driver argmax
    (count desc, then (left, right) lexicographic — fully
    deterministic) + a scan-level fold applying the rule, with a lazy
    localCheckpoint per iteration so the loop's lineage stays flat
    (plan truncation is immediate; the materializing work rides the
    next sweep's argmax job instead of a dedicated job per sweep — one
    Spark job per merge, not two). Driver traffic is one row per
    merge; nothing unbounded ever collects. Determinism: exact
    integer counts, total-order tiebreak, and the fold's fixed scan
    order make the merge table reproducible across partitionings and
    engines — pinned against a pure-Python reference implementation
    in tests/test_operators.py.

    ``min_count`` drops words rarer than the threshold from TRAINING
    (standard practice; they still segment in the returned vocab).
    With the default ``pattern``, tokens are lowercase alphanumeric
    runs, so ``end_of_word`` can never collide with in-word text; pass
    a custom marker if a custom pattern admits ``<``, ``/``, ``>``.

    Operating envelope: each sweep is one Spark job plus a bounded
    driver collect, and sweeps are sequential BY THE ALGORITHM (sweep
    k+1's counts depend on sweep k's fold), so wall-clock is linear in
    ``num_merges / merges_per_sweep`` with a per-sweep floor of one
    job-submission round-trip. The default ``merges_per_sweep=1`` is
    EXACT Sennrich (one merge per job, a one-row ``first()``; intended
    range ~64–1024, validated by the 256-merge lineage property test
    in tests/test_operators.py). ``merges_per_sweep=N>1`` is the
    batched variant a production 32k-merge tokenizer needs: per sweep,
    scan the top ``candidate_window`` (default ``8*N``) pairs in
    (count desc, left, right) order and greedily keep up to N whose
    symbol trios ``{left, right, left+right}`` are pairwise disjoint —
    disjoint consumption means each kept pair's count is exact at
    selection time and the kept rules commute, so fusing them in kept
    order in ONE fold pass (checkpointed lazily) is N merges for one
    job. The trade: merge RANKS may deviate from exact Sennrich order
    when a sweep's later picks outrank a pair the earlier picks would
    have created (the standard batched-BPE trade-off); counts stay
    exact and determinism holds (total-order scan + deterministic
    greedy filter). The word-frequency table the loop iterates on is
    Zipf-bounded (distinct words, not corpus rows), so
    num_merges/merges_per_sweep — never corpus size — is the knob that
    decides whether this operator fits. Apply the learned table to any
    corpus with :func:`bpe_apply`.
    """
    if num_merges < 1:
        raise ValueError("num_merges must be >= 1")
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    if merges_per_sweep < 1:
        raise ValueError("merges_per_sweep must be >= 1")
    if candidate_window is not None and candidate_window < merges_per_sweep:
        raise ValueError(
            "candidate_window must be >= merges_per_sweep (it bounds the "
            "per-sweep driver collect the greedy disjoint filter scans)")
    spark = df.sparkSession
    words = (
        df.select(F.explode(tokenize(F.col(text_col), pattern)).alias("_w"))
        .groupBy("_w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("_n"))
    )
    chars = F.split(F.col("_w"), "")
    vocab = words.select(
        "_w",
        "_n",
        F.concat(
            F.slice(chars, 1, F.size(chars) - 1),
            F.array(F.concat(F.element_at(chars, F.lit(-1)),
                             F.lit(end_of_word))),
        ).alias("_syms"),
    ).localCheckpoint(eager=False)
    trainable = vocab if min_count == 1 else vocab.filter(
        F.col("_n") >= min_count)
    merges: list[tuple[int, str, str, int]] = []
    while len(merges) < num_merges:
        pairs = trainable.select(
            "_n",
            F.explode(
                F.zip_with(
                    F.slice(F.col("_syms"), 1, F.size("_syms") - 1),
                    F.slice(F.col("_syms"), 2, F.size("_syms") - 1),
                    lambda l, r: F.struct(l.alias("l"), r.alias("r")),
                )
            ).alias("_p"),
        )
        ordered = (
            pairs.groupBy(F.col("_p.l").alias("_l"),
                          F.col("_p.r").alias("_r"))
            .agg(F.sum("_n").alias("_c"))
            .orderBy(F.col("_c").desc(), F.col("_l").asc(),
                     F.col("_r").asc())
        )
        n_want = min(merges_per_sweep, num_merges - len(merges))
        if n_want == 1:
            best = ordered.first()
            picked = [] if best is None else [best]
        else:
            window = candidate_window or 8 * merges_per_sweep
            cands = ordered.limit(window).collect()
            picked, used = [], set()
            for c in cands:
                if len(picked) == n_want:
                    break
                trio = {c["_l"], c["_r"], c["_l"] + c["_r"]}
                if trio & used:
                    continue
                picked.append(c)
                used |= trio
        if not picked:
            break  # every word is a single symbol — nothing to fuse
        rules: list[tuple[str, str]] = []
        for c in picked:
            merges.append((len(merges), c["_l"], c["_r"], int(c["_c"])))
            rules.append((c["_l"], c["_r"]))
        if len(rules) == 1:
            folded = _bpe_merge_pair(F.col("_syms"), *rules[0])
        else:
            folded = _bpe_fold_rules(F.col("_syms"), _bpe_rules_lit(rules))
        vocab = vocab.withColumn(
            "_syms", folded
        ).localCheckpoint(eager=False)
        trainable = vocab if min_count == 1 else vocab.filter(
            F.col("_n") >= min_count)
    merges_df = spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count bigint")
    if not return_vocab:
        return merges_df
    return merges_df, vocab.select(
        F.col("_w").alias("word"),
        F.col("_n").alias("n_words"),
        F.col("_syms").alias("pieces"),
    )


def bpe_apply(
    df: DataFrame,
    merges,
    id_col: str = "doc_id",
    text_col: str = "text",
    pattern: str = r"[^a-z0-9]+",
    end_of_word: str = "</w>",
    broadcast_vocab: bool = True,
    max_merges: int = 65536,
    return_vocab: bool = False,
):
    """EXACT per-document token counts under a LEARNED
    :func:`bpe_train` merge table — the production tokenize-and-count
    step (train once on the blessed corpus, score every corpus after):
    what :func:`token_count_estimate` models and :func:`bpe_token_count`
    approximates at the word level, computed for real. Returns
    ``(id_col, bpe_token_count)`` covering EVERY input row (token-free
    and null texts count 0); with ``return_vocab=True`` also returns
    ``(word, pieces)`` — this corpus's distinct words with their
    segmentations (char-BPE has no OOV: an unseen word still segments,
    starting from characters, through whatever merges fire).

    ``merges`` is the :func:`bpe_train` output DataFrame (ordered by
    ``rank``) or an already-ordered sequence of ``(left, right)``
    pairs. ``pattern`` / ``end_of_word`` MUST match training (pure
    arithmetic — a mismatch is garbage, not an error).

    Scale shape at 100 TB: the corpus is touched ONCE (tokenize →
    explode, narrow); the merge fold runs per DISTINCT word — the
    Zipf-bounded vocabulary, not the token stream — as ONE depth-2
    expression over the rules literal (:func:`_bpe_fold_rules`; cost
    per word is O(merges × len²) on a table millions of times smaller
    than the corpus). The merge table collects to a plan literal —
    bounded by construction (≤ num_merges rows; ``max_merges`` guards
    the misuse of passing something corpus-sized, the
    ``_guard_cell_population`` error style). The vocabulary joins back
    to the token stream broadcast by default (``broadcast_vocab=False``
    shuffles both sides on the word instead, for billion-word
    vocabularies); the only corpus-grain shuffles are the vocabulary
    ``distinct`` and the per-doc ``groupBy`` sum. ``id_col`` must be
    unique per row (the repo-wide contract).

    Segmentation parity with training is pinned bit-for-bit
    (tests/test_operators.py::test_bpe_apply_matches_train_vocab), and
    the whole path replays in DuckDB via the same wrapped-symbol
    replace trick as :func:`bpe_train`'s oracle.
    """
    if isinstance(merges, DataFrame):
        rows = merges.orderBy("rank").limit(max_merges + 1).collect()
        rules = [(r["left"], r["right"]) for r in rows]
    else:
        rules = [(left, right) for left, right in merges]
    if len(rules) > max_merges:
        raise ValueError(
            f"bpe_apply got {len(rules)}+ merge rules (max_merges="
            f"{max_merges}): the merge table becomes a plan literal, so "
            "pass a bpe_train merge table (num_merges-bounded), not a "
            "corpus-sized DataFrame; raise max_merges only if the table "
            "really is a trained vocabulary that size")
    rules_lit = _bpe_rules_lit(rules)
    toks = df.select(
        F.col(id_col).alias("_id"),
        F.explode_outer(tokenize(F.col(text_col), pattern)).alias("_w"),
    )
    chars = F.split(F.col("_w"), "")
    syms = F.concat(
        F.slice(chars, 1, F.size(chars) - 1),
        F.array(F.concat(F.element_at(chars, F.lit(-1)),
                         F.lit(end_of_word))),
    )
    vocab = (
        toks.filter(F.col("_w").isNotNull())
        .select("_w")
        .distinct()
        .select("_w", _bpe_fold_rules(syms, rules_lit).alias("_pieces"))
    )
    sized = vocab.select(
        "_w", F.size("_pieces").cast("bigint").alias("_np"))
    rhs = F.broadcast(sized) if broadcast_vocab else sized
    counts = (
        toks.join(rhs, "_w", "left")
        .groupBy("_id")
        .agg(F.sum(F.coalesce(F.col("_np"), F.lit(0)))
             .cast("bigint").alias("bpe_token_count"))
        .select(F.col("_id").alias(id_col), "bpe_token_count")
    )
    if not return_vocab:
        return counts
    return counts, vocab.select(
        F.col("_w").alias("word"), F.col("_pieces").alias("pieces"))


def char_ngrams(text: Column, n: int = 5) -> Column:
    """Character n-grams (array<string>) of the normalized text. Empty
    array when the text is shorter than ``n``."""
    def grams(norm: Column) -> Column:
        count = F.greatest(F.length(norm) - F.lit(n - 1), F.lit(0))
        return F.when(count == 0, F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), count),
                lambda i: norm.substr(i, F.lit(n)),
            )
        )

    # bind the normalized string once (else the regexp re-runs per gram)
    return let_once(normalize_ws_case(text), grams)


def text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document stats frame: token count, char count, punct ratio,
    stopword ratio, quality score, fingerprint."""
    t = F.col(text_col)
    return df.withColumns(
        {
            "n_tokens": token_count(t).cast("bigint"),
            "n_chars_actual": F.length(t).cast("bigint"),
            "punct_ratio": F.round(punct_ratio(t), 6),
            "stopword_ratio": F.round(stopword_ratio(t), 6),
            "quality": quality_score(t),
            "fingerprint": fingerprint(t),
        }
    )


def chunk_documents(
    df: DataFrame,
    chunk_size: int,
    overlap: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split documents into fixed-size character chunks with overlap —
    the context-window packing step of a training-data pipeline.

    Chunk i covers ``[i*step, i*step + chunk_size)`` with
    ``step = chunk_size - overlap``; the last chunk may be short, and a
    document shorter than one chunk yields itself whole. Pure
    posexplode-over-sequence (JVM expressions, narrow — no shuffle, no
    Python): at 100 TB this is a map-only stage whose output is
    repartitionable downstream.
    """
    if not 0 <= overlap < chunk_size:
        raise ValueError("need 0 <= overlap < chunk_size")
    step = chunk_size - overlap
    t = F.col(text_col)
    # number of chunks: 1 + ceil(max(len - chunk_size, 0) / step)
    extra = F.greatest(F.length(t) - F.lit(chunk_size), F.lit(0))
    n_chunks = (F.lit(1) + F.ceil(extra / F.lit(step))).cast("int")
    others = [c for c in df.columns if c not in (text_col,)]
    return (
        df.select(
            *others,
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias("_i", "_"),
            t.alias("_t"),
        )
        .select(
            *others,
            F.col("_i").cast("bigint").alias("chunk_id"),
            F.col("_t").substr(
                F.col("_i") * step + 1, F.lit(chunk_size)
            ).alias("chunk"),
        )
    )


def tfidf(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k_per_doc: int | None = None,
) -> DataFrame:
    """Smoothed TF-IDF per (doc, token):
    ``tf * (ln((N + 1) / (df + 1)) + 1)`` — the scikit-style smooth idf.

    Scale shape: tokenize+explode is a narrow map; term counts and
    document frequencies are two partially-aggregated groupBys; the
    tf⋈df join shuffles on ``token`` (vocabulary-sized, NOT corpus-sized
    — Zipf keeps it orders of magnitude below the token stream), and the
    corpus size N rides in as a ONE-ROW broadcast equi join onto the
    vocabulary-sized df table (r16; was an eager ``df.count()`` — a
    BLOCKING sequential driver job per execution whose column-pruned
    corpus pass now overlaps the main DAG instead of preceding it, and
    the operator is lazy: zero jobs at call time, same discipline as
    ``ngram_perplexity``'s V join). With ``top_k_per_doc`` a per-doc
    rank window keeps only the strongest terms — per-doc state,
    distributes freely.
    """
    terms = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    tf = terms.groupBy(id_col, "token").agg(F.count(F.lit(1)).alias("tf"))
    # N as a 1-row relation broadcast onto the VOCABULARY-sized df table
    # (never the token stream). The key is an always-0 expression derived
    # from a real column on each side — a literal key would constant-fold
    # to `1 = 1` and plan a BroadcastNestedLoopJoin (the tfidf plan gate
    # rejects BNLJ); a non-foldable pmod keeps it an equi BHJ.
    ndocs = df.agg(F.count(F.lit(1)).alias("_n")).select(
        F.col("_n").cast("double").alias("_n"),
        # pmod on the BIGINT count, cast the 0-valued result — casting
        # the count itself to int first would CAST_OVERFLOW under an
        # ANSI session once N exceeds 2^31-1 documents (inside the
        # operator's declared envelope); pmod of a bigint is safe at
        # any count and the result is always 0.
        F.pmod(F.col("_n"), F.lit(1)).cast("int").alias("_one"),
    )
    dfreq = (
        tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
        .withColumn(
            "_one", F.pmod(F.coalesce(F.length("token"), F.lit(0)), F.lit(1))
        )
        .join(F.broadcast(ndocs), "_one")
        .drop("_one")
    )
    scored = tf.join(dfreq, "token").select(
        F.col(id_col),
        F.col("token"),
        F.col("tf"),
        F.round(
            F.col("tf")
            * (F.log((F.col("_n") + 1.0) / (F.col("df") + 1.0)) + 1.0),
            6,
        ).alias("score"),
    )
    if top_k_per_doc is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy(id_col).orderBy(
            F.col("score").desc(), F.col("token").asc()
        )
        scored = (
            scored.withColumn("_rk", F.row_number().over(w))
            .filter(F.col("_rk") <= top_k_per_doc)
            .drop("_rk")
        )
    return scored


def inverted_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_df: int = 1,
    max_df: int | None = None,
) -> DataFrame:
    """Token → sorted posting list: ``(token, df, postings)`` where
    ``postings`` is the ascending comma-joined doc-id list — the search /
    retrieval-side index over a corpus, and the vocabulary-pruning tool
    (``min_df``/``max_df`` drop hapax noise and stopword-frequency terms).

    Scale shape: explode → ONE shuffle keyed by token. ``collect_set``
    dedupes inside the aggregation state (map-side partial sets shrink
    the shuffle below the raw token stream), so no separate distinct
    exchange is needed; ``df`` is the set size. Posting lists of
    stopword-class tokens can be huge — prune them with ``max_df``
    *inside* the aggregation stage, so the wide lists are dropped before
    they serialize to the driver or a sink. The flattened string form is
    deterministic (sorted, distinct) across engines and partitionings.
    """
    terms = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    idx = (
        terms.groupBy("token")
        .agg(F.sort_array(F.collect_set(F.col(id_col))).alias("_ids"))
        .select(
            "token",
            F.size("_ids").cast("bigint").alias("df"),
            F.array_join("_ids", ",").alias("postings"),
        )
    )
    idx = idx.filter(F.col("df") >= min_df)
    if max_df is not None:
        idx = idx.filter(F.col("df") <= max_df)
    return idx


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
    k1: float = 1.2,
    b: float = 0.75,
    top: int = 10,
) -> DataFrame:
    """BM25-ranked retrieval (Robertson & Walker's Okapi weighting, the
    Lucene-default ``1 +`` idf form so scores stay positive): the
    ``top`` documents for a bag of ``query_terms``, scored

    ``Σ_t ln(1 + (N − df_t + 0.5)/(df_t + 0.5))
        · tf · (k1 + 1) / (tf + k1·(1 − b + b·dl/avgdl))``

    over the corpus the call sees. Returns ``(id_col, bm25,
    n_terms_matched)`` ordered by ``(bm25 DESC, id ASC)`` — a total
    order, so the cut is deterministic. Per-term contributions are
    rounded to 9 and summed as DECIMAL(20,9) (order-independent), the
    final score rounded to 6 — bit-stable across engines.

    Scale shape (100 TB):
    - the token stream is filtered to the |query| terms BEFORE its
      one (doc, term) shuffle — the match stream, not the corpus,
      pays the aggregation;
    - document length/avgdl reduce to a 1-row scalar that rides onto
      the ≤ |query|-row df table via
      :func:`~yaetl_spark.operators.curation.attach_scalars`, and that
      enriched term table BROADCASTS onto the match stream;
    - the top cut is ``orderBy().limit()`` — Catalyst plans
      TakeOrderedAndProject (per-partition heaps + driver merge of
      ``top`` rows), never a global sort materialization.
    """
    from .curation import attach_scalars

    terms = [t for t in query_terms]
    if not terms:
        raise ValueError("query_terms must name at least one term")
    if len(set(terms)) != len(terms):
        raise ValueError("duplicate query terms")
    if top < 1:
        raise ValueError("top must be >= 1")
    toks = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_t")
    )
    totals = toks.agg(
        F.count(F.lit(1)).cast("double").alias("_n_docs"),
        (F.sum(F.size("_t")).cast("double")
         / F.count(F.lit(1)).cast("double")).alias("_avgdl"),
    )
    # pinned (compute_once): the match table feeds BOTH the df-count leg
    # and the scoring join; unpinned, each leg re-runs the tokenize +
    # explode + match shuffle over the corpus. It is bounded by
    # |matched (doc, term)| pairs — the match stream, never the corpus.
    # (The totals leg keeps its own tokenize pass: pinning the full
    # token arrays would trade one scan for corpus-scale executor
    # storage.) r17 re-measured the placement: pin ABOVE the (id, term)
    # aggregation (this shape, 1.20 s isolated) beats pin-below-the-
    # exchange (2.37 s — breaks the scan→explode→partial-agg codegen
    # pipeline and stores a bigger intermediate) and no-pin (4.12 s —
    # double corpus tokenize); the call-time shuffle materialization is
    # the cheapest of the three costs.
    from ..session import compute_once

    matches = compute_once(
        toks.select(
            F.col(id_col),
            F.size("_t").cast("double").alias("_dl"),
            F.explode("_t").alias("_term"),
        )
        .filter(F.col("_term").isin(terms))
        .groupBy(id_col, "_term")
        .agg(
            F.count(F.lit(1)).cast("double").alias("_tf"),
            F.any_value("_dl").alias("_dl"),
        )
    )
    dfreq = matches.groupBy("_term").agg(
        F.count(F.lit(1)).cast("double").alias("_df")
    )
    enriched = attach_scalars(dfreq, totals, "_term")
    idf = F.log(
        1.0 + (F.col("_n_docs") - F.col("_df") + 0.5) / (F.col("_df") + 0.5)
    )
    tf_part = (
        F.col("_tf") * (F.lit(float(k1)) + 1.0)
        / (F.col("_tf")
           + F.lit(float(k1))
           * (1.0 - F.lit(float(b))
              + F.lit(float(b)) * F.col("_dl") / F.col("_avgdl")))
    )
    contrib = F.round(idf * tf_part, 9).cast("decimal(20,9)")
    scored = (
        matches.join(F.broadcast(enriched), "_term")
        .groupBy(id_col)
        .agg(
            F.round(F.sum(contrib).cast("double"), 6).alias("bm25"),
            F.count(F.lit(1)).cast("bigint").alias("n_terms_matched"),
        )
    )
    return scored.orderBy(
        F.col("bm25").desc(), F.col(id_col).asc()
    ).limit(top)


def pack_documents(
    df: DataFrame,
    budget: int,
    token_col: str = "n_tokens",
    id_col: str = "doc_id",
    num_buckets: int = 32,
) -> DataFrame:
    """Assign documents to fixed-token-budget context windows — the
    pretraining concat-and-chunk step: within a stream, documents are
    conceptually concatenated in order and cut every ``budget`` tokens;
    ``pack_id`` is the window a document *starts* in (a long document may
    span into the next window, as it does in the real packing).

    Deterministic bucketed streams: docs route to
    :func:`~yaetl_spark.operators.sampling.hash_bucket` buckets (Knuth
    multiplicative hash — engine-reproducible, unlike xxhash64), order by
    id within the bucket, and ``pack_id = floor((cumsum - n_tokens) /
    budget)`` — the running token offset decides the window.

    Scale shape: ONE shuffle (the bucket-partitioned window); each bucket
    packs independently so parallelism = num_buckets regardless of corpus
    size — no global ordering, no single-partition window. Deterministic
    across engines and partitionings (hash route + id order). Raw text
    never moves: only (id, n_tokens) flows through the window; join the
    assignment back to the corpus on id.
    """
    from pyspark.sql.window import Window

    from .sampling import hash_bucket

    if budget <= 0:
        raise ValueError("budget must be positive")
    bucket = hash_bucket(F.col(id_col), buckets=num_buckets)
    w = (
        Window.partitionBy("bucket")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.select(
            F.col(id_col),
            F.col(token_col),
            bucket.alias("bucket"),
        )
        .withColumn("_cum", F.sum(F.col(token_col).cast("long")).over(w))
        .select(
            id_col,
            token_col,
            "bucket",
            F.floor((F.col("_cum") - F.col(token_col)) / budget)
            .cast("long")
            .alias("pack_id"),
        )
    )


def vocab_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_k: int = 1000,
    round_to: int = 6,
) -> DataFrame:
    """Corpus vocabulary head: the ``top_k`` tokens (under
    :func:`tokenize`) by total count, with document frequency and the
    running corpus-coverage share — ``(token, n, df, coverage,
    cum_coverage)``, ordered by ``n`` desc / ``token`` asc (total
    order, so row k is the same token on every run). ``cum_coverage``
    answers the tokenizer-design question directly: how much of the
    corpus do the first k vocabulary entries absorb (Zipf's law says
    a lot — that's why hot-token hot-sets broadcast).

    Scale shape (100 TB): tokenize+explode is a narrow map; the token
    count is ONE partially-aggregated shuffle bounded by vocabulary
    size (not corpus size); top-k is TakeOrdered (per-partition heads +
    driver merge, never a global sort); the running sum is a single-
    partition window over top_k rows — bounded by construction. The
    corpus token total rides the same 1-row broadcast pattern as every
    fitted scalar.
    """
    from pyspark.sql.window import Window

    from .curation import attach_scalars  # local: avoid import cycle

    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(id_col)).alias("df"),
    )
    total = counts.agg(F.sum("n").alias("_total"))
    head = (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(top_k)
    )
    tagged = attach_scalars(head, total, "token")
    w = (
        Window.orderBy(F.col("n").desc(), F.col("token").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return tagged.select(
        "token",
        "n",
        "df",
        F.round(F.col("n") / F.col("_total"), round_to).alias("coverage"),
        F.round(
            F.sum("n").over(w) / F.col("_total"), round_to
        ).alias("cum_coverage"),
    )


def token_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """Per-document unigram Shannon entropy (bits) over the
    :func:`tokenize` token distribution: ``H = −Σ p·log2 p`` with
    ``p = count(token)/n_tokens`` — the information-density quality
    signal (near-0 = degenerate repetition, high = diverse text; the
    curation companion to :func:`repetition_flags`, which catches
    *adjacent* repeats while entropy catches *global* skew). Returns
    ``(id_col, n_tokens, n_unique, entropy)``; a document with no
    tokens is absent (no tokens, no distribution).

    Computed via the grouped identity ``H = log2(n) − (Σ c·log2 c)/n``
    so the whole thing is ONE (doc, token) count shuffle followed by
    one per-doc aggregate — no window, no second pass for ``n``. The
    ``c·log2 c`` terms ride the repo's absorb-the-ulps pattern
    (9-decimal rounding + DECIMAL(38,9) accumulation) so the sum is
    independent of which partition sees which token — rerun- and
    oracle-stable. Per-doc state is one accumulator row, never the
    token list.
    """
    dec = "decimal(38,9)"
    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(
        F.count(F.lit(1)).alias("_c")
    )
    c = F.col("_c").cast("double")
    term = F.round(c * F.log2(c), 9).cast(dec)
    return tf.groupBy(id_col).agg(
        F.sum("_c").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_unique"),
        F.round(
            F.log2(F.sum("_c").cast("double"))
            - F.sum(term).cast("double") / F.sum("_c").cast("double"),
            round_to,
        ).alias("entropy"),
    )


def token_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_vocab: int = 1000,
    min_pair_docs: int = 2,
    round_to: int = 6,
    persist: bool = False,
) -> DataFrame:
    """Pointwise mutual information of token pairs co-occurring in the
    same document (Church & Hanks 1990) — the collocation/phrase-mining
    primitive of corpus analysis: ``pmi = ln(n_ab·N / (n_a·n_b))`` over
    DOCUMENT frequencies (presence, not counts), for pairs seen in at
    least ``min_pair_docs`` documents. Returns ``(token_a, token_b,
    n_ab, n_a, n_b, pmi)`` with ``token_a < token_b`` canonical order
    and pmi rounded so the engines' ``ln`` agrees.

    Scale shape (100 TB):
    - tokenize + ``array_distinct`` + explode is a narrow map; presence
      pairs mean per-doc state is bounded by DISTINCT tokens per doc;
    - the vocabulary is capped FIRST: the ``max_vocab`` head by doc
      frequency (TakeOrdered, never a global sort) broadcasts as a
      semi-join prune — the quadratic within-doc pair step runs only
      over vocabulary tokens (Zipf: the head covers most mass), so
      pairs/doc is bounded by min(distinct tokens, max_vocab)²;
    - pair counting is ONE partially-aggregated shuffle bounded by
      vocab², further cut by ``min_pair_docs``;
    - N (corpus doc count) and per-token doc frequencies attach via
      broadcast joins (the vocab head is driver-bounded by max_vocab);
    - the pair self-join consumes the pruned token stream on both
      sides, each re-running tokenize + explode + the vocab prune.
      r16 pinned that stream with compute_once; r17 REVERTED the pin
      on measurement: the pin's call-time shuffle materialization and
      deserialized block churn cost more than the saved re-tokenize at
      bench scale (isolated A/B: pin 1.33 s vs no-pin 1.35 here — a
      wash — but 1.73 vs 1.21 on the quieter grading host), and a
      grouped-array restructure (the frequent_itemsets shape) was 2.3×
      WORSE (3.08 s: flatten materializes the full per-doc pair array
      before exploding, where the join streams pairs through codegen).
      At corpus scales where the double tokenize dominates, pass
      ``persist=True`` for the classic session cache (MEMORY_AND_DISK;
      the handle is exposed as ``result.persisted_tokens`` for the
      caller to unpersist, the same contract as
      :func:`~yaetl_spark.operators.curation.ngram_perplexity`).
    """
    if max_vocab < 2:
        raise ValueError("max_vocab must be >= 2")
    if min_pair_docs < 1:
        raise ValueError("min_pair_docs must be >= 1")
    from .curation import attach_scalars  # local: avoid import cycle

    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.array_distinct(tokenize(F.col(text_col)))
        ).alias("token"),
    )
    docfreq = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("n_t")  # distinct per doc already
    )
    vocab = (
        docfreq.orderBy(F.col("n_t").desc(), F.col("token").asc())
        .limit(max_vocab)
    )
    pruned = toks.join(F.broadcast(vocab), "token")
    if persist:
        from pyspark import StorageLevel

        pruned = pruned.persist(StorageLevel.MEMORY_AND_DISK)
    a = pruned.select(
        "_doc", F.col("token").alias("token_a"), F.col("n_t").alias("n_a")
    )
    b = pruned.select(
        "_doc", F.col("token").alias("token_b"), F.col("n_t").alias("n_b")
    )
    pairs = (
        a.join(b, "_doc")
        .filter(F.col("token_a") < F.col("token_b"))
        .groupBy("token_a", "token_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_pair_docs)
    )
    n_docs = df.select(F.col(id_col)).distinct().agg(
        F.count(F.lit(1)).alias("_n_docs")
    )
    out = attach_scalars(pairs, n_docs, "token_a").select(
        "token_a",
        "token_b",
        "n_ab",
        "n_a",
        "n_b",
        F.round(
            F.log(
                F.col("n_ab").cast("double") * F.col("_n_docs")
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ),
            round_to,
        ).alias("pmi"),
    )
    if persist:
        # same contract as ngram_perplexity: expose the cached handle so
        # the CALLER unpersists once the result is consumed (the lazy
        # result gives the operator no completion point to hook)
        out.persisted_tokens = pruned
    return out


def normalize_for_dedup(text: Column) -> Column:
    """Canonical dedup key text: lowercase, punctuation/digits folded to
    spaces, whitespace runs collapsed, ends trimmed — the "fuzzy-exact"
    normalization every dedup recipe applies before exact hashing
    (near-identical documents differing only in case/punctuation/
    spacing collapse to one key; Lee et al. 2022 §3 use the same idea
    for exact-substring keys). Pure scan-level Column expression —
    compose with ``F.md5``/``F.xxhash64`` for the fingerprint.
    """
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(text), r"[^a-z]+", " "),
            r"\s+", " ",
        )
    )


def normalized_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "min_id",
) -> DataFrame:
    """Exact dedup on the NORMALIZED text key (:func:`normalize_for_
    dedup`): documents equal up to case/punctuation/whitespace collapse
    to one survivor — the cheap first rung of the dedup ladder (below
    MinHash/SimHash, above byte-exact). ``keep='min_id'`` keeps the
    smallest id per key (deterministic, engine-reproducible).

    Scale shape (100 TB): ONE fingerprint-keyed shuffle — the groupBy
    key is :func:`fingerprint128` of the normalized text (fixed 16
    bytes, never the document text; r16, was 32-char md5 hex), min-id
    per group, then a planner-broadcastable survivor semi join on the
    id. Same shape as the byte-exact ``dedup_exact``.
    """
    if keep != "min_id":
        raise ValueError("keep must be 'min_id'")
    key = fingerprint128(normalize_for_dedup(F.col(text_col)))
    survivors = (
        df.select(F.col(id_col), key.alias("_k"))
        .groupBy("_k")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, id_col, "left_semi")


def ngram_novelty(
    df: DataFrame,
    ref: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    ref_text_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Per-document n-gram novelty against a reference corpus: the
    fraction of a document's distinct word ``n``-grams NOT present
    anywhere in ``ref`` — the memorization/novelty audit run when
    admitting new data against an already-trained corpus (high overlap
    = the document teaches nothing new; near-zero novelty on an eval
    set = contamination, the per-doc scoring complement of
    :func:`~yaetl_spark.operators.dedup.decontaminate`'s hard gate).

    Returns ``(id_col, n_grams, n_known, novelty)`` — ``novelty =
    1 − n_known / n_grams`` rounded. Documents with no ``n``-gram
    (NULL/empty/whitespace text) have nothing to judge and are absent
    from the output. Grams are distinct per document and per reference
    (presence, not counts).

    Scale shape (100 TB): the reference reduces to its DISTINCT gram
    fingerprints once (bounded by reference vocabulary, broadcastable
    when small — the planner decides); documents explode to distinct
    (doc, gram-fingerprint) rows — fixed 16-byte :func:`fingerprint128`
    keys (r16, was md5 hex), never gram text — for ONE left join +
    per-doc conditional-count regroup. No window, no quadratic, no
    Python.
    """
    from .dedup import shingles

    rtc = ref_text_col or text_col

    def _grams(frame: DataFrame, col: str, *keep) -> DataFrame:
        g = F.explode(shingles(F.col(col), "word", n)).alias("_g")
        return (
            frame.select(*keep, g)
            .filter(F.col("_g") != "")
            .select(*keep, fingerprint128(F.col("_g")).alias("_gh"))
        )

    ref_grams = _grams(ref, rtc).distinct()
    doc_grams = _grams(df, text_col, F.col(id_col)).distinct()
    joined = doc_grams.join(
        ref_grams.withColumn("_known", F.lit(1)), "_gh", "left"
    )
    known = F.count(F.col("_known")).cast("bigint")
    total = F.count(F.lit(1)).cast("bigint")
    return (
        joined.groupBy(id_col)
        .agg(total.alias("n_grams"), known.alias("n_known"))
        .select(
            id_col,
            "n_grams",
            "n_known",
            F.round(
                F.lit(1.0)
                - F.col("n_known").cast("double")
                / F.col("n_grams").cast("double"),
                round_to,
            ).alias("novelty"),
        )
    )
