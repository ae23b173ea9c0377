"""End-to-end corpus curation — the document-level filter chain a
pretraining pipeline runs between raw crawl and tokenizer, in the order
the published recipes (Gopher, CCNet, RefinedWeb) apply them:

1. quality gate   — Gopher + C4 rule batteries + bigram-LM perplexity cut
2. line dedup     — cut corpus-frequent boilerplate lines from survivors
3. span dedup     — cut corpus-duplicated token runs (ExactSubstr-style)
4. exact dedup    — drop full-document duplicates: byte-exact md5
                    first, then the fuzzy-exact normalized key
                    (case/punct/whitespace folded)
5. source mixing  — per-source caps + nucleus-style top-p share cut,
                    then blend to target weights
6. dataset split  — deterministic train/val/test assignment
7. token packing  — tokenizer-aware subword estimates feed the
                    fixed-budget context-window packer

Every stage is shuffle-frugal (see each operator's docstring for the
100 TB shape) and RNG-free, so the output corpus is byte-stable across
reruns, partitionings, and engines.

Run: ``python examples/curate_corpus.py [sf_dir]``
"""

from __future__ import annotations

import os
import sys

# allow `python examples/<name>.py` straight from a checkout: put the
# repo root (the package's parent) on sys.path before importing it
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _ROOT not in sys.path:
    sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F

from yaetl_spark import get_spark
from yaetl_spark.operators import (
    c4_quality_flags,
    curriculum_shards,
    cap_per_group,
    dataset_split,
    exact_dedup,
    fleiss_kappa,
    krippendorff_alpha,
    pack_documents,
    token_count_estimate,
    gopher_quality_flags,
    line_dedup,
    mix_sources,
    ngram_perplexity,
    normalized_dedup,
    quantile_strata_sample,
    shard_minhash_dedup,
    shuffle_shards,
    strip_duplicate_spans,
    top_p_filter,
)
from yaetl_spark.plans import assert_scales


def main(spark, sf_dir: str = "/root/testdata/sf0.001"):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_raw = docs.count()

    # 0) container-level audit BEFORE any per-document work — the
    #    cheapest dedup rung at 100 TB: shard pairs whose pooled
    #    vocabulary Jaccard says "same dump re-uploaded". On a real
    #    crawl you drop the younger shard of every >0.9 pair; this
    #    synthetic corpus has vocab-similar (not duplicate) sources,
    #    so the example reports the audit instead of cutting.
    shard_pairs = shard_minhash_dedup(
        docs, "source", element="token", jaccard_threshold=0.9,
    )
    assert_scales(shard_pairs)
    n_shard_pairs = shard_pairs.count()

    # 0b) label-agreement audit of the heuristic quality raters used
    #     downstream: three length classifiers rate every doc and the
    #     Fleiss kappa says whether "long document" is even a stable
    #     label before we let it gate admission (a panel that cannot
    #     agree is measuring noise)
    def _bucket(measure, lo, hi):
        return (F.when(measure < lo, F.lit("short"))
                .when(measure < hi, F.lit("medium"))
                .otherwise(F.lit("long")))

    rated = docs.filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        F.col("doc_id").alias("item"),
        F.explode(F.array(
            _bucket(F.col("n_chars"), 500, 2000),
            _bucket(F.length("text"), 520, 1900),
            _bucket(F.length(F.replace(F.col("text"), F.lit(" "),
                                       F.lit(""))), 420, 1700),
        )).alias("label"),
    )
    rater_kappa = fleiss_kappa(rated, "item", "label").first()["kappa"]

    # 0c) the REALISTIC version of the same audit: raters abstain (the
    #     text-length rater skips short docs, the stripped rater covers
    #     half the corpus), so the panel is ragged and classic Fleiss
    #     would refuse — Krippendorff's alpha is the statistic for it
    ragged = docs.filter(
        F.col("text").isNotNull() & F.col("n_chars").isNotNull()
    ).select(
        F.col("doc_id").alias("item"),
        F.explode(F.filter(F.array(
            _bucket(F.col("n_chars"), 500, 2000),
            F.when(F.col("n_chars") >= 300,
                   _bucket(F.length("text"), 520, 1900)),
            F.when(F.col("doc_id") % 2 == 0,
                   _bucket(F.length(F.replace(F.col("text"), F.lit(" "),
                                              F.lit(""))), 420, 1700)),
        ), lambda x: x.isNotNull())).alias("label"),
    )
    rater_alpha = krippendorff_alpha(ragged, "item", "label") \
        .first()["alpha"]

    # 1) quality gate: Gopher + C4 rule batteries, both pure scan-level
    #    expressions — the two filters fuse into ONE scan pass
    quality = (
        gopher_quality_flags(
            docs, min_tokens=5, max_tokens=10_000,
            min_mean_word_len=2.0, max_mean_word_len=12.0,
            max_punct_ratio=0.25, min_stopword_kinds=0,
        )
        .filter(F.col("gopher_pass"))
        .select(*docs.columns)
    )
    quality = (
        c4_quality_flags(
            quality, min_terminal_punct_ratio=0.0, min_sentences=0,
            min_words_per_line=1.0,
        )
        .filter(
            F.col("flag_no_lorem") & F.col("flag_no_braces")
            & F.col("flag_no_javascript")
        )
        .select(*docs.columns)
    )
    # LM-perplexity cut: drop the most improbable tail (CCNet-style).
    # The corpus-trained bigram model keeps this self-contained.
    ppl = ngram_perplexity(quality.select("doc_id", "text"))
    cut = ppl.approxQuantile("ppl", [0.98], 0.001)[0]
    quality = quality.join(
        ppl.filter(F.col("ppl") <= cut).select("doc_id"), "doc_id", "left_semi"
    )

    # 2) corpus-level boilerplate removal. This synthetic corpus is
    #    single-line, so segment each doc into 3-token pseudo-lines
    #    first (real crawls skip this and use the default sep="\n"):
    #    any segment recurring across the corpus is boilerplate.
    toks = F.split(F.col("text"), " ")
    k = F.ceil(F.size(toks) / F.lit(3.0)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(1), k),
        lambda i: F.concat_ws(" ", F.slice(toks, (i - 1) * 3 + 1, 3)),
    )
    lined = quality.withColumn("text", F.array_join(segs, "\n"))
    deduped_lines = (
        line_dedup(lined, max_occurrences=1, drop_empty=True)
        .drop("n_lines")
        .withColumn("text", F.replace(F.col("text"), F.lit("\n"), F.lit(" ")))
        .withColumn("n_chars", F.length("text"))
    )

    # 3) duplicated-span removal: cut every corpus-repeated 12-token run
    #    (broadcast hot-set tag + per-doc island merge; see the
    #    duplicate_spans docstring)
    despanned = strip_duplicate_spans(
        deduped_lines.select("doc_id", "text"), k=12, min_occurrences=2,
    ).drop("n_tokens", "n_removed").join(
        deduped_lines.drop("text"), "doc_id")

    # 4) whole-document dedup ladder: byte-exact md5 keepers first,
    #    then the fuzzy-exact rung — documents equal up to case/
    #    punctuation/whitespace collapse to one survivor
    keepers = exact_dedup(despanned, text_col="text", id_col="doc_id")
    uniq = despanned.join(keepers, "doc_id", "left_semi")
    uniq = normalized_dedup(uniq, text_col="text", id_col="doc_id")
    # materialize the curated table once before the selection stages —
    # exactly where a production pipeline writes it out. Every stage
    # below (and its count) then plans against this leaf instead of
    # re-deriving the full quality+dedup ladder per action; without it
    # the ladder's plan is re-optimized for each downstream action and
    # driver-side planning dominates the example's wall-clock.
    uniq = uniq.localCheckpoint()

    # 5) source mixing: first a hard per-source cap (no domain may
    #    dominate), then blend three named sources to 50/30/20 target
    #    weights — the largest feasible corpus at those proportions,
    #    deterministic hash sampling, the stream never shuffles
    # hard per-source count cap, then the nucleus cut: within each
    #    source keep the largest docs covering 90% of its characters
    capped = cap_per_group(uniq, "source", "doc_id", n=20)
    capped = top_p_filter(capped, "source", "n_chars", 0.9, "doc_id")
    capped = capped.filter(
        ~F.col("source").isin("src0", "src1", "src2")
    ).unionByName(
        mix_sources(capped, {"src0": 0.5, "src1": 0.3, "src2": 0.2})
    )

    # 5b) value-aware downsampling: keep everything in the top length
    #     quartile, thin the lower quartiles deterministically — the
    #     quantile-stratified cousin of the per-source caps above
    capped = quantile_strata_sample(
        capped, "n_chars", "doc_id", rates=[0.5, 0.7, 0.9, 1.0],
        exact=True,
    )

    # 6) stable train/val/test split
    final = dataset_split(capped, "doc_id", weights=(0.9, 0.05, 0.05))
    counts = {
        r["split"]: r["count"]
        for r in final.groupBy("split").count().collect()
    }

    # 7) context-window packing by ESTIMATED tokens: the packer needs
    #    subword counts, not word counts (a packing plan built on word
    #    counts overflows windows on long/rare-word documents) — the
    #    tokenizer-aware estimate is a pure scan fold, then one
    #    bucketed window assigns budget-sized packs
    train = final.filter(F.col("split") == "train").withColumn(
        "n_tokens_est", token_count_estimate(F.col("text")))
    packed = pack_documents(
        train, budget=1024, token_col="n_tokens_est", id_col="doc_id",
        num_buckets=8)
    n_packs = packed.select("bucket", "pack_id").distinct().count()

    # 8) export shuffle: a seeded, reproducible global permutation into
    #    N shards — (shard, pos) define the training order bit-stably
    #    across reruns/engines, with ONE shuffle (no orderBy(rand())).
    #    Production writes with .repartition(n, 'shard')
    #    .sortWithinPartitions('pos').write.partitionBy('shard').
    sharded = shuffle_shards(train, "doc_id", num_shards=4, salt=7)
    n_shards_used = sharded.select("shard").distinct().count()

    # 9) curriculum export: the ORDERED sibling — shard boundaries
    #    partition the global perplexity order (easy→hard) from an
    #    equidepth-summary pass, deterministically and with no global
    #    sort; (shard, pos) again define the write order bit-stably.
    #    The input is checkpointed first: the operator makes two passes
    #    (summary, then assignment), and re-deriving the whole ladder
    #    above per pass would pay its plan twice (a production run
    #    would equally score from the WRITTEN curated table).
    cur_in = train.join(ppl, "doc_id").localCheckpoint()
    cur = curriculum_shards(cur_in, "ppl", num_shards=4,
                            buckets=64, summary_partitions=8)
    n_cur_shards = cur.select("shard").distinct().count()

    return (n_raw, quality.count(), uniq.count(), capped.count(), counts,
            n_shard_pairs, rater_kappa, rater_alpha, n_packs,
            n_shards_used, n_cur_shards)


if __name__ == "__main__":
    spark = get_spark(app_name="curate-example", shuffle_partitions=8)
    (raw, q, u, c, splits, pairs, kappa, alpha, packs, shards,
     cur_shards) = main(spark, *(sys.argv[1:2]))
    print(f"raw={raw} quality={q} unique={u} capped={c} splits={splits} "
          f"near_dup_shard_pairs={pairs} rater_kappa={kappa} "
          f"ragged_rater_alpha={alpha} train_packs={packs} "
          f"export_shards={shards} curriculum_shards={cur_shards}")
