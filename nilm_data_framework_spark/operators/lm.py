"""Language-model-adjacent corpus statistics: vocabulary construction,
out-of-vocabulary rates, and interpolated bigram surprisal.

These are the tokenizer-prep / perplexity-proxy passes an LLM data pipeline
runs corpus-wide before training (the reference's closest analog is its
word-level BERT input prep, train_bert_single.py:62-78, which assumes a
fixed vocab; building the vocab FROM the corpus and scoring documents
against corpus-level n-gram statistics are the at-scale generalizations).

Scale shape shared by all three: corpus-level count tables are classic
word-count aggregations (one partial+final hash agg, map-side combine
absorbs the Zipf head), per-document scoring reduces occurrences to
per-doc (gram, count) FIRST (same rule as unigram_surprisal /
tfidf_top_terms in operators/text.py) so count-table joins touch
|doc × distinct-gram| rows, not raw occurrences. The vocab table is tiny
(V rows) and broadcast; the n-gram count joins are linear equi-joins on
the gram key — Zipf-hot keys are AQE skew-split territory, never N².
Document operators read a ``(doc_id, text)`` frame.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.exact_math import ratio_e4
from nilm_data_framework_spark.operators.text import tokens


def vocab_top_tokens(df: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Corpus vocabulary: the ``vocab_size`` most frequent tokens with a
    total order (count DESC, token ASC) so the cut is deterministic across
    engines and runs. Returns (tok, c).

    One hash aggregation over exploded tokens, then TakeOrderedAndProject
    for the top-V (no full sort shuffle; V is small). At 100 TB the agg is
    the scaling cost — linear, map-side combined.
    """
    counts = (
        df.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return counts.orderBy(F.col("c").desc(), F.col("tok").asc()).limit(vocab_size)


def oov_rate(df: DataFrame, vocab_size: int = 100) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus top-V vocab:
    (doc_id, n_tok, n_oov, oov_rate_e4) — the tokenizer-coverage audit run before
    committing to a vocab size. Empty documents emit no row (no tokens),
    matching the SQL unnest semantics.

    The vocab (V rows) is hint-broadcast into the membership join — V is a
    CONSTANT of the analysis (a LIMIT in the plan), not a function of
    corpus size, so the hint stays safe at any scale; the plan guard in
    tests/test_plan_quality.py exempts limit-bounded hint subtrees for
    exactly this case. Occurrences reduce to per-doc (tok, c) before the
    join.
    """
    doc_tok = (
        df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # vocab from the SAME per-doc reduction (r7: vocab_top_tokens ran a
    # second full tokenize+explode scan over the corpus — the exact
    # second-pass bigram_surprisal's docstring forbids); identical counts,
    # identical (count desc, tok) cut
    vocab = (
        doc_tok.groupBy("tok")
        .agg(F.sum("c").alias("_n"))
        .orderBy(F.col("_n").desc(), "tok")
        .limit(vocab_size)
        .select("tok")
    )
    flagged = doc_tok.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "tok", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tok"),
            F.sum(F.when(F.col("in_vocab").isNull(), F.col("c")).otherwise(F.lit(0))).alias(
                "n_oov"
            ),
        )
        .select(
            "doc_id",
            "n_tok",
            "n_oov",
            # exact 1e-4-scaled integer ratio (operators/exact_math.py):
            # immune to the cross-engine float-round trap at any scale
            ratio_e4("n_oov", "n_tok").alias("oov_rate_e4"),
        )
    )


def doc_bigrams(df: DataFrame) -> DataFrame:
    """(doc_id, w1, w2, c) — per-document adjacent-token-pair counts, built by
    zipping the token array against itself shifted by one (pure JVM HOFs,
    no shuffle) and reducing occurrences per doc."""
    toks_arr = df.select(F.col("doc_id"), tokens(F.col("text")).alias("toks"))
    pairs = (
        toks_arr.filter(F.size("toks") >= 2)
        .select(
            F.col("doc_id"),
            F.explode(
                F.zip_with(
                    F.slice("toks", 1, F.size("toks") - 1),
                    F.slice("toks", 2, F.size("toks") - 1),
                    lambda w1, w2: F.struct(w1.alias("w1"), w2.alias("w2")),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    return pairs.groupBy("doc_id", "w1", "w2").agg(F.count(F.lit(1)).alias("c"))


def bigram_surprisal(df: DataFrame) -> DataFrame:
    """Per-document average surprisal under an interpolated bigram LM
    estimated on the corpus itself: for each adjacent pair (w1, w2),

        P(w2 | w1) = 3/4 * c(w1 w2) / c(w1)  +  1/4 * c(w2) / N

    (c(·) = corpus unigram/bigram occurrence counts, N = corpus token
    count; the interpolation weights are exact rationals so the score
    replays bit-stably cross-engine). score = Σ c·(−ln P) / Σ c over the
    document's bigram positions — the perplexity-filter proxy one step up
    from the unigram version (operators/text.py:unigram_surprisal): a
    document of individually common but incoherently ordered words now
    scores high. Returns (doc_id, n_bigrams, bigram_surprisal) with the score
    rounded to 4dp; documents with < 2 tokens emit no row.

    The unigram interpolation term keeps P > 0 for every observed pair
    (c(w2) >= 1 corpus-wide by construction) — no extra smoothing floor.
    Shape: per-doc (w1, w2, c) reduction first, corpus bigram counts from
    that same reduction (sum of c — one extra linear agg, no second pass
    over text), two unigram joins, a 1-row broadcast total. All linear.
    """
    doc_bi = doc_bigrams(df)
    bi = doc_bi.groupBy("w1", "w2").agg(F.sum("c").alias("c_bi"))
    tok = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    uni = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c_uni"))
    total = uni.agg(F.sum("c_uni").alias("n_total"))

    scored = (
        doc_bi.join(bi, ["w1", "w2"])
        .join(
            uni.select(F.col("tok").alias("w1"), F.col("c_uni").alias("c_w1")), "w1"
        )
        .join(
            uni.select(F.col("tok").alias("w2"), F.col("c_uni").alias("c_w2")), "w2"
        )
        .crossJoin(F.broadcast(total))
        .withColumn(
            "p",
            (F.lit(3) * F.col("c_bi") / (F.lit(4) * F.col("c_w1")))
            + (F.col("c_w2") / (F.lit(4) * F.col("n_total"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.round(-F.sum(F.col("c") * F.log(F.col("p"))) / F.sum("c"), 4).alias(
            "bigram_surprisal"
        ),
    )


# DSIR hashed-bigram bucket count B (a design constant: the bucket-count
# tables stay ≤ B rows at any corpus size)
DSIR_BUCKETS = 1024


def dsir_importance(df: DataFrame, target_pred) -> DataFrame:
    """DSIR importance weights (Xie et al., arXiv:2302.03169): score every
    document by how much more likely its HASHED-BIGRAM profile is under the
    target distribution than under the raw corpus,

        log w(doc) = Σ_g c_g · [ ln p̂_target(b(g)) − ln p̂_raw(b(g)) ]

    with b(g) = md5-hash of the bigram into B = DSIR_BUCKETS buckets and
    Laplace-smoothed bucket MLEs p̂(b) = (n_b + 1)/(N + B). Sampling
    proportionally to w (or keeping top-w) selects raw data that LOOKS LIKE
    the target domain — the data-selection recipe behind DoReMi-era corpus
    reweighting, entirely in hashed count space (no model inference).

    ``target_pred`` is a Column predicate over ``df`` rows defining the
    target subset (e.g. a trusted source). Returns (doc_id, n_grams, log_w 4dp);
    docs with < 2 tokens emit no row.

    Scale shape: per-doc (bucket, c) reduction FIRST; the two bucket-count
    tables are ≤ B rows each (B is a design constant — broadcast-safe by
    construction, so the membership join can never blow up no matter the
    corpus size; that bounded-dimension property is WHY hashed DSIR scales
    where exact-vocab importance weighting doesn't). One extra linear agg
    builds the target counts from the same reduction. Logs are rounded at
    4dp per the repo's surprisal discipline.
    """
    doc_bi = doc_bigrams(df)
    bucket = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", "w1", "w2")), 1, 15), 16, 10
        ).cast("long"),
        F.lit(DSIR_BUCKETS),
    )
    # The target flag joins in ONCE at doc granularity, so target and raw
    # bucket counts come out of a SINGLE aggregation (a conditional sum) —
    # one count-table join downstream instead of two, and one fewer
    # re-evaluation of the explode subtree.
    target_ids = df.filter(target_pred).select("doc_id", F.lit(1).alias("_is_t"))
    flagged = (
        doc_bi.withColumn("_b", bucket)
        .groupBy("doc_id", "_b")
        .agg(F.sum("c").alias("c"))
        .join(target_ids, "doc_id", "left")
    )
    counts = flagged.groupBy("_b").agg(
        F.sum("c").alias("n_r"),
        F.sum(F.when(F.col("_is_t") == 1, F.col("c")).otherwise(0)).alias("n_t"),
    )
    # Totals get distinct names (_tot_*): Spark resolution is case-insensitive,
    # so "N_t" would collide with the joined per-bucket "n_t" column.
    totals = counts.agg(
        F.sum("n_r").alias("_tot_r"), F.sum("n_t").alias("_tot_t")
    )
    b = float(DSIR_BUCKETS)
    scored = (
        flagged.join(counts, "_b")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "_lr",
            F.log((F.col("n_t") + 1) / (F.col("_tot_t") + F.lit(b)))
            - F.log((F.col("n_r") + 1) / (F.col("_tot_r") + F.lit(b))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_grams"),
        F.round(F.sum(F.col("c") * F.col("_lr")), 4).alias("log_w"),
    )
