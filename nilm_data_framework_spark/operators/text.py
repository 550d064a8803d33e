"""Text analysis operators for large-scale training-data pipelines
(SURVEY.md §2.10; BASELINE.json north_star).

All hot-path expressions are JVM-side built-ins (split/regexp/aggregate/
filter over arrays) — no Python UDFs — so they whole-stage-codegen and scale
to 100 TB document corpora. Shapes mirror what C4/RefinedWeb-style pipelines
compute per document. Document operators read a ``(doc_id, text)`` frame.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nilm_data_framework_spark.layouts import partitioned_writer
from nilm_data_framework_spark.materialize import pinned
from nilm_data_framework_spark.operators.exact_math import ratio_e4

# The two fixed schemas of the write_bm25_index layout (doc_id is an integer
# id). Every reader of the layout passes them: an inferred read runs a
# one-task footer job per directory, 60-80 ms of a probe on a 4-core host.
BM25_POSTINGS_SCHEMA = "doc_id long, tf long, dl long, term string"
BM25_STATS_SCHEMA = "n_docs long, sum_dl long"
# Okapi BM25 parameters (the Lucene defaults)
BM25_K1 = 1.2
BM25_B = 0.75

# Tiny per-language stopword lists for the n-gram/stopword language-ID
# heuristic. Deterministic, dependency-free; replace with fastText at deploy.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "fr": ["le", "la", "de", "et", "les", "des", "un", "une", "que", "pour"],
    "de": ["der", "die", "das", "und", "ist", "von", "den", "mit", "für", "auf"],
    "es": ["el", "la", "de", "que", "y", "los", "las", "un", "una", "por"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "他"],
}


def tokens(text: Column) -> Column:
    """Whitespace tokenization of lowercased text (empty tokens removed)."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """BPE-ish token estimate: count word pieces + digits + punctuation runs
    via a GPT-2-style pre-tokenizer regexp. An upper-bound proxy for LLM
    token budgeting without shipping a tokenizer to executors."""
    pieces = F.regexp_extract_all(
        F.lower(text), F.lit(r"([a-z]+|[0-9]|[^a-z0-9\s]+)"), F.lit(1)
    )
    return F.size(pieces)


def quality_features(df: DataFrame) -> DataFrame:
    """Per-document quality signals: char/token counts, mean token length,
    punctuation ratio, stopword ratio, uppercase ratio, repetition ratio
    (distinct-token fraction). Gopher/C4-style filters are thresholds over
    these columns."""
    # token-derived counts computed in ONE pass over a let-bound token array
    # (see word_ngrams on why re-referencing tokens() is quadratic).
    sw = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    tok_feats = F.transform(
        F.array(tokens(F.col("text"))),
        lambda tk: F.struct(
            F.size(tk).alias("n_tok"),
            F.size(F.array_distinct(tk)).alias("n_distinct"),
            F.size(F.filter(tk, lambda t: F.array_contains(sw, t))).alias("stop_hits"),
        ),
    )[0]
    n_char = F.length(F.col("text"))
    punct = F.length(F.regexp_replace(F.col("text"), r"[^.,;:!?]", ""))
    upper = F.length(F.regexp_replace(F.col("text"), r"[^A-Z]", ""))
    with_feats = df.withColumn("_tf", tok_feats)
    n_tok = F.col("_tf.n_tok")
    return with_feats.select(
        *df.columns,
        n_char.alias("q_chars"),
        n_tok.alias("q_tokens"),
        F.when(n_tok > 0, (n_char.cast("double") / n_tok)).otherwise(0.0).alias(
            "q_mean_token_len"
        ),
        F.when(n_char > 0, punct.cast("double") / n_char).otherwise(0.0).alias(
            "q_punct_ratio"
        ),
        F.when(n_char > 0, upper.cast("double") / n_char).otherwise(0.0).alias(
            "q_upper_ratio"
        ),
        F.when(n_tok > 0, F.col("_tf.stop_hits").cast("double") / n_tok)
        .otherwise(0.0)
        .alias("q_stopword_ratio"),
        F.when(n_tok > 0, F.col("_tf.n_distinct").cast("double") / n_tok)
        .otherwise(F.lit(0.0))
        .alias("q_distinct_token_ratio"),
    )


def language_id(df: DataFrame) -> DataFrame:
    """Language-ID into column ``lang_pred``: argmax stopword score; ties
    keep the FIRST language in STOPWORDS dict INSERTION order (en, fr, de,
    es, zh — NOT sorted; the DuckDB oracle replays the same precedence,
    and the r3 driver hash is frozen on it, so extending STOPWORDS must
    append, never reorder); zero evidence → 'und'. Pure column expressions; tokenization
    let-bound once (see word_ngrams)."""
    col = F.col("text")
    word_langs = [(lang, ws) for lang, ws in STOPWORDS.items() if lang != "zh"]

    def contains(ws: list[str]):
        arr = F.array(*[F.lit(w) for w in ws])
        # closure, not a default arg: pyspark binds lambda variables by
        # parameter count, so `lambda t, arr=...` would receive (elem, idx).
        return lambda t: F.array_contains(arr, t)

    structs = F.transform(
        F.array(tokens(col)),
        lambda tk: F.array(
            *[
                F.struct(
                    F.size(F.filter(tk, contains(ws))).cast("double").alias("score"),
                    F.lit(lang).alias("lang"),
                )
                for lang, ws in word_langs
            ]
            + [
                F.struct(
                    F.size(
                        F.filter(
                            F.array(*[F.lit(w) for w in STOPWORDS["zh"]]),
                            lambda w: F.instr(col, w) > 0,
                        )
                    )
                    .cast("double")
                    .alias("score"),
                    F.lit("zh").alias("lang"),
                )
            ]
        ),
    )[0]
    # explicit reduce so equal scores keep the FIRST language in dict order.
    winner = F.aggregate(
        structs,
        F.struct(F.lit(-1.0).alias("score"), F.lit("und").alias("lang")),
        lambda acc, s: F.when(s["score"] > acc["score"], s).otherwise(acc),
    )
    return df.withColumn(
        "lang_pred", F.when(winner["score"] > 0, winner["lang"]).otherwise(F.lit("und"))
    )


def fingerprint(df: DataFrame) -> DataFrame:
    """Document fingerprint ``fp``: md5 of the whitespace/case-normalized
    text. md5 is identical across Spark and DuckDB → oracle-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    return df.withColumn("fp", F.md5(norm))


def word_ngrams(text: Column, n: int) -> Column:
    """Distinct word n-grams (shingles) of lowercased text, as an array of
    space-joined strings. Built-ins only: transform over token positions.

    The tokenization is bound ONCE via a single-element-array transform (a
    "let" in expression form). Referencing ``tokens(text)`` directly inside
    the position lambda re-evaluates the split+filter per gram — O(tokens²)
    interpreted-lambda calls per row, which measured ~5 s over a 5k-doc
    scan vs ~0.5 s bound.

    Exactly :func:`word_ngrams_all` deduped — array_distinct outside the
    single-element let-array commutes with the flatten, and first-
    occurrence order is preserved either way."""
    return F.array_distinct(word_ngrams_all(text, n))


def word_ngrams_all(text: Column, n: int) -> Column:
    """ALL word n-gram occurrences (repeats kept) — the counting twin of
    :func:`word_ngrams` for repetition statistics. Same one-shot token
    let-binding."""
    grams_of = lambda tk: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.size(tk) - n),
        lambda i: F.array_join(F.slice(tk, i + 1, n), " "),
    )
    return F.flatten(
        F.transform(
            F.array(tokens(text)),
            lambda tk: F.when(F.size(tk) >= n, grams_of(tk)).otherwise(
                F.array().cast("array<string>")
            ),
        )
    )


def doc_chunks(df: DataFrame) -> DataFrame:
    """RAG-style chunking: overlapping ``size`` = 16-token windows every
    ``stride`` = 8 tokens, carrying provenance — (doc_id, chunk_idx, start_tok,
    n_tok, chunk_text). The retrieval-prep twin of the model-input windows
    (W4 sliding_windows works on numeric series; this is its text-column
    counterpart feeding chunk embedding + indexing). The final chunks may
    be shorter than ``size`` (the tail is never dropped); empty documents
    emit no chunk.

    Pure per-row HOFs (sequence → slice → array_join) + one posexplode —
    a narrow 1→N map with NO shuffle at any scale; output fan-out is
    ~n_tok/stride rows per doc. Downstream embedding/indexing partitions
    by (doc_id, chunk_idx) — provenance is in the row, so no join back to
    the parent doc is ever needed.
    """
    size, stride = 16, 8
    toks_of = lambda tk: F.transform(  # noqa: E731
        F.filter(
            F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(stride)),
            lambda s: s <= F.size(tk),
        ),
        lambda s: F.struct(
            s.alias("start_tok"),
            F.least(F.lit(size), F.size(tk) - s + 1).alias("n_tok"),
            F.array_join(F.slice(tk, s, size), " ").alias("chunk_text"),
        ),
    )
    chunked = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.flatten(F.transform(F.array(tokens(F.col("text"))), toks_of))
        ).alias("chunk_idx", "ch"),
    )
    return chunked.select(
        "doc_id",
        "chunk_idx",
        F.col("ch.start_tok").alias("start_tok"),
        F.col("ch.n_tok").alias("n_tok"),
        F.col("ch.chunk_text").alias("chunk_text"),
    )


def tfidf_top_terms(df: DataFrame) -> DataFrame:
    """Top-3 characteristic terms per document by tf·idf.

    idf is the RATIONAL form (N + 1) / (df + 1) rather than its log: IEEE
    division of identical integers is bit-identical across engines, while
    ln() is correctly-rounded nowhere — the log form cannot be hash-checked
    against another engine. Monotone in df, so rankings match the log form
    whenever tf ties don't interleave.

    Scale shape: explode → two hash aggregations (term-frequency per doc,
    document-frequency per term) → broadcast of the single-row N, AQE-chosen
    strategy for the term-dictionary join (vocab scales with the corpus) →
    per-doc row_number top-k.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col("doc_id").alias("id"), F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        # vocabulary grows with the corpus (could be GBs at 100 TB) — the
        # term-dictionary join strategy is AQE's call, not a forced hint.
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (F.col("n_docs") + 1).cast("double")
            / (F.col("df") + 1).cast("double"),
        )
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(F.col("id").alias("doc_id"), "term", "tf", "df", "tfidf", "rk")
    )


def ngram_overlap_pairs(train: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Eval-set decontamination: (train_id, eval_id, n_shared) pairs where a
    training document shares >= 2 distinct word 3-grams with an
    eval/benchmark document — the contamination screen every serious LLM
    data pipeline runs before training (the n-gram-collision method used for
    GPT-3/PaLM-style eval decontamination).

    Scale shape: explode distinct n-grams per side, hash each gram to 64
    bits (md5 prefix — shuffles 8 bytes instead of arbitrary-length
    strings), inner-join on the hash, count distinct hashes per (train,
    eval) pair. Cost is bounded by collision volume, not |train| × |eval|:
    only grams that actually occur on both sides produce join rows. The
    gram hash join key is uniform (cryptographic hash), so no skew surface
    beyond genuinely ubiquitous grams — mitigate those by raising the gram
    length (standard practice: 8-13 gram windows at production scale; 3
    keeps the gate-scale fixture non-vacuous).
    """
    from nilm_data_framework_spark.operators.dedup import _md5_64

    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return df.select(
            F.col("doc_id").alias(out_id),
            F.explode(word_ngrams(F.col("text"), 3)).alias("_g"),  # already distinct
        ).select(out_id, _md5_64(F.col("_g")).alias("_h"))

    tg, eg = grams(train, "train_id"), grams(eval_df, "eval_id")
    return (
        tg.join(eg, "_h")
        .groupBy("train_id", "eval_id")
        .agg(F.countDistinct("_h").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


def repetition_scores(df: DataFrame) -> DataFrame:
    """Gopher-style intra-document repetition signals: for word bigrams,
    ``dup_frac`` = fraction of gram occurrences that are repeats of an
    earlier gram (1 - distinct/total) and ``top_frac`` = occupancy of the
    single most-frequent gram. Filtering on these catches boilerplate /
    template / keyboard-mash documents that perplexity-free pipelines
    (Gopher §A1.1, RefinedWeb) drop before training.

    Shape: explode grams → (doc, gram) count → per-doc aggregate. Two hash
    aggregations, both keyed on (doc, gram) / doc — linear, no skew beyond
    genuinely giant documents (bound those upstream with a length cap).
    """
    g = df.select(
        F.col("doc_id"),
        F.explode(word_ngrams_all(F.col("text"), 2)).alias("g"),
    )
    per_gram = g.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return (
        per_gram.groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_grams"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_c"),
        )
        .select(
            "doc_id",
            "n_grams",
            # exact 1e-4-scaled integer ratios (operators/exact_math.py):
            # dup_frac = (occurrences that repeat an earlier gram) / total
            ratio_e4("n_grams - n_distinct", "n_grams").alias("dup_frac_e4"),
            ratio_e4("top_c", "n_grams").alias("top_frac_e4"),
        )
    )


# word n-gram length of the boilerplate pair frequent_ngrams →
# boilerplate_coverage (the coverage pass must gram like the detector)
BOILERPLATE_N = 3


def frequent_ngrams(df: DataFrame) -> DataFrame:
    """Cross-document boilerplate phrase detection — the phrase-level analog
    of C4's repeated-line removal (C4 drops any line occurring >= 3 times in
    the corpus; here the unit is a word BOILERPLATE_N-gram because the
    corpus has no line structure): returns the 63-bit hash of every
    distinct gram that occurs in at least 3 distinct documents, with its
    document frequency.

    Scale shape: explode per-doc DISTINCT grams (so the count IS document
    frequency — no countDistinct needed), hash each gram to 8 bytes before
    the shuffle (the gram text never crosses the wire), one partial+final
    hash aggregation on the hash, HAVING filter. Linear in corpus token
    count; the aggregation key is a cryptographic hash, so no skew surface.
    """
    from nilm_data_framework_spark.operators.dedup import _md5_64

    g = df.select(
        F.col("doc_id"),
        # distinct per doc
        F.explode(word_ngrams(F.col("text"), BOILERPLATE_N)).alias("_g"),
    )
    return (
        g.select(_md5_64(F.col("_g")).alias("gram_h"))
        .groupBy("gram_h")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= 3)
    )


def boilerplate_coverage(df: DataFrame, frequent: DataFrame) -> DataFrame:
    """Per-document boilerplate coverage against a frequent-gram set from
    :func:`frequent_ngrams`: how many of the document's distinct
    BOILERPLATE_N-grams
    are corpus-frequent, and the coverage ratio — the per-doc score a C4-
    style cleaner thresholds on before dropping/trimming boilerplate-heavy
    documents.

    Scale shape: one explode + hash join on the 8-byte gram hash + one
    aggregation keyed on the doc id. The frequent set grows with the corpus
    (it is NOT broadcast-hinted — AQE decides from its actual size); the
    join is hash-keyed and uniform. Documents with fewer than BOILERPLATE_N tokens
    produce no grams and are absent from the output by construction.
    """
    from nilm_data_framework_spark.operators.dedup import _md5_64

    g = df.select(
        F.col("doc_id"),
        F.explode(word_ngrams(F.col("text"), BOILERPLATE_N)).alias("_g"),
    ).select(F.col("doc_id"), _md5_64(F.col("_g")).alias("gram_h"))
    flagged = g.join(
        frequent.select("gram_h", F.lit(1).alias("_b")), "gram_h", "left"
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.coalesce(F.sum("_b"), F.lit(0)).alias("n_boiler"),
        )
        .withColumn(
            # exact 1e-4-scaled integer ratio (operators/exact_math.py)
            "boiler_ratio_e4", ratio_e4("n_boiler", "n_grams")
        )
    )


# PII patterns kept to syntax valid in BOTH Java regex (Spark) and RE2
# (DuckDB) so the oracle replays the exact redaction.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ip": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def redact_pii(df: DataFrame) -> DataFrame:
    """PII scrub: mask emails and IPv4 literals with typed placeholders and
    count occurrences per document — the pre-training privacy pass (C4 and
    most production pipelines run exactly this shape; real deployments add
    more pattern families, NER-based names, etc. — same plan, more rows in
    PII_PATTERNS).

    Pure JVM regexp expressions (no Python): counts via regexp_count, masks
    via chained regexp_replace. Narrow projection — preserves partitioning,
    zero shuffle at any scale. All columns other than ``text`` pass through
    unchanged (a pipeline stage must not drop the metadata travelling with
    the document), so composed pipelines never need a join-back on id.

    COUNTING SEMANTICS: n_emails/n_ips count matches in the ORIGINAL
    text, while masking applies sequentially (emails first) — an IP
    literal nested inside a matched email (``user@1.2.3.4.com``) is
    counted as an IP but disappears inside <EMAIL>, so counts are match
    counts, NOT placeholder-occurrence counts in ``redacted``. The DuckDB
    oracle replays the same original-text counting; audits reconciling
    counts against placeholders must account for nesting.
    """
    email, ip = PII_PATTERNS["email"], PII_PATTERNS["ip"]
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), ip, "<IP>"
    )
    passthrough = [c for c in df.columns if c != "text"]
    return df.select(
        *passthrough,
        F.regexp_count(F.col("text"), F.lit(email)).alias("n_emails"),
        F.regexp_count(F.col("text"), F.lit(ip)).alias("n_ips"),
        redacted.alias("redacted"),
    )


def token_pair_counts(df: DataFrame, min_count: int = 2) -> DataFrame:
    """Corpus-wide adjacent-token-pair frequencies — the inner loop of BPE
    tokenizer training (one merge iteration scores every adjacent pair and
    merges the argmax; training a tokenizer ON the corpus is a standard
    pre-training step the reference never needed, word-level BERT inputs at
    train_bert_single.py:62-78 being its closest analog). Returns
    (pair, n_occurrences, n_docs) for pairs seen ``min_count``+ times.

    Scale shape: one explode of per-doc bigram arrays (repeats kept —
    occurrence counting, :func:`word_ngrams_all`) and ONE partial+final hash
    aggregation. The hottest pairs ("of the") are exactly the ones map-side
    combine absorbs: every task emits each pair at most once per partition,
    so reducer skew is bounded by n_partitions, not pair frequency. Linear
    in corpus token count; no join anywhere.
    """
    pairs = df.select(F.explode(word_ngrams_all(F.col("text"), 2)).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


def unigram_surprisal(df: DataFrame) -> DataFrame:
    """Per-document mean token surprisal −Σc·ln p(w) / Σc under the corpus's
    own unigram MLE — the perplexity-style quality score (CCNet/Gopher rank
    documents by LM perplexity; a unigram LM keeps it closed-form and
    cross-engine replayable, no KenLM shipping). Low = stopword-heavy
    mainstream text, high = rare-token soup (gibberish, boilerplate codes).
    Returns (doc_id, n_tok_doc, surprisal) with surprisal rounded to 4dp.

    Scale shape: tokens reduce to per-doc (token, count) FIRST (one agg),
    so the vocabulary join touches |doc×distinct-token| rows, not raw token
    occurrences; the corpus-total is a 1-row broadcast (same rule as tf-idf's
    corpus count). The vocab join key is Zipf-skewed ("the" appears in every
    doc) — that join is AQE-decided and AQE skew-split handles the hot keys;
    the vocab table itself grows ~log with the corpus, never hint-broadcast.
    """
    tok = df.select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
    doc_tok = tok.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("c"))
    vocab = doc_tok.groupBy("tok").agg(F.sum("c").alias("n_tok"))
    total = vocab.agg(F.sum("n_tok").alias("n_total"))
    scored = doc_tok.join(vocab, "tok").crossJoin(F.broadcast(total))
    return scored.groupBy("doc_id").agg(
        F.sum("c").alias("n_tok_doc"),
        F.round(
            -F.sum(F.col("c") * F.log(F.col("n_tok") / F.col("n_total")))
            / F.sum("c"),
            4,
        ).alias("surprisal"),
    )


# Fixed inference weights for the quality-classifier score: a logistic model
# over the quality_features signals (the shape of fastText/DCLM-style
# quality classifiers at the filtering stage — training happens offline;
# the PIPELINE op is vectorized inference over every document). Literal
# rationals so the score replays bit-stably cross-engine.
QUALITY_CLF_WEIGHTS: dict[str, float] = {
    "q_stopword_ratio": 4.0,
    "q_distinct_token_ratio": 2.0,
    "q_punct_ratio": -6.0,
    "q_upper_ratio": -2.0,
    "q_mean_token_len": -0.25,
}
QUALITY_CLF_BIAS: float = 0.5


def quality_classifier_score(df: DataFrame) -> DataFrame:
    """Model-based quality filtering, inference side: sigmoid(w·x + b) over
    the :func:`quality_features` signals with fixed offline-trained weights
    — the FineWeb-Edu/DCLM-style classifier gate (reference analog: the
    BERT *data* path stops at features; classifier filtering is the LLM-
    pipeline extension). Returns (doc_id, quality_score, keep) with keep =
    score ≥ 0.5.

    Scale shape: pure narrow column arithmetic over the feature projection —
    no shuffle, no Python, whole-stage-codegen end to end; the weight vector
    is a plan literal. At 100 TB this is a map-only pass, the cheapest
    possible filtering stage.
    """
    feats = quality_features(df)
    z = F.lit(QUALITY_CLF_BIAS)
    for c, w in QUALITY_CLF_WEIGHTS.items():
        z = z + F.lit(w) * F.col(c)
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        F.col("doc_id"),
        F.round(score, 4).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


def inverted_index(df: DataFrame, top_terms: int = 50) -> DataFrame:
    """Posting-list inverted index summary: per term, document frequency,
    total term frequency, and an md5 digest of the sorted posting list.

    The digest stands in for the posting list itself so the result stays
    driver-hashable (arrays crashed the r3 canonicalizer) while still
    pinning the EXACT membership and order of every posting. Plan: one
    token explode → (term, doc) hash agg (map-side combined) → per-term
    hash agg; the only sort is inside ``sort_array`` on each term's ≤|docs|
    posting set, and the top-``top_terms`` cut is TakeOrderedAndProject.
    At 100 TB the digest column becomes a bucketed-by-term postings WRITE
    (each term's list is already grouped); the digest form is the gate.
    """
    tok = df.select(
        F.col("doc_id").alias("_doc"), F.explode(tokens(F.col("text"))).alias("tok")
    )
    # ONE exchange for BOTH aggregations: hash-partitioning by tok alone
    # also satisfies the (tok, _doc) clustering, so the tf agg AND the
    # per-term posting agg run on the same layout with no second shuffle.
    # Trade (measured in the plan): the shuffle carries raw token rows
    # (~1.0× tokens) instead of two combined exchanges (~0.65× tokens
    # EACH for natural text, where most terms appear once per doc), and
    # every aggregate stays in one stage. Cost: Zipf head terms hash to
    # one reducer — the standard lever is a stopword/df-cap filter before
    # the repartition (any posting-list build ultimately funnels each
    # term's df to one place regardless of strategy).
    per_doc = (
        tok.repartition("tok").groupBy("tok", "_doc").agg(F.count(F.lit(1)).alias("tf"))
    )
    idx = per_doc.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("tf").cast("long").alias("tf_total"),
        F.md5(F.concat_ws(",", F.sort_array(F.collect_set("_doc")))).alias(
            "posting_md5"
        ),
    )
    return idx.orderBy(F.col("df").desc(), "tok").limit(top_terms)


def _term_tf(term: str) -> Column:
    """Exact tf of one literal term over a let-bound ``_toks`` column."""

    def eq_term(t: Column) -> Column:
        return t == F.lit(term)

    return F.size(F.filter("_toks", eq_term)).cast("long").alias(f"tf_{term}")


def _check_terms(terms: list[str]) -> None:
    """Query terms are spliced into column names (``tf_<t>``/``df_<t>``)
    and SQL text (the score, the per-term aggregates, the term ``IN``
    list) — a term that is not a bare lowercase identifier (apostrophes,
    dots, hyphens: all producible by whitespace tokenization of real
    queries) would break parsing or resolve as a struct access, and
    duplicates create ambiguous columns. Reject both up front with a
    clear error."""
    import re

    bad = [t for t in terms if not re.fullmatch(r"[a-z0-9_]+", t)]
    if bad:
        raise ValueError(
            f"BM25 query terms must match [a-z0-9_]+ (they become column "
            f"names and SQL text): {bad!r}"
        )
    if len(set(terms)) != len(terms):
        raise ValueError(f"duplicate BM25 query terms: {terms!r}")


def bm25_scores(df: DataFrame, terms: list[str]) -> DataFrame:
    """Okapi BM25 scoring of every ``(doc_id, text)`` document against a
    fixed term query (Robertson & Zaragoza 2009; the Lucene/Elasticsearch
    default ranking function — the lexical-retrieval half of a RAG stack,
    beside the ANN family):

        score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl))
        idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))      (Lucene form, ≥ 0)

    Cross-engine determinism: per-term tf and dl are exact integers
    computed per row (no shuffle — size(filter(tokens))); N, df_t and
    Σdl come from ONE single-row corpus aggregate broadcast back; the
    float score is then evaluated in a FIXED term order (t1 + t2 + …,
    conditional columns — never a shuffled float sum), so both engines
    execute the identical IEEE op sequence. Ranking downstream must order
    by the RAW score (bit-stable) with an id tiebreak, not the rounded
    display value.

    Scale shape: a map-only pass over the corpus + one count-sized agg —
    the cheapest retrieval primitive there is. At 100 TB the per-(term,
    doc) postings come from the inverted index instead of re-tokenizing
    (see ``inverted_index``); this form is the gate because it keeps the
    whole computation in two scans with zero Python.

    Returns (doc_id, dl, tf_<term>..., bm25) with bm25 rounded 4dp for
    display and ``bm25_raw`` kept for deterministic ordering. k1 and b are
    BM25_K1 / BM25_B."""
    _check_terms(terms)
    toks = df.select(
        F.col("doc_id"), tokens(F.col("text")).alias("_toks")
    ).select(
        F.col("doc_id"),
        F.size("_toks").cast("long").alias("dl"),
        # NOTE: term filters are built by a def-closure factory, never a
        # default-arg lambda — pyspark binds HOF lambda vars by parameter
        # count, so `lambda t, _term=x:` would be misread as (elem, index).
        *[_term_tf(t_) for t_ in terms],
    )
    stats = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[
            F.sum((F.col(f"tf_{t_}") > 0).cast("long")).cast("long").alias(f"df_{t_}")
            for t_ in terms
        ],
    )
    return toks.crossJoin(F.broadcast(stats)).selectExpr(*_bm25_output(terms))


def _bm25_score_expr(terms: list[str]) -> str:
    """The BM25 score over (dl, tf_<t>..., n_docs, sum_dl, df_<t>...)
    columns as SQL text — shared so the full-scan path (bm25_scores) and
    the inverted-index path (bm25_topk_indexed) execute the IDENTICAL
    fixed-order IEEE op sequence: bit-equal scores are what let the
    indexed probe share the full-scan DuckDB oracle. Constants are ``D``
    double literals (a bare ``0.0`` is a DECIMAL in Spark SQL); the terms
    passed :func:`_check_terms`, so splicing them into the text is safe."""
    avgdl = "CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE)"
    score = "0D"
    for t_ in terms:
        idf = (
            f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{t_} AS DOUBLE) + 0.5)"
            f" / (CAST(df_{t_} AS DOUBLE) + 0.5))"
        )
        tf = f"CAST(tf_{t_} AS DOUBLE)"
        denom = (
            f"{tf} + {BM25_K1!r}D * ({1.0 - BM25_B!r}D + {BM25_B!r}D"
            f" * (CAST(dl AS DOUBLE) / ({avgdl})))"
        )
        score = f"({score}) + ({idf}) * (({tf} * {BM25_K1 + 1.0!r}D) / ({denom}))"
    return score


def _bm25_output(terms: list[str]) -> list[str]:
    """The ``selectExpr`` list of both BM25 paths: (doc_id, dl, tf_<t>...,
    bm25_raw, bm25 rounded 4dp)."""
    score = _bm25_score_expr(terms)
    return [
        "doc_id",
        "dl",
        *[f"tf_{t_}" for t_ in terms],
        f"{score} AS bm25_raw",
        f"round({score}, 4) AS bm25",
    ]


def _doc_tokens(df: DataFrame) -> DataFrame:
    """``(doc_id, _toks, dl)``: each document's token array and length."""
    return df.select("doc_id", tokens(F.col("text")).alias("_toks")).select(
        "doc_id", F.col("_toks"), F.size("_toks").cast("long").alias("dl")
    )


def _write_postings(toks: DataFrame, path: str, mode: str) -> None:
    """Write the (term, doc_id) postings of a :func:`_doc_tokens` frame —
    ``(doc_id, tf, dl)`` partitioned by term — into ``{path}/postings``."""
    postings = (
        toks.select("doc_id", "dl", F.explode("_toks").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"), F.first("dl").alias("dl"))
    )
    partitioned_writer(postings, ["term"]).mode(mode).parquet(f"{path}/postings")


def write_bm25_index(df: DataFrame, path: str) -> None:
    """Persist the inverted-index layout ``bm25_scores``' docstring (and
    the RAG pipeline's 100 TB note) promises — the lexical twin of the
    persisted LSH reference and the cid-partitioned IVF corpus:

    - ``{path}/postings``: (doc_id, tf, dl) PARTITIONED BY term — a query
      touching q terms reads q directories (parquet partition pruning),
      never the corpus. dl is denormalized into the posting so scoring
      needs no doc-length join.
    - ``{path}/stats``: one row (n_docs, sum_dl) — the corpus-wide
      constants; per-term df is exactly the pruned partitions' row counts,
      so it needs no precomputation.

    ``df`` carries ``(doc_id, text)``. The postings go through
    ``layouts.partitioned_writer``: one file per term directory, written
    by as few tasks as AQE packs the terms into.
    Reference analog: none (pure retrieval-infrastructure extension).
    """
    _write_postings(_doc_tokens(df), path, "overwrite")
    # Stats WITHOUT a second tokenize pass (r9 optimization round, guide
    # §1.2 step 1): the old form re-ran the tokenize scan for the 2-value
    # aggregate — at 100 TB that is a second full pass over the corpus
    # text. Instead: n_docs is a column-pruned count of the input frame
    # (no tokenization; docs with zero tokens ARE rows of df, so the
    # count is identical to counting toks), and sum_dl = SUM(tf) over the
    # postings JUST WRITTEN — exact, because a doc's tf summed over its
    # distinct terms is its token count dl (integer arithmetic, no
    # rounding). The explicit read schema keeps the EMPTY-corpus case
    # working (a 0-row partitioned write leaves no files to infer from);
    # coalesce keeps sum_dl = 0, not NULL, there — the append_bm25_batch
    # contract.
    spark = df.sparkSession
    n_docs = df.count()
    spark.read.schema(BM25_POSTINGS_SCHEMA).parquet(f"{path}/postings").agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.coalesce(F.sum("tf"), F.lit(0)).cast("long").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{path}/stats")


def append_bm25_batch(df: DataFrame, path: str) -> None:
    """Incrementally grow a :func:`write_bm25_index` layout: the batch's
    postings APPEND into the existing term directories, and the 1-row
    stats table is replaced with the exact merged totals (n_docs and
    sum_dl are plain sums — the whole reason the layout stores only
    mergeable corpus constants; per-term df is never stored, it derives
    from the postings, so appends cannot stale it). Probing the grown
    layout must equal the one-shot index over the full corpus
    (gate: bm25_append_probe_equiv).

    PRECONDITION — batch doc_ids must be DISJOINT from every previously
    ingested batch (append-only ingest, the same contract as
    ``append_ivf_batch``). Re-appending an existing doc_id would add
    duplicate (term, doc_id) posting rows (inflating that term's df) and
    double-count the doc in n_docs/sum_dl, silently skewing idf/avgdl.
    The check is deliberately NOT performed here: verifying it requires
    an anti-join against ALL existing postings — a full index scan per
    append, which defeats the incremental layout at scale. Callers that
    cannot guarantee disjoint ingest should dedup upstream (exact-hash
    dedup keyed on doc_id is a single linear pass) or rebuild via
    :func:`write_bm25_index`."""
    # one tokenize pass per batch (r9 optimization round): the postings
    # write and the stats aggregate both consume toks — pin it across
    # the two actions (bounded by the BATCH, not the corpus, so the cache
    # footprint is the ingest increment; write_bm25_index handles the
    # corpus-sized case differently — count + sum over the written
    # postings — because pinning a full corpus of token arrays is not
    # scale-safe)
    with pinned(_doc_tokens(df)) as toks:
        _write_postings(toks, path, "append")
        spark = df.sparkSession
        old = spark.read.schema(BM25_STATS_SCHEMA).parquet(f"{path}/stats").collect()[0]
        # coalesce: sum() over an EMPTY batch is NULL — an empty ingest batch
        # (a real occurrence in incremental pipelines) must be a no-op, not a
        # TypeError on the merge arithmetic
        new = toks.agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("dl"), F.lit(0)).cast("long").alias("sum_dl"),
        ).collect()[0]
    spark.createDataFrame(
        [(old["n_docs"] + new["n_docs"], old["sum_dl"] + new["sum_dl"])],
        BM25_STATS_SCHEMA,
    ).write.mode("overwrite").parquet(f"{path}/stats")


def bm25_hits_indexed(spark, path: str, terms: list[str]) -> DataFrame:
    """Every matching doc's BM25 score served from a
    :func:`write_bm25_index` layout WITHOUT touching the corpus: the term
    list becomes a literal partition filter on the postings scan (only
    the query terms' directories are read — plan-pinned by
    tests/test_plan_quality.py), per-term df comes from the pruned
    postings themselves, and the scored set is exactly the docs holding
    at least one query term. A zero-hit doc scores exactly 0.0 under the
    full scan (each term contributes idf · 0/denom = +0.0), so this frame
    plus a 0.0-filled complement reproduces :func:`bm25_scores` over the
    whole corpus bit-for-bit — the score replays the exact op order via
    the shared expression. Returns (doc_id, dl, tf_<t>..., bm25_raw,
    bm25)."""
    _check_terms(terms)
    stats0 = spark.read.schema(BM25_STATS_SCHEMA).parquet(f"{path}/stats")
    post = spark.read.schema(BM25_POSTINGS_SCHEMA).parquet(f"{path}/postings").filter(
        "term IN (" + ", ".join(f"'{t_}'" for t_ in terms) + ")"
    )
    # per-term df and tf as SQL text: one parse per aggregate, not a
    # Column built node by node over Py4J
    dft = post.groupBy().agg(
        *[
            F.expr(f"CAST(sum(CAST(term = '{t_}' AS BIGINT)) AS BIGINT) AS df_{t_}")
            for t_ in terms
        ]
    )
    stats = stats0.crossJoin(F.broadcast(dft))
    per_doc = post.groupBy("doc_id").agg(
        F.expr("first(dl) AS dl"),
        *[
            F.expr(
                f"CAST(coalesce(sum(CASE WHEN term = '{t_}' THEN tf END), 0) AS BIGINT)"
                f" AS tf_{t_}"
            )
            for t_ in terms
        ],
    )
    return per_doc.crossJoin(F.broadcast(stats)).selectExpr(*_bm25_output(terms))


def bm25_topk_indexed(spark, path: str, terms: list[str], k: int) -> DataFrame:
    """BM25 top-k over :func:`bm25_hits_indexed` (see there for the
    pruning + exactness contract). Ranking among matching docs equals the
    full-scan ranking for every positively-scored rank. The top-k cut is
    TakeOrderedAndProject on (bm25_raw DESC, doc_id); the rank column is
    assigned afterwards over the ≤k coalesced rows."""
    scored = bm25_hits_indexed(spark, path, terms)
    top = scored.orderBy(F.desc("bm25_raw"), "doc_id").limit(k).coalesce(1)
    rank = F.expr("row_number() OVER (ORDER BY bm25_raw DESC, doc_id)")
    return top.withColumn("rk", rank).drop("bm25_raw")
