"""§2.10 tokenizer-prep / LM-statistics queries: corpus vocabulary, per-doc
OOV rate, interpolated bigram surprisal, a source-level quality gate,
collocations (bigram and skip-gram PMI, χ² term selection), vocabulary
overlap, novelty and Zipf profiles, readability inputs, and BPE training
and segmentation.

These are corpus-level statistics an LLM data pipeline computes before
training (vocab coverage before fixing a tokenizer; perplexity-proxy and
provenance-level gates before materializing the training set). Every score
is closed-form over counts, so DuckDB replays each one exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators import lm as L
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4,
    ratio_e4_sql,
    ratio_scaled,
    ratio_scaled_sql,
)
from nilm_data_framework_spark.operators.scale_windows import bucketed_global_rank
from nilm_data_framework_spark.operators.text import (
    doc_chunks,
    token_count,
    tokens,
    word_ngrams,
)
from nilm_data_framework_spark.operators.text import tokens as tok_expr
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _TOKS, _docs
from nilm_data_framework_spark.sources.testdata import load_table


_TOKED = """
    toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked)
"""


@query(
    "vocab_top_tokens",
    oracle=f"""
    WITH {_TOKED}
    SELECT tok, count(*) AS c
    FROM tok GROUP BY tok
    ORDER BY c DESC, tok ASC LIMIT 20
    """,
    survey_ref="§2.10 tokenizer prep: corpus vocabulary (top-V token frequencies)",
)
def vocab_top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    return L.vocab_top_tokens(_docs(spark, sf_dir), vocab_size=20)


@query(
    "oov_rate",
    oracle=f"""
    WITH {_TOKED},
    vocab AS (
      SELECT tok FROM tok GROUP BY tok
      ORDER BY count(*) DESC, tok ASC LIMIT 20
    ),
    doc_tok AS (SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY 1, 2),
    agg AS (
      SELECT d.doc_id,
             CAST(sum(d.c) AS BIGINT) AS n_tok,
             CAST(sum(CASE WHEN v.tok IS NULL THEN d.c ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM doc_tok d LEFT JOIN vocab v USING (tok)
      GROUP BY d.doc_id
    )
    SELECT doc_id, n_tok, n_oov,
           {ratio_e4_sql('n_oov', 'n_tok')} AS oov_rate_e4
    FROM agg
    """,
    survey_ref="§2.10 tokenizer prep: per-doc OOV rate vs corpus top-20 vocab (top-V; V=20 keeps the gate non-vacuous on the 31-distinct-token synthetic corpus)",
)
def oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return L.oov_rate(_docs(spark, sf_dir), vocab_size=20)


@query(
    "bigram_surprisal_score",
    oracle=f"""
    WITH {_TOKED},
    doc_bi AS (
      SELECT doc_id, w1, w2, count(*) AS c
      FROM (
        SELECT doc_id,
               toks[i] AS w1, toks[i + 1] AS w2
        FROM toked, unnest(range(1, len(toks))) AS u(i)
        WHERE len(toks) >= 2
      )
      GROUP BY 1, 2, 3
    ),
    bi AS (SELECT w1, w2, sum(c) AS c_bi FROM doc_bi GROUP BY 1, 2),
    uni AS (SELECT tok, count(*) AS c_uni FROM tok GROUP BY tok),
    total AS (SELECT sum(c_uni) AS n_total FROM uni)
    SELECT d.doc_id,
           CAST(sum(d.c) AS BIGINT) AS n_bigrams,
           round(-sum(d.c * ln(
               3.0 * b.c_bi / (4.0 * u1.c_uni)
               + u2.c_uni / (4.0 * t.n_total)
             )) / sum(d.c), 4) AS bigram_surprisal
    FROM doc_bi d
    JOIN bi b USING (w1, w2)
    JOIN uni u1 ON u1.tok = d.w1
    JOIN uni u2 ON u2.tok = d.w2
    CROSS JOIN total t
    GROUP BY d.doc_id
    """,
    survey_ref="§2.10 quality scoring: interpolated bigram-LM surprisal (perplexity-filter proxy, order-sensitive)",
)
def bigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return L.bigram_surprisal(_docs(spark, sf_dir))


# --- RAG chunking -------------------------------------------------------------


@query(
    "doc_chunks_inventory",
    oracle="""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             i AS chunk_idx,
             1 + i * 8 AS start_tok,
             least(16, len(toks) - (1 + i * 8) + 1) AS n_tok,
             array_to_string(toks[1 + i * 8 : i * 8 + 16], ' ') AS chunk_text
      FROM toked, unnest(range(0, CAST(ceil(len(toks) / 8.0) AS BIGINT))) u(i)
      WHERE len(toks) > 0 AND 1 + i * 8 <= len(toks)
    )
    SELECT doc_id, chunk_idx, start_tok, n_tok, md5(chunk_text) AS chunk_md5
    FROM chunks
    """,
    survey_ref="§2.10 RAG chunking: overlapping token windows w/ provenance (text twin of W4 sliding windows)",
)
def doc_chunks_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = doc_chunks(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.col("start_tok").cast("long").alias("start_tok"),
        F.col("n_tok").cast("long").alias("n_tok"),
        F.md5("chunk_text").alias("chunk_md5"),
    )


# --- source-level quality gate ------------------------------------------------
# RefinedWeb/C4 drop whole PROVENANCES (domains, crawls) whose aggregate
# quality is bad, not just individual documents: compute per-source mean
# quality, keep the top half of sources (relative gate — an absolute
# threshold is vacuous on a homogeneous corpus and brittle on a drifting
# one), then count what survives per language.
# Shape: group (linear agg over all docs) → rank the TINY source dim (the
# window runs over provenances, never over the corpus) → broadcast
# join-back → regroup. Ranking on the 4dp-ROUNDED mean with a source
# tie-break keeps the cut deterministic cross-engine (raw double means can
# differ in the last ulp between engines' accumulation orders).


@query(
    "source_quality_gate",
    oracle=f"""
    WITH q AS (
      SELECT doc_id, lang, source,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    src AS (
      SELECT source,
             {ratio_scaled_sql('sum(n_tok)', 'count(*)', 6)} AS avg_tok_e6,
             count(*) AS n_src_docs
      FROM q GROUP BY source
    ),
    ranked AS (
      SELECT source,
             row_number() OVER (ORDER BY avg_tok_e6 DESC, source ASC) AS rk,
             count(*) OVER () AS n_sources
      FROM src
    ),
    kept_src AS (SELECT source FROM ranked WHERE rk <= n_sources / 2)
    SELECT q.lang, count(*) AS n_docs, CAST(sum(q.n_tok) AS BIGINT) AS sum_tokens
    FROM q JOIN kept_src USING (source)
    GROUP BY q.lang
    """,
    survey_ref="§2.10 provenance-level quality gate (keep top-half sources by mean quality)",
)
def source_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = _docs(spark, sf_dir)
    q = docs.select(
        "doc_id", "lang", "source", token_count(F.col("text")).alias("n_tok")
    )
    # rank key = EXACT e6-scaled integer mean (operators/exact_math.py): a
    # float avg could flip the top-half cut on a cross-engine half-boundary
    src = q.groupBy("source").agg(
        F.sum("n_tok").alias("_sum"), F.count(F.lit(1)).alias("_n")
    ).select("source", ratio_scaled("_sum", "_n", 6).alias("avg_tok_e6"))
    w = Window.orderBy(F.col("avg_tok_e6").desc(), F.col("source").asc())
    ranked = src.select(
        "source",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n_sources"),
    )
    # the source dim is low-cardinality in practice, but its cardinality is
    # a property of the DATA, not a constant of the query — so no forced
    # broadcast hint (the r1-verdict rule); AQE picks broadcast when the
    # gated dim is actually small. The rank window still only ever sees
    # one row per source.
    kept = ranked.filter(F.col("rk") <= F.floor(F.col("n_sources") / 2)).select(
        "source"
    )
    return (
        q.join(kept, "source")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("sum_tokens"),
        )
    )


# --- readability component scores --------------------------------------------


@query(
    "readability_scores",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, text,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
               AS toks
      FROM documents
    ),
    per AS (
      SELECT source,
             CAST(len(toks) AS BIGINT) AS words,
             CAST(greatest(length(regexp_replace(text, '[^.!?]', '', 'g')), 1)
                  AS BIGINT) AS sentences,
             CAST(len(regexp_extract_all(lower(text), '[aeiou]+'))
                  AS BIGINT) AS syllables
      FROM t WHERE len(toks) > 0
    ),
    agg AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(words) AS BIGINT) AS words,
             CAST(sum(sentences) AS BIGINT) AS sentences,
             CAST(sum(syllables) AS BIGINT) AS syllables
      FROM per GROUP BY source
    )
    SELECT source, n_docs, words, sentences, syllables,
           {{wps}} AS words_per_sentence_e4,
           {{spw}} AS syllables_per_word_e4
    FROM agg
    """.format(
        wps="CAST((CAST(words AS BIGINT) * 20000 + CAST(sentences AS BIGINT)) // (2 * CAST(sentences AS BIGINT)) AS BIGINT)", spw="CAST((CAST(syllables AS BIGINT) * 20000 + CAST(words AS BIGINT)) // (2 * CAST(words AS BIGINT)) AS BIGINT)"
    ),
    survey_ref="§2.10 text analysis: readability component audit "
    "(Flesch-family inputs — words/sentence and syllables/word as exact "
    "e4 rationals; syllables = vowel-run heuristic) per source — the "
    "reading-level signal quality filters bucket on, without the float "
    "206.835 formula (derivable offline from the exact components)",
)
def readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vowel-run syllable estimate per token (HOF regexp, JVM-side), exact
    sentence/word counts, per-source rollup. Map-only feature extraction +
    one small-key agg — linear at any scale. The Flesch score itself is an
    affine map of the two e4 ratios, left to the consumer so the gate
    stays float-free."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(
        "source",
        F.col("text"),
        tokens(F.col("text")).alias("toks"),
    ).where(F.size("toks") > 0)
    per = t.select(
        "source",
        F.size("toks").cast("long").alias("words"),
        F.greatest(
            F.length(F.regexp_replace(F.col("text"), r"[^.!?]", "")), F.lit(1)
        )
        .cast("long")
        .alias("sentences"),
        # vowel runs never span whitespace, so counting them on the whole
        # lowercased text equals the per-token sum — one regexp, no HOF
        F.size(F.regexp_extract_all(F.lower("text"), F.lit("[aeiou]+"), F.lit(0)))
        .cast("long")
        .alias("syllables"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("words").cast("long").alias("words"),
        F.sum("sentences").cast("long").alias("sentences"),
        F.sum("syllables").cast("long").alias("syllables"),
    )
    return agg.select(
        "source",
        "n_docs",
        "words",
        "sentences",
        "syllables",
        ratio_e4("words", "sentences").alias("words_per_sentence_e4"),
        ratio_e4("syllables", "words").alias("syllables_per_word_e4"),
    )


# --- source vocabulary Jaccard matrix ----------------------------------------


def _vocab_jaccard_oracle() -> str:
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    return f"""
    WITH v AS (
      SELECT DISTINCT source, unnest({toks}) AS tok FROM documents
    ),
    sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS nv FROM v GROUP BY 1),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(count(*) AS BIGINT) AS n_inter
      FROM v a JOIN v b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.source_a, i.source_b, sa.nv AS nv_a, sb.nv AS nv_b, i.n_inter,
           {ratio_e4_sql('i.n_inter', '(sa.nv + sb.nv - i.n_inter)')}
             AS jaccard_e4
    FROM inter i
    JOIN sizes sa ON sa.source = i.source_a
    JOIN sizes sb ON sb.source = i.source_b
    """


@query(
    "source_vocab_jaccard",
    oracle=_vocab_jaccard_oracle(),
    survey_ref="§2.10 corpus diagnostics: exact vocabulary-overlap Jaccard "
    "between every source pair — token-level provenance similarity (the "
    "vocabulary twin of neardup_source_matrix's document-level cells); "
    "intersections from one token equi-join over the distinct (source, "
    "token) table, e4 exact",
)
def source_vocab_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distinct (source, token) reduction (vocab-sized, tiny), a
    token-keyed self-join for intersections, margins join back. At 100 TB
    the distinct reduction is the only corpus-sized pass; the pair join
    runs over |vocab|·|sources| rows. Tokens shared by most sources make
    the join quadratic in |sources| per token — bounded by the source
    count, not the corpus."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    v = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
    )
    sizes = v.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("nv"))
    a = v.select(F.col("source").alias("source_a"), "tok")
    b = v.select(F.col("source").alias("source_b"), "tok")
    inter = (
        a.join(b, "tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("source", "source_a").withColumnRenamed("nv", "nv_a"), "source_a")
        .join(sizes.withColumnRenamed("source", "source_b").withColumnRenamed("nv", "nv_b"), "source_b")
        .select(
            "source_a",
            "source_b",
            "nv_a",
            "nv_b",
            "n_inter",
            ratio_e4("n_inter", "(nv_a + nv_b - n_inter)").alias("jaccard_e4"),
        )
    )


# --- PMI collocations -----------------------------------------------------------


def _pmi_oracle() -> str:
    return f"""
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    bg AS (
      SELECT unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> array_to_string(toks[i:i+1], ' ')))) AS bigram
      FROM toksrc WHERE len(toks) >= 2
    ),
    bgc AS (
      SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy
      FROM bg GROUP BY 1 HAVING count(*) >= 5
    ),
    uni AS (
      SELECT unnest(list_distinct(toks)) AS w FROM toksrc
      WHERE len(toks) >= 1
    ),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    scored AS (
      SELECT b.bigram, b.c_xy, u1.c AS c_x, u2.c AS c_y,
             {ratio_scaled_sql('(b.c_xy * n.n_docs)', '(u1.c * u2.c)', 6)}
               AS pmi_ratio_e6
      FROM bgc b
      CROSS JOIN n
      JOIN uc u1 ON u1.w = string_split(b.bigram, ' ')[1]
      JOIN uc u2 ON u2.w = string_split(b.bigram, ' ')[2]
    )
    SELECT bigram, c_xy, c_x, c_y, pmi_ratio_e6
    FROM scored
    ORDER BY pmi_ratio_e6 DESC, bigram
    LIMIT 20
    """


@query(
    "bigram_pmi_topk",
    oracle=_pmi_oracle(),
    survey_ref="§2.10 text analysis: PMI collocation extraction — top-20 "
    "adjacent word pairs by document-frequency PMI ratio N·df(xy)/"
    "(df(x)·df(y)), min support 5; ranked by the SCALED INTEGER ratio "
    "(e6 floor division) with a bigram tiebreak so the top-k cut is "
    "deterministic across engines — no ln() anywhere",
)
def bigram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which word pairs stick together far beyond chance (named entities,
    fixed phrases — the tokenizer-merge / stopword-phrase signal)?
    Document-frequency PMI keeps every count a BIGINT; the e6-scaled
    ratio is the shared exact-rounding helper, so the ranking float
    never exists. Two linear token scans + two broadcast-sized vocab
    joins + TakeOrdered(20)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    bgc = (
        docs.select(F.explode(word_ngrams(F.col("text"), 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= 5)
    )
    uc = (
        docs.select(F.explode(word_ngrams(F.col("text"), 1)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    u1 = uc.select(F.col("w").alias("_w1"), F.col("c").alias("c_x"))
    u2 = uc.select(F.col("w").alias("_w2"), F.col("c").alias("c_y"))
    scored = (
        bgc.crossJoin(n_docs)
        .join(u1, F.split(F.col("bigram"), " ")[0] == F.col("_w1"))
        .join(u2, F.split(F.col("bigram"), " ")[1] == F.col("_w2"))
        .select(
            "bigram",
            "c_xy",
            "c_x",
            "c_y",
            ratio_scaled("(c_xy * n_docs)", "(c_x * c_y)", 6).alias(
                "pmi_ratio_e6"
            ),
        )
    )
    return scored.orderBy(F.col("pmi_ratio_e6").desc(), "bigram").limit(20)


# --- per-source n-gram novelty ---------------------------------------------------


def _novelty_oracle() -> str:
    return f"""
    WITH toksrc AS (
      SELECT source,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    sg AS (
      SELECT DISTINCT source, unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM toksrc WHERE len(toks) >= 3
    ),
    gs AS (SELECT g, CAST(count(*) AS BIGINT) AS ns FROM sg GROUP BY 1),
    per AS (
      SELECT sg.source,
             CAST(count(*) AS BIGINT) AS n_grams,
             CAST(sum(CASE WHEN gs.ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM sg JOIN gs ON gs.g = sg.g
      GROUP BY 1
    )
    SELECT source, n_grams, n_unique,
           {ratio_e4_sql('n_unique', 'n_grams')} AS novelty_e4
    FROM per
    """


@query(
    "source_ngram_novelty",
    oracle=_novelty_oracle(),
    survey_ref="§2.10 curation diagnostics: per-source 3-gram novelty — "
    "share of each source's distinct shingles appearing in NO other "
    "source (count-distinct-source per gram, then one per-source agg); "
    "the mixture-design complement of source_vocab_jaccard (pairwise "
    "overlap) — high novelty sources add coverage, low ones add bulk",
)
def source_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much of each source's content exists nowhere else in the
    mix? Distinct (source, gram) pairs (one explode + distinct), gram →
    #sources (since sg is distinct, count(*) IS count-distinct-source —
    no expensive distinct agg), join back, per-source ratio. Two
    shuffles on the gram key, both map-side combined."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    sg = docs.select(
        "source", F.explode(word_ngrams(F.col("text"), 3)).alias("g")
    ).distinct()
    gs = sg.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    per = (
        sg.join(gs, "g")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum((F.col("ns") == 1).cast("long")).cast("long").alias("n_unique"),
        )
    )
    return per.select(
        "source",
        "n_grams",
        "n_unique",
        ratio_e4("n_unique", "n_grams").alias("novelty_e4"),
    )


# --- Zipf vocabulary profile (scale-safe rank layer) ---------------------------


@query(
    "zipf_vocab_shares",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                x -> x <> '')) AS tok
      FROM documents
    ),
    vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    total AS (SELECT CAST(sum(c) AS BIGINT) AS total_toks FROM vocab),
    ranked AS (
      SELECT tok, c,
             CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS rank
      FROM vocab
    ),
    top AS (SELECT * FROM ranked WHERE rank <= 100),
    cum AS (
      SELECT tok, c, rank,
             CAST(sum(c) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_c
      FROM top
    )
    SELECT rank, tok, c, cum_c,
           CAST(rank * c AS BIGINT) AS rank_x_freq,
           {ratio_e4_sql('cum_c', 'total_toks')} AS cum_share_e4
    FROM cum, total
    """,
    survey_ref="§2.10 text analysis: Zipf rank-frequency profile of the "
    "corpus vocabulary — exact global token ranks from the bucketed-rank "
    "layer (count-valued buckets), rank·freq constancy column (Zipf's law "
    "diagnostic) and cumulative corpus share of the top 100 types",
)
def zipf_vocab_shares(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How head-heavy is the corpus vocabulary? Exact (rank, frequency)
    for the top-100 types plus cumulative corpus share. The global rank
    over the whole vocabulary comes from bucketed_global_rank partitioned
    on the count value itself (frequency support is tiny: Zipf tails are
    mostly singletons) — no single-partition vocabulary sort; the only
    ordered windows run over 100 filtered rows and the count support.
    rank·freq ≈ const IS Zipf's law; the e4 share uses the exact
    rounding helper."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    vocab = (
        docs.select(F.explode(tok_expr(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    total = vocab.agg(F.sum("c").cast("long").alias("total_toks"))
    ranked = bucketed_global_rank(
        vocab, F.col("c"), [F.col("tok")], descending=True, out="rank"
    )
    top = ranked.filter(F.col("rank") <= 100).coalesce(1)
    w_cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    cum = top.select(
        "rank",
        "tok",
        "c",
        F.sum("c").over(w_cum).cast("long").alias("cum_c"),
        (F.col("rank") * F.col("c")).cast("long").alias("rank_x_freq"),
    )
    return cum.crossJoin(F.broadcast(total)).select(
        "rank",
        "tok",
        "c",
        "cum_c",
        "rank_x_freq",
        ratio_e4("cum_c", "total_toks").alias("cum_share_e4"),
    )


# --- skip-gram window PMI ---------------------------------------------------------


def _skipgram_pmi_oracle() -> str:
    return f"""
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    pr AS (
      SELECT unnest(list_distinct(flatten(
        list_transform(range(1, len(toks) + 1), i ->
          list_transform(list_filter(toks[i+1:i+3], y -> y <> toks[i]),
            y -> CASE WHEN toks[i] < y THEN toks[i] || ' ' || y
                 ELSE y || ' ' || toks[i] END))))) AS pair
      FROM toksrc WHERE len(toks) >= 2
    ),
    pc AS (
      SELECT pair, CAST(count(*) AS BIGINT) AS c_xy
      FROM pr GROUP BY 1 HAVING count(*) >= 5
    ),
    uni AS (
      SELECT unnest(list_distinct(toks)) AS w FROM toksrc
      WHERE len(toks) >= 1
    ),
    uc AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY 1),
    scored AS (
      SELECT p.pair, p.c_xy, u1.c AS c_x, u2.c AS c_y,
             {ratio_scaled_sql('(p.c_xy * n.n_docs)', '(u1.c * u2.c)', 6)}
               AS pmi_ratio_e6
      FROM pc p
      CROSS JOIN n
      JOIN uc u1 ON u1.w = string_split(p.pair, ' ')[1]
      JOIN uc u2 ON u2.w = string_split(p.pair, ' ')[2]
    )
    SELECT pair, c_xy, c_x, c_y, pmi_ratio_e6
    FROM scored
    ORDER BY pmi_ratio_e6 DESC, pair
    LIMIT 20
    """


_SKIPGRAM_PAIRS_EXPR = (
    "transform(array(filter(split(lower(text), '\\\\s+'), x -> x != '')), "
    "tk -> array_distinct(flatten(transform(sequence(1, size(tk)), i -> "
    "transform(filter(slice(tk, i + 1, 3), y -> y != tk[i-1]), "
    "y -> CASE WHEN tk[i-1] < y THEN concat(tk[i-1], ' ', y) "
    "ELSE concat(y, ' ', tk[i-1]) END)))))[0]"
)


@query(
    "skipgram_pmi_topk",
    oracle=_skipgram_pmi_oracle(),
    survey_ref="§2.10 text analysis: skip-gram window PMI collocations — "
    "top-20 unordered word pairs co-occurring within a ±3-token window "
    "(the word2vec/GloVe co-occurrence grain) by document-frequency PMI "
    "ratio N·df(xy)/(df(x)·df(y)), min support 5, exact e6 integer "
    "ranking with a pair tiebreak; the windowed generalization of the "
    "adjacent-only bigram_pmi_topk",
)
def skipgram_pmi_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window co-occurrence PMI: each token pairs with the next 3 tokens
    (unordered, self-pairs dropped, canonicalized least-first), deduped
    per document, counted as document frequencies — the co-occurrence
    statistic distributional embeddings train on, exact in BIGINTs. The
    token array is LET-BOUND once via the single-element-array transform
    (the word_ngrams discipline — tk and tk[i-1] are O(1) re-reads, the
    tokenizer is not re-run per position). One explode + hash count, two
    broadcast-sized vocab joins, TakeOrdered(20)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    n_docs = docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    pc = (
        docs.select(F.explode(F.expr(_SKIPGRAM_PAIRS_EXPR)).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("c_xy"))
        .where(F.col("c_xy") >= 5)
    )
    uc = (
        docs.select(
            F.explode(
                F.expr(
                    "array_distinct(filter(split(lower(text), '\\\\s+'), "
                    "x -> x != ''))"
                )
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    u1 = uc.select(F.col("w").alias("_w1"), F.col("c").alias("c_x"))
    u2 = uc.select(F.col("w").alias("_w2"), F.col("c").alias("c_y"))
    scored = (
        pc.crossJoin(n_docs)
        .join(u1, F.split(F.col("pair"), " ")[0] == F.col("_w1"))
        .join(u2, F.split(F.col("pair"), " ")[1] == F.col("_w2"))
        .select(
            "pair",
            "c_xy",
            "c_x",
            "c_y",
            ratio_scaled("(c_xy * n_docs)", "(c_x * c_y)", 6).alias(
                "pmi_ratio_e6"
            ),
        )
    )
    return scored.orderBy(F.col("pmi_ratio_e6").desc(), "pair").limit(20)


# --- chi-squared term selection -------------------------------------------------

_CHI2_MIN_DF = 20


_CHI2_K = 15


# ONE expression text shared by both engines: every input is an exact
# integer ≤ 2^53 cast to double, and the op tree is pure {+,−,×,÷} in a
# pinned association order — IEEE doubles are then BIT-IDENTICAL across
# engines (no transcendentals — unlike the ln-based BM25 scores which
# rank with a 1-ulp caveat). n_total·x·x rounds once above 2^53,
# identically on both sides.
_CHI2_EXPR = (
    "(CAST(n_total AS DOUBLE) * CAST(a*d - b*c AS DOUBLE)"
    " * CAST(a*d - b*c AS DOUBLE))"
    " / (CAST(a+b AS DOUBLE) * CAST(c+d AS DOUBLE)"
    " * CAST(a+c AS DOUBLE) * CAST(b+d AS DOUBLE))"
)


@query(
    "chi2_term_selection",
    oracle=f"""
    WITH td AS (
      SELECT doc_id, lang = 'en' AS en, unnest(list_distinct({_TOKS})) AS term
      FROM documents
    ),
    tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_total,
             CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en
      FROM documents
    ),
    ct AS (
      SELECT term,
             CAST(sum(CASE WHEN en THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(sum(CASE WHEN en THEN 0 ELSE 1 END) AS BIGINT) AS b
      FROM td GROUP BY term
    ),
    cells AS (
      SELECT term, a, b, n_en - a AS c, (n_total - n_en) - b AS d, n_total
      FROM ct, tot
      WHERE a + b >= {_CHI2_MIN_DF} AND a + b <= n_total - 5
    )
    SELECT term, a, b, c, d,
           CAST(floor(({_CHI2_EXPR}) * 10000) AS BIGINT) AS chi2_e4
    FROM cells
    ORDER BY {_CHI2_EXPR} DESC, term LIMIT {_CHI2_K}
    """,
    survey_ref="§2.10 curation extension: χ² term selection (Yang & "
    "Pedersen '97 feature selection) — the discriminative-vocabulary step "
    "under every fastText-style quality/language classifier; reference "
    "analog: J3's keyword→label map, LEARNED from counts instead of "
    "declared",
)
def chi2_term_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 terms most associated with lang='en' by χ² over exact
    per-term document-frequency contingencies (a=en-with-term,
    b=other-with-term, c/d complements). Counts are one distinct-explode +
    hash agg (linear, map-side combined); the 1-row totals frame is a
    broadcast crossJoin (guard-exempt). Ranking: χ² is computed from ONE
    shared expression text over exact-integer casts with no
    transcendentals, so the double is bit-identical in both engines and
    the (χ² desc, term) top-k cut is deterministic — the stronger form of
    the BM25 raw-float ranking discipline. Emitted χ² is floor-scaled e4;
    the gate pins the contingencies exactly. df bounds: support ≥ 20
    drops noise terms, df ≤ N−5 keeps c+d > 0 (a term in every document
    has no discrimination and would put 0/0·∞ in the statistic)."""
    docs = load_table(spark, sf_dir, "documents")
    tot = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("n_en"),
    )
    td = docs.select(
        (F.col("lang") == "en").alias("en"),
        F.explode(F.array_distinct(T.tokens(F.col("text")))).alias("term"),
    )
    ct = td.groupBy("term").agg(
        F.sum(F.when(F.col("en"), 1).otherwise(0)).cast("long").alias("a"),
        F.sum(F.when(F.col("en"), 0).otherwise(1)).cast("long").alias("b"),
    )
    cells = (
        ct.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("a") + F.col("b") >= _CHI2_MIN_DF)
            & (F.col("a") + F.col("b") <= F.col("n_total") - 5)
        )
        .select(
            "term",
            "a",
            "b",
            (F.col("n_en") - F.col("a")).alias("c"),
            (F.col("n_total") - F.col("n_en") - F.col("b")).alias("d"),
            "n_total",
        )
    )
    scored = cells.withColumn("chi2", F.expr(_CHI2_EXPR))
    return (
        scored.orderBy(F.desc("chi2"), F.asc("term"))
        .limit(_CHI2_K)
        .select(
            "term",
            "a",
            "b",
            "c",
            "d",
            F.floor(F.col("chi2") * 10000).cast("long").alias("chi2_e4"),
        )
    )


# --- BPE tokenizer training (iterated merge rounds) -----------------------------

_BPE_ROUNDS = 4


def _bpe_oracle_sql(rounds: int = _BPE_ROUNDS, final_select: str | None = None) -> str:
    """Chained unroll of the BPE training loop. The merge REWRITE is a
    per-word recursive CTE (left-to-right greedy fold over symbol
    positions) — an INDEPENDENT formulation from Spark's aggregate() HOF
    fold, so the gate's hash equality proves the two sequential-merge
    semantics agree, not just the argmax. Intermediate word tables are AS
    MATERIALIZED: without it DuckDB inlines each w{r} into the NEXT
    round's recursive term and the chain re-runs the recursion once per
    iteration (measured: 4 rounds >120 s inlined vs 0.14 s
    materialized)."""
    parts = [f"""
    WITH RECURSIVE w1 AS MATERIALIZED (
      SELECT word, CAST(count(*) AS BIGINT) AS cnt,
             list_transform(range(1, len(word) + 1), i -> word[i:i]) AS syms
      FROM (SELECT unnest({_TOKS}) AS word FROM documents)
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    )"""]
    for r in range(1, rounds + 1):
        parts.append(f""",
    p{r} AS (
      SELECT w.syms[i] AS lsym, w.syms[i+1] AS rsym,
             CAST(sum(w.cnt) AS BIGINT) AS pair_count
      FROM w{r} w, unnest(range(1, len(w.syms))) AS u(i)
      GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
      SELECT * FROM p{r} ORDER BY pair_count DESC, lsym, rsym LIMIT 1),
    m{r} AS (
      SELECT word, cnt, 1 AS pos, []::VARCHAR[] AS out FROM w{r}
      UNION ALL
      SELECT m.word, m.cnt, m.pos + 1,
        CASE WHEN len(m.out) > 0 AND m.out[len(m.out)] = b.lsym
                  AND w.syms[m.pos] = b.rsym
             THEN list_append(m.out[1:len(m.out)-1], b.lsym || b.rsym)
             ELSE list_append(m.out, w.syms[m.pos]) END
      FROM m{r} m, w{r} w, b{r} b
      WHERE m.word = w.word AND m.pos <= len(w.syms)
    ),
    w{r + 1} AS MATERIALIZED (
      SELECT m.word, m.cnt, m.out AS syms
      FROM m{r} m JOIN w{r} w USING (word)
      WHERE m.pos = len(w.syms) + 1
    ),
    a{r} AS (SELECT CAST(sum(cnt * len(syms)) AS BIGINT) AS corpus_tokens_after
             FROM w{r + 1})""")
    if final_select is None:
        sels = " UNION ALL ".join(
            f"SELECT {r} AS merge_round, b{r}.lsym, b{r}.rsym, b{r}.pair_count, "
            f"a{r}.corpus_tokens_after FROM b{r}, a{r}"
            for r in range(1, rounds + 1)
        )
        final_select = (
            f"\n    SELECT CAST(merge_round AS INT) AS merge_round, lsym, rsym,"
            f" pair_count, corpus_tokens_after FROM ({sels})"
        )
    parts.append(final_select)
    return "".join(parts)


# left-to-right greedy merge of the (lsym, rsym) pair, as an array fold:
# out[-1]=l ∧ s=r ⇒ replace the tail with l||r, else append s. A merged
# token can never re-trigger as l (l||r ≠ l since r is nonempty), so one
# pass IS the standard non-overlapping greedy merge ("aaa" -> ["aa","a"]).
_BPE_MERGE = (
    "aggregate(syms, CAST(array() AS array<string>),"
    " (acc, s) -> IF(size(acc) > 0 AND element_at(acc, -1) = lsym"
    " AND s = rsym,"
    " concat(slice(acc, 1, size(acc) - 1), array(concat(lsym, rsym))),"
    " concat(acc, array(s))))"
)


def _bpe_train(
    spark: SparkSession, sf_dir: str, rounds: int = _BPE_ROUNDS
) -> tuple[list[DataFrame], DataFrame]:
    """Run the BPE training loop; returns (per-round merge-rule frames,
    final segmented word-type table (word, cnt, syms)). Shared by the
    train gate and the segmentation (apply) gate — the loop lives once."""
    return _bpe_train_frames(load_table(spark, sf_dir, "documents"), rounds)


def _bpe_train_frames(
    docs: DataFrame, rounds: int = _BPE_ROUNDS
) -> tuple[list[DataFrame], DataFrame]:
    """Frame-level BPE training loop (its unrolled plan is checked in
    tests/test_checkpoint_blindspot.py)."""
    w = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("word"))
        .filter(F.col("word").rlike("^[a-z]+$"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "syms",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
        .transform(checkpoint)
    )
    rows = []
    for r in range(1, rounds + 1):
        pairs = (
            # size >= 2 guard: Spark's sequence(1, 0) DESCENDS ([1, 0]) and
            # ANSI element_at then raises on fully-merged single-token
            # words; DuckDB's range(1, 1) is empty — same semantics after
            # the filter
            w.filter(F.size("syms") >= 2).select(
                "cnt",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " i -> struct(element_at(syms, i) AS lsym,"
                        " element_at(syms, i + 1) AS rsym))"
                    )
                ).alias("p"),
            )
            .groupBy("p.lsym", "p.rsym")
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.desc("pair_count"), F.asc("lsym"), F.asc("rsym")
        ).limit(1)
        w = (
            w.crossJoin(F.broadcast(best))
            .select(
                "word",
                "cnt",
                F.expr(_BPE_MERGE).alias("syms"),
            )
            .transform(checkpoint)
        )
        after = w.agg(
            F.sum(F.col("cnt") * F.size("syms")).alias("corpus_tokens_after")
        )
        rows.append(
            best.select(
                F.lit(r).cast("int").alias("merge_round"),
                "lsym",
                "rsym",
                "pair_count",
            ).crossJoin(F.broadcast(after))
        )
    return rows, w


@query(
    "bpe_train_merges",
    oracle=_bpe_oracle_sql(),
    survey_ref="§2.10 LLM-pipeline extension: BPE tokenizer TRAINING as a "
    "dataflow (Sennrich '16; the word-type-histogram formulation that "
    "makes training corpus-size-independent) — 4 argmax+merge rounds, "
    "exact integer counts; oracle = per-word recursive-CTE greedy fold, "
    "an independent sequential-merge implementation",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train 4 BPE merges on the corpus and emit per round (lsym, rsym,
    pair_count, corpus_tokens_after) — the actual tokenizer-training
    loop, not a proxy: adjacent-pair counts weighted by word frequency,
    argmax with (count desc, pair asc) tiebreak, greedy left-to-right
    non-overlapping rewrite, repeat. THE scale trick is the first line:
    training runs on the WORD-TYPE HISTOGRAM (one linear agg over the
    corpus — Heaps-law-bounded, ~31 types here, ~10⁶ at web scale), so
    every subsequent round is vocabulary-sized work; the corpus is never
    rescanned. Per round the plan is: bounded pair explode + hash agg,
    LIMIT-1 argmax broadcast (guard-exempt), one aggregate() HOF rewrite
    pass, checkpoint of the vocab-bounded word table (each round
    references it twice — argmax + rewrite — so the lazy chain would
    re-fold 2^rounds times). corpus_tokens_after pins each REWRITE
    exactly (not just the argmax): it is the post-merge corpus token
    count. Words restricted to ^[a-z]+$ — the standard alphabetic
    pre-tokenization class (multi-byte slicing and collation differ
    cross-engine; a production tokenizer pre-splits byte-level anyway).
    Ties everywhere integer with lexicographic pair tiebreaks — TIES.md
    row 'bpe argmax'."""
    rows, _w = _bpe_train(spark, sf_dir)
    out = rows[0]
    for s in rows[1:]:
        out = out.unionByName(s)
    return out


@query(
    "bpe_segment_corpus",
    oracle=_bpe_oracle_sql(
        final_select=f"""
    SELECT word, cnt, CAST(len(syms) AS BIGINT) AS n_pieces,
           array_to_string(syms, ' ') AS pieces
    FROM w{_BPE_ROUNDS + 1}"""
    ),
    survey_ref="§2.10 LLM-pipeline extension: BPE segmentation (the APPLY "
    "half of bpe_train_merges — the trained merges re-segment the word "
    "vocabulary; tokenization of new text is a vocab-table join away); "
    "oracle = the training chain's final word table w5",
)
def bpe_segment_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The serving half of the tokenizer: after the 4 trained merges, the
    word-type table IS the tokenization lookup (word → pieces) — this is
    how production tokenization scales too: segment the vocab once
    (vocab-sized work), then tokenizing the corpus is a broadcast
    word→pieces join, never per-document merge replay. Emits every word
    type with its count, piece count and space-joined pieces; the gate
    hash pins the full segmentation of every type, a stronger check than
    the train gate's corpus_tokens_after aggregate. Same loop via
    _bpe_train (the code lives once); oracle = the recursive-fold chain's
    final w{rounds+1} table verbatim — verifying that BOTH sequential
    merge implementations land on identical segmentations per word."""
    _rows, w = _bpe_train(spark, sf_dir)
    return w.select(
        "word",
        "cnt",
        F.size("syms").cast("long").alias("n_pieces"),
        F.array_join("syms", " ").alias("pieces"),
    )
