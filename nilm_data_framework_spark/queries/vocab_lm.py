"""§2.10 tokenizer-prep / LM-statistics queries: corpus vocabulary, per-doc
OOV rate, interpolated bigram surprisal, and a source-level quality gate.

All four are corpus-level statistics an LLM data pipeline computes before
training (vocab coverage before fixing a tokenizer; perplexity-proxy and
provenance-level gates before materializing the training set). Every score
is closed-form over counts, so DuckDB replays each one exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators.exact_math import (
    ratio_e4_sql,
    ratio_scaled,
    ratio_scaled_sql,
)
from nilm_data_framework_spark.operators import lm as L
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents", parallelize=True)


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
    from nilm_data_framework_spark.operators.text import doc_chunks

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
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.text import token_count

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
