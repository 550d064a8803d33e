"""§2.10 LLM-pipeline queries over ``documents``: exact + near dedup, text
quality, language-ID, token counting, fingerprinting, hash splits, tf-idf;
prefix-filtered Jaccard, containment, weighted-Jaccard and winnowing joins,
near-dup evaluation (LSH recall, threshold sweep, cluster diameter, dedup
impact), incremental near-dup clustering, and entity resolution (blocked
record linkage, sorted neighbourhood, transitive clusters).

Every hash in every pipeline here is md5-derived (bit-identical in Spark and
DuckDB), so ALL variants — including MinHash-LSH and SimHash end-to-end —
are fully oracle-checked; Python-oracle kernel parity additionally lives in
tests/test_dedup_kernels.py.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint, pinned
from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.dedup import (
    connected_components,
    connected_components_incremental,
    containment_prefix_pairs,
    normalized,
    prefix_filter_jaccard_pairs,
    winnowing_shared_pairs,
)
from nilm_data_framework_spark.operators.dedup import lsh_recall_audit as _audit
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.operators.scale_windows import (
    bucketed_global_rank,
    bucketed_ntile,
)
from nilm_data_framework_spark.operators.splits import hash_split
from nilm_data_framework_spark.operators.text import (
    STOPWORDS,
    tokens,
    word_ngrams,
    word_ngrams_all,
)
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.queries.common import _docs
from nilm_data_framework_spark.sources.testdata import load_table
from nilm_data_framework_spark.tmpdirs import pid_scratch_dir


_NORM = "trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))"


# --- exact dedup -------------------------------------------------------------

# The synthetic documents table has zero exact duplicates at every sf, which
# would make the dedup checks pass vacuously (0 rows / nothing dropped). Both
# sides therefore union in a shifted-id copy of every 10th doc so the
# operators run against real duplicate groups.
_DUPED = """
      SELECT doc_id, text, lang, source FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text, lang, source FROM documents WHERE doc_id % 10 = 0
"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text", "lang", "source")
    copies = docs.filter(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    return docs.unionByName(copies)


@query(
    "exact_dup_groups",
    oracle=f"""
    SELECT md5({_NORM}) AS fp, count(*) AS n_dups, min(doc_id) AS keep_id
    FROM ({_DUPED}) documents GROUP BY fp HAVING count(*) > 1
    """,
    survey_ref="§2.10 exact dedup (hash-groupBy)",
)
def exact_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dup_groups(_docs_with_dups(spark, sf_dir))


@query(
    "dedup_exact_survivors",
    oracle=f"""
    SELECT doc_id, lang, source FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) AS rn
      FROM ({_DUPED}) documents
    ) WHERE rn = 1
    """,
    survey_ref="§2.10 exact dedup keep-min-id",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dedup_exact(_docs_with_dups(spark, sf_dir)).select(
        "doc_id", "lang", "source"
    )


# --- fingerprint ---------------------------------------------------------------

@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id, md5({_NORM}) AS fp FROM documents
    """,
    survey_ref="§2.10 document fingerprinting",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.fingerprint(_docs(spark, sf_dir)).select("doc_id", "fp")


# --- n-gram Jaccard near-dup (exact, blocked) -------------------------------------

@query(
    "ngram_jaccard_pairs",
    oracle="""
    WITH g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')
             )) AS grams
      FROM (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      )
      WHERE len(toks) >= 3
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_filter(a.grams, x -> list_contains(b.grams, x)))::DOUBLE
             / (len(a.grams) + len(b.grams)
                - len(list_filter(a.grams, x -> list_contains(b.grams, x)))), 4) AS jaccard
    FROM g a JOIN g b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_filter(a.grams, x -> list_contains(b.grams, x)))::DOUBLE
          / (len(a.grams) + len(b.grams)
             - len(list_filter(a.grams, x -> list_contains(b.grams, x)))) >= 0.3
    """,
    survey_ref="§2.10 n-gram Jaccard near-dup (exact twin of MinHash-LSH)",
)
def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.ngram_jaccard_pairs(
        _docs(spark, sf_dir), block_col="lang", n=3, threshold=0.3
    )
    return out.withColumn("jaccard", F.round("jaccard", 4))


# --- MinHash-LSH + SimHash ----------------------------------------------------------
# Every hash in the MinHash pipeline is md5-derived, so DuckDB can replicate
# the ENTIRE pipeline — signatures, banding, candidate join, exact verify —
# making the approximate dedup fully hash-checked, not rows-only.


def _minhash_ctes(cand_on: str = "a.id < b.id") -> str:
    """The shared CTE chain replaying the MinHash-LSH pipeline in DuckDB up
    to ``verified(id_a, id_b, jaccard)``; composed by the pairs oracle and
    the connected-components oracles below. ``cand_on`` is the extra
    candidate-pair predicate: the default self-join half-plane, or a
    new-batch/reference split for the incremental join oracle. The hash
    parameters and banding are the operator module's constants — oracle
    and operator must derive identical (a, b) or the signature parity
    silently breaks."""
    p = D._MERSENNE_P
    bands, rows_per = D.BANDS, D.ROWS_PER_BAND
    # (x % p) first — x is the full 60-bit md5 residue; (x % p) * a < 2^62
    # stays inside BIGINT, mirroring the Spark operator exactly.
    sig_items = ", ".join(
        f"list_min(list_transform(hs, x -> ((x % {p}) * {a} + {b}) % {p}))"
        for a, b in D.MINHASH_PARAMS
    )
    return f"""toked AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    sh AS (
      SELECT id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS sh
      FROM toked WHERE len(toks) >= 3
    ),
    hs AS (
      SELECT id, list_distinct(list_transform(
               sh, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT))) AS hs
      FROM sh
    ),
    sig AS (SELECT id, [{sig_items}] AS sig FROM hs),
    expanded AS (SELECT id, sig, unnest(range(0, {bands})) AS band FROM sig),
    banded AS (
      SELECT id, band,
             array_to_string(sig[{rows_per} * band + 1 : {rows_per} * band + {rows_per}], '_')
               AS bucket
      FROM expanded
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bucket = b.bucket AND ({cand_on})
    ),
    verified AS (
      -- verify on the HASHED shingle sets, mirroring the Spark operator:
      -- identical md5-residue values in both engines, so jaccard matches
      -- bit-for-bit (and equals string-set jaccard absent 61-bit collisions)
      SELECT c.id_a, c.id_b,
             len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))::DOUBLE
               / (len(ha.hs) + len(hb.hs)
                  - len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))) AS jaccard
      FROM cand c
      JOIN hs ha ON ha.id = c.id_a
      JOIN hs hb ON hb.id = c.id_b
    )"""


def _minhash_oracle_sql() -> str:
    return f"""
    WITH {_minhash_ctes()}
    SELECT id_a, id_b, round(jaccard, 4) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    """


def _components_ctes(thr: float = 0.5) -> str:
    """Recursive transitive closure over the verified MinHash pairs →
    ``comp(doc_id, cluster_id)`` for every document (singletons = self)."""
    return f"""pairs AS (
      SELECT id_a, id_b FROM verified WHERE jaccard >= {thr}
    ),
    sym AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    walk(u, v) AS (
      SELECT u, v FROM sym
      UNION
      SELECT w.u, s.v FROM walk w JOIN sym s ON w.v = s.u
    ),
    comp AS (
      SELECT d.doc_id,
             coalesce(least(r.u, min(r.v)), d.doc_id) AS cluster_id
      FROM documents d LEFT JOIN walk r ON r.u = d.doc_id
      GROUP BY d.doc_id, r.u
    )"""


@query(
    "minhash_lsh_pairs",
    oracle=_minhash_oracle_sql(),
    survey_ref="§2.10 MinHash+LSH near-dup (shingle→minhash→band→bucket-join)",
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.minhash_lsh_pairs(_docs(spark, sf_dir), jaccard_threshold=0.5)
    return out.withColumn("jaccard", F.round("jaccard", 4))


@query(
    "incremental_neardup_pairs",
    oracle=f"""
    WITH {_minhash_ctes(cand_on="a.id % 5 = 0 AND b.id % 5 <> 0")}
    SELECT id_a AS new_id, id_b AS ref_id, round(jaccard, 4) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    """,
    survey_ref="§2.10 incremental dedup: new-batch vs reference corpus LSH join (no full re-dedup per ingest)",
)
def incremental_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs with doc_id % 5 == 0 play the arriving batch; the rest are the
    already-deduped reference corpus. Same hash seed on both sides — the
    property that makes incremental screening sound."""
    docs = _docs(spark, sf_dir)
    out = D.minhash_lsh_join(
        docs.filter(F.col("doc_id") % 5 == 0),
        docs.filter(F.col("doc_id") % 5 != 0),
        jaccard_threshold=0.5,
    )
    return out.withColumn("jaccard", F.round("jaccard", 4))


@query(
    "incremental_neardup_persisted",
    oracle=f"""
    WITH {_minhash_ctes(cand_on="a.id % 5 = 0 AND b.id % 5 <> 0")}
    SELECT id_a AS new_id, id_b AS ref_id, round(jaccard, 4) AS jaccard
    FROM verified WHERE jaccard >= 0.5
    """,
    survey_ref="§2.10 incremental dedup, production layout: reference corpus "
    "LSH state persisted bucketed by (band,bucket)/(id) via "
    "operators/dedup.py::write_lsh_reference — per-batch screen is "
    "shuffle-free on the corpus side",
)
def incremental_neardup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same screen as incremental_neardup_pairs (identical oracle — the
    persisted layout must be RESULT-invariant), but the reference corpus's
    (id, band, bucket) + (id, hs) tables are written ONCE with
    write_lsh_reference (bucketed by their join keys) and each batch joins
    against the stored tables: the corpus side of both the candidate join
    and the verify join plans with NO Exchange
    (tests/test_plan_quality.py pins this). Hash params come from the
    persisted meta table, enforcing same-seed soundness."""

    docs = _docs(spark, sf_dir)
    prefix = f"lsh_ref_{os.getpid()}"
    # pid-keyed so concurrent runs never collide; pid_scratch_dir reaps
    # layouts left by DEAD processes (without it every driver/bench/test
    # process would leak its reference tables into /tmp forever)
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_lsh_ref"), "lsh_ref_"
    )
    D.write_lsh_reference(
        docs.filter(F.col("doc_id") % 5 != 0),
        prefix,
        buckets=8,
        path=path,
    )
    out = D.minhash_lsh_join_reference(
        docs.filter(F.col("doc_id") % 5 == 0), prefix, jaccard_threshold=0.5
    )
    return out.withColumn("jaccard", F.round("jaccard", 4))


_SIMHASH_ORACLE = """
    WITH toked AS (
      SELECT doc_id AS id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    hs AS (
      SELECT id, list_transform(
               toks, s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      FROM toked WHERE len(toks) > 0
    ),
    bitrows AS (SELECT id, hs, unnest(range(0, 63)) AS i FROM hs),
    bitvals AS (
      SELECT id,
             CASE WHEN list_sum(list_transform(
                    hs, x -> CASE WHEN (x >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                  THEN (1::BIGINT << i) ELSE 0 END AS bv
      FROM bitrows
    ),
    sig AS (SELECT id, sum(bv)::BIGINT AS simhash FROM bitvals GROUP BY id),
    expanded AS (SELECT id, simhash, unnest(range(0, 4)) AS band FROM sig),
    banded AS (
      SELECT id, simhash, band, (simhash >> (16 * band)) & 65535 AS chunk
      FROM expanded
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b,
             a.simhash AS sa, b.simhash AS sb
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.chunk = b.chunk AND a.id < b.id
    )
    SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= 3
    """


@query(
    "simhash_near_pairs",
    oracle=_SIMHASH_ORACLE,
    survey_ref="§2.10 SimHash near-dup (banded hamming)",
)
def simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = D.simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3)
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


# --- text quality ------------------------------------------------------------------

@query(
    "text_quality",
    oracle="""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    )
    SELECT doc_id,
           length(text) AS q_chars,
           len(toks) AS q_tokens,
           round(CASE WHEN len(toks) > 0
                 THEN length(text)::DOUBLE / len(toks) ELSE 0.0 END, 4) AS q_mean_token_len,
           round(CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)
                 ELSE 0.0 END, 4) AS q_punct_ratio,
           round(CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
                      / len(toks) ELSE 0.0 END, 4) AS q_stopword_ratio,
           round(CASE WHEN len(toks) > 0
                 THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END, 4)
             AS q_distinct_token_ratio
    FROM t
    """,
    survey_ref="§2.10 quality scoring (length/punct/stopword ratios)",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = T.quality_features(_docs(spark, sf_dir))
    return q.select(
        "doc_id",
        F.col("q_chars").cast("long").alias("q_chars"),
        F.col("q_tokens").cast("long").alias("q_tokens"),
        F.round("q_mean_token_len", 4).alias("q_mean_token_len"),
        F.round("q_punct_ratio", 4).alias("q_punct_ratio"),
        F.round("q_stopword_ratio", 4).alias("q_stopword_ratio"),
        F.round("q_distinct_token_ratio", 4).alias("q_distinct_token_ratio"),
    )


# --- token counting -------------------------------------------------------------------

@query(
    "token_counts",
    oracle="""
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
             AS n_ws_tokens,
           len(regexp_extract_all(lower(text), '([a-z]+|[0-9]|[^a-z0-9\\s]+)'))
             AS n_bpe_pieces
    FROM documents
    """,
    survey_ref="§2.10 token counting (whitespace + BPE-ish regex)",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        T.token_count(F.col("text")).cast("long").alias("n_ws_tokens"),
        T.bpe_ish_token_count(F.col("text")).cast("long").alias("n_bpe_pieces"),
    )


# --- language ID ------------------------------------------------------------------------

def _langid_oracle() -> str:
    score_exprs = {}
    for lang, words in STOPWORDS.items():
        if lang == "zh":
            lst = ", ".join(f"'{w}'" for w in words)
            score_exprs[lang] = f"len(list_filter([{lst}], w -> strpos(text, w) > 0))"
        else:
            lst = ", ".join(f"'{w}'" for w in words)
            score_exprs[lang] = (
                "len(list_filter(list_filter(string_split_regex(lower(text), '\\s+'),"
                f" x -> x <> ''), t -> t IN ({lst})))"
            )
    langs = list(STOPWORDS)  # dict order = tie precedence (first wins)
    sel = ", ".join(f"{score_exprs[lang]} AS s_{lang}" for lang in langs)
    all_zero = " AND ".join(f"s_{lang} <= 0" for lang in langs)
    cases = []
    for i, lang in enumerate(langs):
        later = [f"s_{lang} >= s_{o}" for o in langs if o != lang]
        cases.append(f"WHEN {' AND '.join(later)} THEN '{lang}'")
    case_sql = "\n             ".join(cases)
    return f"""
    WITH s AS (SELECT doc_id, {sel} FROM documents)
    SELECT doc_id,
           CASE WHEN {all_zero} THEN 'und'
             {case_sql}
           END AS lang_pred
    FROM s
    """


@query(
    "language_id",
    oracle=_langid_oracle(),
    survey_ref="§2.10 language-ID (stopword-hit heuristic)",
)
def language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.language_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


# --- train/val/test hash split (reference random_split, seed-free & scalable) -------

@query(
    "hash_split_counts",
    oracle="""
    WITH b AS (
      SELECT doc_id, lang,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100
               AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, count(*) AS n
    FROM b GROUP BY ALL
    """,
    survey_ref="§6 train/val/test split (train_bert_single.py:108-115) as content-hash split",
)
def hash_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return out.groupBy("split", "lang").agg(F.count(F.lit(1)).alias("n"))


# --- tf-idf top terms per document ---------------------------------------------------

@query(
    "tfidf_top_terms",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                        x -> x <> '')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY ALL),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             tf.tf::DOUBLE * (n.n_docs + 1)::DOUBLE / (dfreq.df + 1)::DOUBLE AS tfidf
      FROM tf JOIN dfreq USING (term), n
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
      FROM scored
    )
    SELECT doc_id, term, tf, df, round(tfidf, 4) AS tfidf, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    """,
    survey_ref="§2.10 text analysis: tf-idf characteristic terms (rational idf — see operator docstring)",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = T.tfidf_top_terms(_docs(spark, sf_dir))
    return out.select(
        "doc_id", "term", "tf", "df",
        F.round("tfidf", 4).alias("tfidf"),
        F.col("rk").cast("int").alias("rk"),
    )


# --- C4/Gopher-style quality filter (quality features as a keep/drop gate) ----------

@query(
    "quality_filter",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang, text,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    q AS (
      SELECT doc_id, lang,
             len(toks) AS n_tok,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS distinct_ratio,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct_ratio
      FROM t
    )
    SELECT lang,
           count(CASE WHEN n_tok BETWEEN 10 AND 1000
                       AND distinct_ratio > 0.3
                       AND punct_ratio < 0.2 THEN 1 END) AS n_keep,
           count(*) AS n_total
    FROM q GROUP BY lang
    """,
    survey_ref="§2.10 quality filter: Gopher/C4-style thresholds over quality_features",
)
def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = T.quality_features(_docs(spark, sf_dir))
    keep = (
        F.col("q_tokens").between(10, 1000)
        & (F.col("q_distinct_token_ratio") > 0.3)
        & (F.col("q_punct_ratio") < 0.2)
    )
    return q.groupBy("lang").agg(
        F.count(F.when(keep, 1)).alias("n_keep"),
        F.count(F.lit(1)).alias("n_total"),
    )


# --- near-dup clustering (connected components) -------------------------------
# Pairs alone under-specify dedup: A~B and B~C must group {A,B,C} even when
# the A-C pair was never emitted. The cluster step is hash-min label
# propagation (operators/dedup.py::connected_components); the oracle replays
# the FULL pipeline — shingles → signatures → banding → verify → recursive
# transitive closure — in DuckDB, so cluster ids are hash-checked end-to-end.


def _doc_pairs_clusters(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(pairs, clusters) off ONE materialized LSH run — minhash_lsh_pairs
    eagerly checkpoints its result, so a caller needing both the verified
    edge list and the components (neardup_cluster_diameter's edge census)
    must reuse this frame instead of invoking the operator twice: a second
    call re-runs the whole shingle+md5+band+verify pipeline, which is the
    dominant per-corpus cost at scale."""
    docs = _docs(spark, sf_dir)
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    comps = D.connected_components(
        docs.select("doc_id"), pairs, id_col="doc_id"
    ).select(F.col("node").alias("doc_id"), "cluster_id")
    return pairs, comps


def _doc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_pairs_clusters(spark, sf_dir)[1]


_NEARDUP_CLUSTERS_SQL = f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()}
    SELECT doc_id, cluster_id FROM comp
    """


@query(
    "neardup_clusters",
    oracle=_NEARDUP_CLUSTERS_SQL,
    survey_ref="§2.10 near-dup clustering (LSH pairs → connected components)",
)
def neardup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _doc_clusters(spark, sf_dir)


@query(
    "neardup_survivors",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()}
    SELECT cluster_id AS survivor_doc_id, count(*) AS n_members
    FROM comp GROUP BY cluster_id
    """,
    survey_ref="§2.10 near-dup survivor selection (keep min-id per cluster)",
)
def neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    comps = _doc_clusters(spark, sf_dir)
    return comps.groupBy(F.col("cluster_id").alias("survivor_doc_id")).agg(
        F.count(F.lit(1)).alias("n_members")
    )


@query(
    "neardup_quality_survivors",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()},
    tokc AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))
               AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT c.cluster_id, c.doc_id, t.n_tok,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY t.n_tok DESC, c.doc_id ASC) AS rk,
             count(*) OVER (PARTITION BY c.cluster_id) AS n_members
      FROM comp c JOIN tokc t USING (doc_id)
    )
    SELECT cluster_id, doc_id AS survivor_doc_id,
           CAST(n_members AS BIGINT) AS n_members, n_tok AS survivor_tokens
    FROM ranked WHERE rk = 1
    """,
    survey_ref="§2.10 near-dup survivor selection, keep-BEST policy (argmax quality per cluster, not min-id)",
)
def neardup_quality_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production survivor rule: within each near-dup cluster keep the
    highest-quality member (here: most tokens, doc_id tie-break), not the
    arbitrary min-id — dedup should discard the truncated/mangled copies,
    not a random one. The rank window partitions by cluster_id: near-dup
    clusters are tiny by construction, so the window never sees more than
    a cluster's worth of rows at any corpus size."""
    comps = _doc_clusters(spark, sf_dir)
    tokc = _docs(spark, sf_dir).select(
        "doc_id", T.token_count(F.col("text")).alias("n_tok")
    )
    joined = comps.join(tokc, "doc_id")
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("n_tok").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster_id")
    return (
        joined.select(
            "cluster_id",
            "doc_id",
            "n_tok",
            F.row_number().over(w).alias("rk"),
            F.count(F.lit(1)).over(wc).alias("n_members"),
        )
        .filter(F.col("rk") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("survivor_doc_id"),
            "n_members",
            F.col("n_tok").alias("survivor_tokens"),
        )
    )


# --- eval-set decontamination -------------------------------------------------


@query(
    "decontamination_pairs",
    oracle="""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' ')))) AS g
      FROM toked WHERE len(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id, CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h FROM grams
    ),
    ev AS (SELECT doc_id AS eval_id, h FROM hashed WHERE doc_id % 40 = 0),
    tr AS (SELECT doc_id AS train_id, h FROM hashed WHERE doc_id % 40 <> 0)
    SELECT tr.train_id, ev.eval_id, count(DISTINCT tr.h) AS n_shared
    FROM tr JOIN ev USING (h)
    GROUP BY 1, 2 HAVING count(DISTINCT tr.h) >= 2
    """,
    survey_ref="§2.10 eval-set decontamination (train-eval n-gram collision screen)",
)
def decontamination_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ev = docs.filter(F.col("doc_id") % 40 == 0)
    tr = docs.filter(F.col("doc_id") % 40 != 0)
    return T.ngram_overlap_pairs(tr, ev)


@query(
    "repetition_scores",
    oracle=f"""
    WITH toked AS (
      SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> array_to_string(toks[i:i+1], ' '))) AS g
      FROM toked WHERE len(toks) >= 2
    ),
    per_gram AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
    agg AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
             CAST(count(*) AS BIGINT) AS n_distinct,
             CAST(max(c) AS BIGINT) AS top_c
      FROM per_gram GROUP BY doc_id
    )
    SELECT doc_id, n_grams,
           {ratio_e4_sql('n_grams - n_distinct', 'n_grams')} AS dup_frac_e4,
           {ratio_e4_sql('top_c', 'n_grams')} AS top_frac_e4
    FROM agg
    """,
    survey_ref="§2.10 intra-doc repetition signals (Gopher-style dup/top n-gram fractions)",
)
def repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.repetition_scores(_docs(spark, sf_dir))


# --- PII redaction ------------------------------------------------------------
# The synthetic corpus contains no PII, which would make the scrub vacuous;
# both engines therefore inject the same deterministic email+IP into every
# 9th document (the _DUPED pattern) and the check compares occurrence
# counts AND the md5 of the fully redacted text — placement-exact parity.


@query(
    "pii_redaction",
    oracle="""
    WITH injected AS (
      SELECT doc_id,
             CASE WHEN doc_id % 9 = 0
                  THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                       || '@example.com at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.17'
                  ELSE text END AS text
      FROM documents
    ),
    redacted AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
               AS n_emails,
             len(regexp_extract_all(text, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b'))
               AS n_ips,
             regexp_replace(
               regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                              '<EMAIL>', 'g'),
               '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS redacted
      FROM injected
    )
    SELECT doc_id, CAST(n_emails AS INT) AS n_emails, CAST(n_ips AS INT) AS n_ips,
           md5(redacted) AS redacted_md5
    FROM redacted
    """,
    survey_ref="§2.10 PII scrub (email/IP masking, pre-training privacy pass)",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 9 == 0,
            F.concat(
                F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
                F.lit("@example.com at 10.0."), (F.col("doc_id") % 256).cast("string"),
                F.lit(".17"),
            ),
        ).otherwise(F.col("text")),
    )
    out = T.redact_pii(docs)
    return out.select(
        "doc_id", "n_emails", "n_ips", F.md5("redacted").alias("redacted_md5")
    )


# --- end-to-end training-set materialization ----------------------------------
# The capstone composition: what an LLM data pipeline actually ships —
# quality gate → near-dup survivor pick (connected components) → eval-set
# removal + decontamination screen → PII scrub → per-language stats of the
# materialized training set. Every stage is an operator proven above; the
# oracle replays the ENTIRE composition (including MinHash + recursive
# closure) in one DuckDB query, so the final training-set accounting is
# hash-checked end to end.


@query(
    "training_set_materialize",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()},
    quality AS (
      SELECT doc_id, lang, text, len(toks) AS n_tok,
             (len(toks) BETWEEN 10 AND 1000
              AND CASE WHEN len(toks) > 0
                       THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END > 0.3
              AND CASE WHEN length(text) > 0
                       THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                            / length(text) ELSE 0.0 END < 0.2) AS keep
      FROM (
        SELECT doc_id, lang, text,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      )
    ),
    surv AS (SELECT doc_id FROM comp WHERE doc_id = cluster_id),
    g3 AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
      FROM (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                 range(1, greatest(len(toks) - 2, 0) + 1),
                 i -> array_to_string(toks[i:i+2], ' ')))) AS g
        FROM (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
          FROM documents
        ) WHERE len(toks) >= 3
      )
    ),
    contaminated AS (
      SELECT DISTINCT tr.doc_id AS train_id
      FROM (SELECT * FROM g3 WHERE doc_id % 40 <> 0) tr
      JOIN (SELECT * FROM g3 WHERE doc_id % 40 = 0) ev USING (h)
      GROUP BY tr.doc_id, ev.doc_id HAVING count(DISTINCT h) >= 2
    ),
    kept AS (
      SELECT q.doc_id, q.lang, q.n_tok,
             CASE WHEN q.doc_id % 9 = 0
                  THEN q.text || ' contact user' || CAST(q.doc_id AS VARCHAR)
                       || '@example.com at 10.0.' || CAST(q.doc_id % 256 AS VARCHAR) || '.17'
                  ELSE q.text END AS text
      FROM quality q
      JOIN surv USING (doc_id)
      WHERE q.keep AND q.doc_id % 40 <> 0
        AND q.doc_id NOT IN (SELECT train_id FROM contaminated)
    ),
    red AS (
      SELECT doc_id, lang, n_tok,
             len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}'))
             + len(regexp_extract_all(text, '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b'))
               AS n_pii
      FROM kept
    )
    SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS sum_tokens,
           CAST(sum(n_pii) AS BIGINT) AS n_pii_masked
    FROM red GROUP BY lang
    """,
    survey_ref="§2.10 end-to-end training-set materialization (quality → dedup → decontam → PII)",
)
def training_set_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    q = T.quality_features(docs)
    keep = (
        F.col("q_tokens").between(10, 1000)
        & (F.col("q_distinct_token_ratio") > 0.3)
        & (F.col("q_punct_ratio") < 0.2)
    )
    quality_ids = q.filter(keep).select("doc_id", "lang", "q_tokens")
    surv = (
        _doc_clusters(spark, sf_dir)
        .filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id")
    )
    ev = docs.filter(F.col("doc_id") % 40 == 0)
    tr = docs.filter(F.col("doc_id") % 40 != 0)
    contaminated = (
        T.ngram_overlap_pairs(tr, ev)
        .select(F.col("train_id").alias("doc_id"))
        .distinct()
    )
    kept = (
        quality_ids.join(surv, "doc_id")
        .filter(F.col("doc_id") % 40 != 0)
        .join(contaminated, "doc_id", "left_anti")
        .join(docs.select("doc_id", "text"), "doc_id")
        .withColumn(
            "text",
            F.when(
                F.col("doc_id") % 9 == 0,
                F.concat(
                    F.col("text"), F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com at 10.0."),
                    (F.col("doc_id") % 256).cast("string"), F.lit(".17"),
                ),
            ).otherwise(F.col("text")),
        )
    )
    # redact_pii passes lang/q_tokens through, so the whole upstream
    # (quality gate, clusters, decontamination screen) is referenced exactly
    # once — a join-back on doc_id here would make Spark evaluate every
    # non-checkpointed subtree twice.
    red = T.redact_pii(kept)
    return red.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("q_tokens").alias("sum_tokens"),
        F.sum(F.col("n_emails") + F.col("n_ips")).alias("n_pii_masked"),
    )


# --- cross-document boilerplate (C4 repeated-line removal, phrase-level) ------
# C4 drops any LINE that occurs >= 3 times in the corpus; this corpus has no
# line structure, so the unit is the word 3-gram — same pipeline shape
# (global frequency over exploded units → per-doc coverage), same purpose
# (template/boilerplate text suppression before training).

_GRAMS3 = """
      SELECT doc_id, unnest(list_distinct(list_transform(
        range(1, greatest(len(toks) - 2, 0) + 1),
        i -> array_to_string(toks[i:i+2], ' ')))) AS gram
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
      ) WHERE len(toks) >= 3
"""


@query(
    "boilerplate_phrases",
    oracle=f"""
    WITH g AS ({_GRAMS3})
    SELECT CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h,
           count(*) AS n_docs
    FROM g GROUP BY gram_h HAVING count(*) >= 3
    """,
    survey_ref="§2.10 boilerplate phrase detection (C4 repeated-line removal, phrase unit)",
)
def boilerplate_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.frequent_ngrams(_docs(spark, sf_dir))


@query(
    "boilerplate_doc_ratio",
    oracle=f"""
    WITH g AS ({_GRAMS3}),
    gh AS (
      SELECT doc_id, CAST(('0x' || substr(md5(gram), 1, 15)) AS BIGINT) AS gram_h
      FROM g
    ),
    freq AS (
      SELECT gram_h, TRUE AS b FROM gh GROUP BY gram_h HAVING count(*) >= 3
    ),
    agg AS (
      SELECT doc_id, count(*) AS n_grams,
             CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
      FROM gh LEFT JOIN freq USING (gram_h)
      GROUP BY doc_id
    )
    SELECT doc_id, n_grams, n_boiler,
           {ratio_e4_sql('n_boiler', 'n_grams')} AS boiler_ratio_e4
    FROM agg
    """,
    survey_ref="§2.10 per-doc boilerplate coverage (threshold input for C4-style cleaning)",
)
def boilerplate_doc_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return T.boilerplate_coverage(docs, T.frequent_ngrams(docs))


# --- tokenizer training + LM-quality scoring (§2.10 extensions) ---------------------

@query(
    "bpe_pair_counts",
    oracle=r"""
    WITH tk AS (
      SELECT list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS tks
      FROM documents
    ), pairs AS (
      SELECT unnest(tks[1:len(tks)-1]) || ' ' || unnest(tks[2:len(tks)]) AS pair
      FROM tk WHERE len(tks) >= 2
    )
    SELECT pair, count(*) AS n FROM pairs GROUP BY pair HAVING count(*) >= 3
    """,
    survey_ref="§2.10 tokenizer training: BPE pair-frequency iteration",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.token_pair_counts(_docs(spark, sf_dir), min_count=3)


@query(
    "unigram_surprisal_score",
    oracle=r"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS tok
      FROM documents
    ), dc AS (
      SELECT doc_id, tok, count(*) AS c FROM tok GROUP BY doc_id, tok
    ), vocab AS (
      SELECT tok, sum(c)::BIGINT AS n_tok FROM dc GROUP BY tok
    ), tot AS (
      SELECT sum(n_tok)::BIGINT AS n_total FROM vocab
    )
    SELECT doc_id, sum(c)::BIGINT AS n_tok_doc,
           round(-sum(c * ln(n_tok / n_total)) / sum(c), 4) AS surprisal
    FROM dc JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
    """,
    survey_ref="§2.10 quality scoring: unigram-LM surprisal (perplexity-filter proxy)",
)
def unigram_surprisal_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.unigram_surprisal(_docs(spark, sf_dir))


@query(
    "quality_classifier",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    ), f AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN length(text)::DOUBLE / len(toks) ELSE 0.0 END AS mean_tok,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE / length(text)
                  ELSE 0.0 END AS punct,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE / length(text)
                  ELSE 0.0 END AS upper_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
                       / len(toks) ELSE 0.0 END AS stop_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END AS dtr
      FROM t
    ), z AS (
      SELECT doc_id,
             0.5 + 4.0*stop_r + 2.0*dtr + (-6.0)*punct + (-2.0)*upper_r + (-0.25)*mean_tok AS z
      FROM f
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 4) AS quality_score,
           (1.0 / (1.0 + exp(-z))) >= 0.5 AS keep
    FROM z
    """,
    survey_ref="§2.10 model-based quality filtering (classifier inference gate)",
)
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T.quality_classifier_score(_docs(spark, sf_dir))


@query(
    "span_dedup_summary",
    oracle=f"""
    WITH base AS ({_DUPED}),
    tk AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
      FROM base
    ),
    positions AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, CAST(ceil(len(toks) / 20.0) AS INT) - 1)) AS pos
      FROM tk WHERE len(toks) > 0
    ),
    spans AS (
      SELECT doc_id, pos,
             array_to_string(toks[pos*20+1 : pos*20+20], ' ') AS span_text
      FROM positions
    ),
    ranked AS (
      SELECT doc_id, pos, span_text,
             row_number() OVER (PARTITION BY span_text ORDER BY doc_id, pos) AS rn
      FROM spans
    )
    SELECT doc_id, count(*) AS n_spans,
           sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           md5(coalesce(string_agg(CASE WHEN rn = 1 THEN span_text END, ' ' ORDER BY pos), ''))
             AS kept_md5
    FROM ranked GROUP BY doc_id
    """,
    survey_ref="§2.10 span-level exact dedup (Lee et al. 2021 chunk approximation)",
)
def span_dedup_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.span_dedup(_docs_with_dups(spark, sf_dir), span=20)


# Score subquery shared with quality_classifier's oracle (same fixed
# weights as operators/text.py::QUALITY_CLF_WEIGHTS) — yields
# (doc_id, score) for every document.
_QSCORE_SQL = r"""
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-(
             0.5
             + 4.0 * (CASE WHEN len(toks) > 0
                 THEN len(list_filter(toks, x -> x IN
                     ('the','a','of','and','to','in','is','that','it','for')))::DOUBLE
                      / len(toks) ELSE 0.0 END)
             + 2.0 * (CASE WHEN len(toks) > 0
                 THEN len(list_distinct(toks))::DOUBLE / len(toks) ELSE 0.0 END)
             + (-6.0) * (CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                      / length(text) ELSE 0.0 END)
             + (-2.0) * (CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                      / length(text) ELSE 0.0 END)
             + (-0.25) * (CASE WHEN len(toks) > 0
                 THEN length(text)::DOUBLE / len(toks) ELSE 0.0 END)
           ))), 4) AS score
    FROM (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS toks
      FROM documents
    )
"""


@query(
    "classifier_selection_audit",
    oracle=f"""
    WITH sc AS ({_QSCORE_SQL}),
    dec AS (
      SELECT s.doc_id, s.score, d.n_chars,
             CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS is_en,
             ntile(10) OVER (ORDER BY s.score, s.doc_id) AS decile
      FROM sc s JOIN documents d USING (doc_id)
    ),
    agg AS (
      SELECT decile, count(*) AS n,
             round(sum(score), 4) AS sum_score,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(is_en) AS BIGINT) AS n_en
      FROM dec GROUP BY 1
    )
    SELECT decile, n, sum_score, sum_chars, n_en,
           {ratio_e4_sql('sum_chars', 'n')} AS avg_chars_e4,
           {ratio_e4_sql('n_en', 'n')} AS en_share_e4
    FROM agg
    """,
    survey_ref="§2.10 extension: classifier selection-bias audit (score "
    "deciles × length/language composition — what does the quality gate "
    "actually select)",
)
def classifier_selection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selection-bias audit of the quality classifier: documents bucketed
    into score deciles (deterministic ntile on the 4dp-rounded score with
    doc_id tiebreak), each decile profiled by length and language mix —
    the pre-deployment check that a learned data filter isn't silently
    selecting for 'long English prose' instead of quality (the FineWeb /
    DCLM ablation discipline). The decile assignment is the scale-safe
    bucketed-ntile build (operators/scale_windows.py): the 4dp-rounded
    score has ≤10,001 distinct values, so it partitions on the score
    itself — per-value counts, one support-sized cumulative window, a
    value-partitioned row_number; no single-partition sort of the corpus
    (this was the one query outside the r5 verdict's six that the
    unpartitioned-window plan sweep still flagged). Length/language
    shares are exact round-half-up 1e-4-scaled BIGINTs
    (operators/exact_math.py — the r4 cross-engine rounding trap hits
    integer quotients at any fixed dp); only sum_score is a rounded
    float agg."""
    d = _docs(spark, sf_dir)

    sc = T.quality_classifier_score(d).select("doc_id", "quality_score")
    # bucketed_ntile references its input thrice; checkpoint the scored
    # narrow frame so the text-heavy classifier scan runs once (measured
    # 2.09 s → 1.65 s at sf0.1)
    joined = (
        sc.join(d.select("doc_id", "n_chars", "lang"), "doc_id")
        .transform(checkpoint)
    )
    dec = bucketed_ntile(
        joined, F.col("quality_score"), [F.col("doc_id")], 10, out="decile"
    )
    agg = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("quality_score"), 4).alias("sum_score"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).alias("n_en"),
    )
    return agg.select(
        "decile", "n", "sum_score", "sum_chars", "n_en",
        ratio_e4("sum_chars", "n").alias("avg_chars_e4"),
        ratio_e4("n_en", "n").alias("en_share_e4"),
    )


# --- LSH banding recall audit ------------------------------------------------


def _lsh_recall_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()},
    ext AS (SELECT id, unnest(hs) AS h FROM hs),
    tcand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM ext a JOIN ext b ON a.h = b.h AND a.id < b.id
    ),
    truth AS (
      SELECT c.id_a, c.id_b FROM tcand c
      JOIN hs ha ON ha.id = c.id_a
      JOIN hs hb ON hb.id = c.id_b
      WHERE len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))::DOUBLE
            / (len(ha.hs) + len(hb.hs)
               - len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))) >= 0.5
    ),
    found AS (SELECT id_a, id_b, 1 AS f FROM verified WHERE jaccard >= 0.5),
    joined AS (
      SELECT t.id_a, t.id_b, f.f FROM truth t
      LEFT JOIN found f ON f.id_a = t.id_a AND f.id_b = t.id_b
    ),
    agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
             CAST(coalesce(sum(f), 0) AS BIGINT) AS n_found_pairs,
             CAST(count(*) - coalesce(sum(f), 0) AS BIGINT) AS n_missed
      FROM joined
    )
    SELECT n_true_pairs, n_found_pairs, n_missed,
           {ratio_e4_sql('n_found_pairs', 'greatest(n_true_pairs, 1)')}
             AS recall_e4
    FROM agg
    """


@query(
    "lsh_recall_audit",
    oracle=_lsh_recall_oracle(),
    survey_ref="§2.10 dedup evaluation harness: recall of the LSH banding "
    "stage vs exact-Jaccard ground truth (lossless shared-shingle "
    "blocking) — the accuracy/cost dial of probabilistic dedup, the "
    "banding twin of ivf_recall_at_k",
)
def lsh_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/dedup.py::lsh_recall_audit at the registered
    minhash_lsh_pairs parameters (16 hashes, 4 bands, J ≥ 0.5), plus the
    exact e4 recall ratio. One row; every input to the ratio is an exact
    integer."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = _audit(docs)
    return out.select(
        "n_true_pairs",
        "n_found_pairs",
        "n_missed",
        ratio_e4("n_found_pairs", "greatest(n_true_pairs, 1)").alias("recall_e4"),
    )


# --- LSH threshold sweep -----------------------------------------------------

_SWEEP_THRESHOLDS = [50, 60, 70, 80, 90]


def _sweep_oracle() -> str:
    ts = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
    WITH {_minhash_ctes()},
    iu AS (
      SELECT c.id_a, c.id_b,
             CAST(len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))
                  AS BIGINT) AS inter,
             CAST(len(ha.hs) + len(hb.hs)
                  - len(list_filter(ha.hs, x -> list_contains(hb.hs, x)))
                  AS BIGINT) AS uni
      FROM cand c
      JOIN hs ha ON ha.id = c.id_a
      JOIN hs hb ON hb.id = c.id_b
    )
    SELECT CAST(t AS BIGINT) AS threshold_pct,
           CAST(sum(CASE WHEN inter * 100 >= t * uni THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pairs
    FROM iu CROSS JOIN unnest([{ts}]) u(t)
    GROUP BY t
    """


@query(
    "neardup_threshold_sweep",
    oracle=_sweep_oracle(),
    survey_ref="§2.10 dedup evaluation: Jaccard-threshold sensitivity "
    "sweep over the verified LSH candidate set — 5 thresholds from ONE "
    "candidate generation + verify pass; comparisons are exact "
    "cross-multiplied integers (inter·100 ≥ t·union), never float "
    "Jaccard, so the dedup-aggressiveness dial replays bit-identically",
)
def neardup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many near-dup pairs does each threshold keep? The candidate set
    and hashed-shingle verify are computed ONCE (the banded-LSH pipeline
    of minhash_lsh_pairs with the verify emitting integer inter/union);
    the sweep is a 5-way conditional count over that one pass. At 100 TB
    the sweep costs the same as a single-threshold dedup — the
    exploration tool for choosing jaccard_threshold before committing a
    full dedup run."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    hashed = checkpoint(D._hashed_shingles(docs))
    banded = D._banded(hashed)
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    hs_a = hashed.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hs_b = hashed.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    iu = (
        cand.join(hs_a, "id_a")
        .join(hs_b, "id_b")
        .select(
            F.size(F.array_intersect("hs_a", "hs_b")).cast("long").alias("inter"),
            (
                F.size("hs_a") + F.size("hs_b")
                - F.size(F.array_intersect("hs_a", "hs_b"))
            )
            .cast("long")
            .alias("uni"),
        )
    )
    ts = ",".join(str(t) for t in _SWEEP_THRESHOLDS)
    swept = iu.select("inter", "uni", F.explode(F.expr(f"array({ts})")).alias("t"))
    return swept.groupBy(F.col("t").cast("long").alias("threshold_pct")).agg(
        F.sum(
            (F.col("inter") * 100 >= F.col("t") * F.col("uni")).cast("long")
        )
        .cast("long")
        .alias("n_pairs")
    )


# --- near-dup source cross-contamination matrix ------------------------------


def _source_matrix_oracle() -> str:
    return f"""
    WITH {_minhash_ctes()},
    pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5),
    tagged AS (
      SELECT least(da.source, db.source) AS source_a,
             greatest(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.id_a
      JOIN documents db ON db.doc_id = p.id_b
    )
    SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY source_a, source_b
    """


@query(
    "neardup_source_matrix",
    oracle=_source_matrix_oracle(),
    survey_ref="§2.10 dedup provenance: near-dup pair counts by "
    "(source, source) cell — WHERE duplication comes from (intra-source "
    "boilerplate vs cross-source scraping overlap), the diagnostic that "
    "decides per-source dedup policy; symmetric cells canonicalized "
    "least/greatest",
)
def neardup_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered LSH pairs (same parameters as minhash_lsh_pairs)
    joined back to the source dim, canonicalized to an unordered cell.
    Two id equi-joins on the pair list (pair-count-sized, not corpus-
    sized) + one tiny-key agg. At 100 TB the join input is the dedup
    run's own output — the matrix is free relative to the dedup."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    pairs = D.minhash_lsh_pairs(docs, jaccard_threshold=0.5)
    src = docs.select("doc_id", "source")
    tagged = (
        pairs.join(src.withColumnRenamed("doc_id", "id_a").withColumnRenamed("source", "sa"), "id_a")
        .join(src.withColumnRenamed("doc_id", "id_b").withColumnRenamed("source", "sb"), "id_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# --- dedup quality-impact audit ----------------------------------------------


def _dedup_impact_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()},
    tagged AS (
      SELECT d.doc_id, d.n_chars,
             CASE WHEN c.cluster_id <> d.doc_id THEN 'removed'
                  ELSE 'kept' END AS fate
      FROM documents d JOIN comp c ON c.doc_id = d.doc_id
    )
    SELECT fate, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           {ratio_e4_sql('sum(n_chars)', 'count(*)')} AS mean_chars_e4
    FROM tagged GROUP BY fate
    """


@query(
    "dedup_quality_impact",
    oracle=_dedup_impact_oracle(),
    survey_ref="§2.10 dedup evaluation: what does min-id near-dup removal "
    "DO to the corpus — kept vs removed cohorts with exact counts and e4 "
    "mean lengths (the 'is dedup biased against long/short docs' audit "
    "run before committing a survivor rule)",
)
def dedup_quality_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The registered LSH clusters tag every doc kept (cluster rep /
    singleton) or removed; one join + one 2-group agg on top of the
    already-gated clustering. At 100 TB this audit is free relative to
    the dedup run it evaluates — and it's the evidence for choosing
    keep-best-quality over keep-min-id (see neardup_quality_survivors)."""
    comps = _doc_clusters(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    tagged = docs.join(comps, "doc_id").select(
        "n_chars",
        F.when(F.col("cluster_id") != F.col("doc_id"), "removed")
        .otherwise("kept")
        .alias("fate"),
    )
    return tagged.groupBy("fate").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
        ratio_e4("sum(n_chars)", "count(1)").alias("mean_chars_e4"),
    )


# --- prefix-filtered exact Jaccard join (All-Pairs / PPJoin) ------------------


def _prefix_filter_oracle() -> str:
    return f"""
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS grams
      FROM toksrc WHERE len(toks) >= 3
    ),
    sized AS (SELECT doc_id, grams, len(grams) AS s FROM g),
    dg AS (SELECT doc_id, unnest(grams) AS gram FROM sized),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    v AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(x.grams, tk -> list_contains(y.grams, tk)))
               AS inter,
             x.s AS sa, y.s AS sb
      FROM cand c
      JOIN sized x ON x.doc_id = c.id_a
      JOIN sized y ON y.doc_id = c.id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(inter AS BIGINT) AS inter, CAST(sa AS BIGINT) AS sa,
           CAST(sb AS BIGINT) AS sb,
           {ratio_e4_sql('inter', '(sa + sb - inter)')} AS jaccard_e4
    FROM v WHERE inter * 10 >= 3 * (sa + sb - inter)
    """


@query(
    "prefix_filter_neardup_pairs",
    oracle=_prefix_filter_oracle(),
    survey_ref="§2.10 dedup: All-Pairs/PPJoin prefix-filtered exact "
    "Jaccard join (Chaudhuri 2006 / Xiao WWW'08) — third candidate "
    "strategy beside LSH banding and length-bucket blocking; candidates "
    "only from the rarest-grams-first prefix inverted index, verified by "
    "exact integer cross-multiplication; the oracle brute-forces ALL "
    "shared-gram pairs, so equality proves the prefix filter lossless",
)
def prefix_filter_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact near-dup join over 3-word shingles at
    J >= 0.3 (operators/dedup.py::prefix_filter_jaccard_pairs). The
    global rarity order is a SORT KEY (df, gram) — never a materialized
    global rank — so the plan is agg + doc-local window + posting-list
    equi-join; stopword-ish shingles with huge document frequency never
    enter the candidate index. Identical output to the oracle's
    all-shared-gram quadratic."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = prefix_filter_jaccard_pairs(docs)
    return out.select(
        "id_a",
        "id_b",
        "inter",
        "sa",
        "sb",
        ratio_e4("inter", "(sa + sb - inter)").alias("jaccard_e4"),
    )


# --- k-fold contamination audit -----------------------------------------------


def _fold_contamination_oracle() -> str:
    return f"""
    WITH folded AS (
      SELECT doc_id, md5({_NORM}) AS fp,
             ntile(5) OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS fold
      FROM ({_DUPED}) documents
    ),
    groups AS (
      SELECT fp, count(*) AS n_docs, count(DISTINCT fold) AS n_folds,
             min(doc_id) AS keep
      FROM folded GROUP BY fp HAVING count(*) > 1
    )
    SELECT CAST(n_folds AS BIGINT) AS folds_spanned,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           CAST(sum(keep) AS BIGINT) AS keep_sum
    FROM groups GROUP BY 1
    """


@query(
    "fold_contamination_audit",
    oracle=_fold_contamination_oracle(),
    survey_ref="§2.10/§6 extension: cross-validation contamination audit "
    "— exact-duplicate groups whose members span MULTIPLE folds of the "
    "stratified hash-ntile split (the kfold_assignment grain); a dup "
    "group in >1 fold means train/test leakage the fold split alone "
    "cannot see",
)
def fold_contamination_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much duplicate-driven leakage does a naive per-doc CV split
    admit? Fingerprint groups (md5 of normalized text, the exact-dedup
    grain) x the kfold_assignment fold rule; groups spanning >= 2 folds
    put copies of one text on both sides of a fold boundary. One window
    + two aggs; the duped fixture guarantees non-vacuous groups. The
    production fix this audit motivates is leakage_safe_split (group
    split by fingerprint, already registered)."""

    docs = _docs_with_dups(spark, sf_dir)
    fold_w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    folded = docs.select(
        "doc_id",
        F.md5(normalized(F.col("text"))).alias("fp"),
        F.ntile(5).over(fold_w).alias("fold"),
    )
    groups = (
        folded.groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("fold").cast("long").alias("n_folds"),
            F.min("doc_id").alias("keep"),
        )
        .where(F.col("n_docs") > 1)
    )
    return groups.groupBy(F.col("n_folds").alias("folds_spanned")).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("keep").cast("long").alias("keep_sum"),
    )


# --- containment (doc-in-doc) near-dup join -----------------------------------
# The synthetic corpus has no near-subset pairs, so both engines union in a
# half-length excerpt of every 20th doc (id + 2000000) — the doc-in-doc case
# a symmetric Jaccard threshold misses (excerpt J ~= 0.5, containment ~= 1).


def _containment_oracle() -> str:
    return f"""
    WITH src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000,
             array_to_string(
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '')[1:CAST(len(list_filter(
                 string_split_regex(lower(text), '\\s+'), x -> x <> ''))
                 // 2 AS INT)], ' ')
      FROM documents WHERE doc_id % 20 = 0
    ),
    toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM src
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS grams
      FROM toksrc WHERE len(toks) >= 3
    ),
    sized AS (SELECT doc_id, grams, len(grams) AS s FROM g),
    dg AS (SELECT doc_id, s, unnest(grams) AS gram FROM sized),
    cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM dg a JOIN dg b
        ON a.gram = b.gram
       AND (a.s < b.s OR (a.s = b.s AND a.doc_id < b.doc_id))
      GROUP BY 1, 2
    ),
    v AS (
      SELECT c.id_a, c.id_b,
             len(list_filter(x.grams, tk -> list_contains(y.grams, tk)))
               AS inter,
             x.s AS sa, y.s AS sb
      FROM cand c
      JOIN sized x ON x.doc_id = c.id_a
      JOIN sized y ON y.doc_id = c.id_b
    )
    SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b,
           CAST(inter AS BIGINT) AS inter, CAST(sa AS BIGINT) AS sa,
           CAST(sb AS BIGINT) AS sb,
           {ratio_e4_sql('inter', 'sa')} AS containment_e4
    FROM v WHERE inter * 5 >= 4 * sa
    """


@query(
    "containment_neardup_pairs",
    oracle=_containment_oracle(),
    survey_ref="§2.10 dedup: prefix-filtered exact CONTAINMENT join "
    "(near-subset / doc-in-doc duplication, the case symmetric Jaccard "
    "misses) — candidates from the smaller doc's rarest-grams-first "
    "prefix probed against full posting lists, verified by integer "
    "cross-multiplication inter·5 >= 4·s_small; the oracle brute-forces "
    "ALL shared-gram pairs, so equality proves the filter lossless",
)
def containment_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Excerpt detection: pairs where >= 80% of the smaller doc's 3-gram
    set lies inside the larger's (operators/dedup.py::
    containment_prefix_pairs). The fixture unions in half-length
    excerpts of every 20th doc, which Jaccard at the same threshold
    cannot flag (J ~= 0.5); containment catches exactly the
    quote/excerpt/mirror-with-boilerplate duplication mode. Plan: one
    df agg + one doc-local rank window + one posting-list equi-join."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    tk = tokens(F.col("text"))
    excerpts = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.array_join(
            F.slice(tk, 1, (F.size(tk) / 2).cast("int")), " "
        ).alias("text"),
    )
    src = docs.select("doc_id", "text").unionByName(excerpts)
    out = containment_prefix_pairs(src)
    return out.select(
        "id_a",
        "id_b",
        "inter",
        "sa",
        "sb",
        ratio_e4("inter", "sa").alias("containment_e4"),
    )


# --- composite record linkage (Fellegi–Sunter-ish integer scoring) --------------
# The synthetic customers are all distinct (names differ in >= 1 digit), so
# both engines union in a perturbed copy of every 25th customer: one name
# digit typo'd (position 12 -> 'x'), balance shifted +$0.50, same nation and
# segment — then link on a blocked composite score. Blocking key =
# (nationkey, last 4 name chars), untouched by the position-12 typo.
#
# A typo'd copy of customer c gets id _SYNTH_ID_BASE + c: above every real
# key (c_custkey < 150,000·sf) and every replica key of a k× copy (stride
# 10^8), so the synthetic-member counts stay exact at any scale. Positive on
# purpose: entity_clusters_incremental_equiv splits pairs by
# (id_a + id_b) % 2, which Spark evaluates to -1 for a negative odd sum.
_SYNTH_ID_BASE = 1 << 40

_RECORD_LINKAGE_SQL = f"""
    WITH src AS (
      SELECT c_custkey AS id, c_name, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
      UNION ALL
      SELECT c_custkey + {_SYNTH_ID_BASE},
             substr(c_name, 1, 11) || 'x' || substr(c_name, 13),
             c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT) + 50
      FROM customer WHERE c_custkey % 25 = 0
    ),
    b AS (
      SELECT id, c_name, c_nationkey, c_mktsegment, bal_c,
             c_nationkey || '_' || substr(c_name, 15, 4) AS blk
      FROM src
    ),
    scored AS (
      SELECT x.id AS id_a, y.id AS id_b,
             CAST(levenshtein(x.c_name, y.c_name) AS BIGINT) AS name_dist,
             CAST(CASE WHEN levenshtein(x.c_name, y.c_name) <= 1
                       THEN 4 ELSE 0 END
                + CASE WHEN x.c_mktsegment = y.c_mktsegment
                       THEN 2 ELSE 0 END
                + CASE WHEN abs(x.bal_c - y.bal_c) <= 100
                       THEN 1 ELSE 0 END AS BIGINT) AS score
      FROM b x JOIN b y ON x.blk = y.blk AND x.id < y.id
    )
    SELECT id_a, id_b, name_dist, score
    FROM scored WHERE score >= 6
    """


@query(
    "record_linkage_pairs",
    oracle=_RECORD_LINKAGE_SQL,
    survey_ref="§2.10 entity resolution: blocked composite record linkage "
    "— Fellegi–Sunter-style integer field scores (name edit distance ≤1 "
    "→ 4, segment match → 2, balance within $1 → 1; match at ≥6) over "
    "(nation, name-suffix) blocks; the multi-field big brother of "
    "fuzzy_part_names' single-field Levenshtein",
)
def record_linkage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-customer detection across fields that each lie a
    little: per-block pairwise scoring with ALL-integer field weights
    (edit distance, segment equality, balance-in-cents proximity), so
    the match cut is exact in both engines. Blocks bound the join: the
    (nation, last-4-name-chars) key caps block size; no all-pairs."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.floor(F.col("c_acctbal") * 100).cast("long")
    base = c.select(
        F.col("c_custkey").alias("id"), "c_name", "c_nationkey",
        "c_mktsegment", bal.alias("bal_c"),
    )
    typod = c.where(F.col("c_custkey") % 25 == 0).select(
        (F.col("c_custkey") + _SYNTH_ID_BASE).alias("id"),
        F.expr("concat(substr(c_name, 1, 11), 'x', substr(c_name, 13))")
        .alias("c_name"),
        "c_nationkey",
        "c_mktsegment",
        (bal + 50).alias("bal_c"),
    )
    src = base.unionByName(typod).withColumn(
        "blk",
        F.concat_ws("_", F.col("c_nationkey"), F.expr("substr(c_name, 15, 4)")),
    )
    x = src.select(*[F.col(cn).alias(f"{cn}_a") for cn in src.columns])
    y = src.select(*[F.col(cn).alias(f"{cn}_b") for cn in src.columns])
    pairs = x.join(
        y, (F.col("blk_a") == F.col("blk_b")) & (F.col("id_a") < F.col("id_b"))
    )
    name_dist = F.levenshtein("c_name_a", "c_name_b").cast("long")
    score = (
        F.when(name_dist <= 1, F.lit(4)).otherwise(F.lit(0))
        + F.when(F.col("c_mktsegment_a") == F.col("c_mktsegment_b"), 2).otherwise(0)
        + F.when(F.abs(F.col("bal_c_a") - F.col("bal_c_b")) <= 100, 1).otherwise(0)
    ).cast("long")
    return (
        pairs.select(
            "id_a", "id_b", name_dist.alias("name_dist"), score.alias("score")
        )
        .where(F.col("score") >= 6)
    )


# --- weighted (multiset) Jaccard near-dup ----------------------------------------


def _weighted_jaccard_oracle() -> str:
    return f"""
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM ({_DUPED}) documents
    ),
    dg AS (
      SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS cnt
      FROM (
        SELECT doc_id, unnest(list_transform(
                 range(1, greatest(len(toks) - 2, 0) + 1),
                 i -> array_to_string(toks[i:i+2], ' '))) AS gram
        FROM toksrc WHERE len(toks) >= 3
      ) GROUP BY 1, 2
    ),
    tot AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS t FROM dg GROUP BY 1),
    smin AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(least(a.cnt, b.cnt)) AS BIGINT) AS s_min
      FROM dg a JOIN dg b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.id_a, s.id_b, s.s_min,
           ta.t AS tot_a, tb.t AS tot_b,
           {ratio_e4_sql('s.s_min', '(ta.t + tb.t - s.s_min)')}
             AS wjaccard_e4
    FROM smin s
    JOIN tot ta ON ta.doc_id = s.id_a
    JOIN tot tb ON tb.doc_id = s.id_b
    WHERE 3 * s.s_min >= ta.t + tb.t
    """


@query(
    "weighted_jaccard_pairs",
    oracle=_weighted_jaccard_oracle(),
    survey_ref="§2.10 dedup: weighted (multiset) Jaccard join — "
    "J_w = Σ min(c_a,c_b) / Σ max(c_a,c_b) over 3-gram OCCURRENCE counts "
    "(repetition-aware: a doc that repeats a passage 10× is no longer "
    "'identical' to one that has it once, which set Jaccard cannot see); "
    "Σmax = t_a + t_b − Σmin keeps everything BIGINT, threshold 1/2 via "
    "3·Σmin ≥ t_a + t_b cross-multiplication",
)
def weighted_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset near-dup at J_w >= 0.5 over the duped fixture: one
    (doc, gram) count agg (the multiset), one gram-keyed pair join
    summing least(c_a, c_b), two total joins. Completes the exact-dedup
    family: set Jaccard (prefix filter), containment (doc-in-doc), and
    this repetition-aware multiset form. At 100 TB candidates come from
    any bucketing (LSH/prefix) before the Σmin join — here the gate
    deliberately verifies against the all-shared-gram quadratic."""
    docs = _docs_with_dups(spark, sf_dir)
    # the multiset feeds THREE branches (totals + both pair-join sides) —
    # checkpoint the one-tokenize-pass output once (r10, same grounds as
    # the prefix-filter shingle table: the 4x/8x A/B shows exchange reuse
    # does not hold up as the corpus grows)
    dg = (
        docs.select(
            "doc_id", F.explode(word_ngrams_all(F.col("text"), 3)).alias("gram")
        )
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .transform(checkpoint)
    )
    tot = dg.groupBy("doc_id").agg(F.sum("cnt").cast("long").alias("t"))
    a = dg.select(
        F.col("doc_id").alias("id_a"), "gram", F.col("cnt").alias("ca")
    )
    b = dg.select(
        F.col("doc_id").alias("id_b"), "gram", F.col("cnt").alias("cb")
    )
    smin = (
        a.join(b, ["gram"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.least("ca", "cb")).cast("long").alias("s_min"))
    )
    ta = tot.select(F.col("doc_id").alias("id_a"), F.col("t").alias("tot_a"))
    tb = tot.select(F.col("doc_id").alias("id_b"), F.col("t").alias("tot_b"))
    return (
        smin.join(ta, "id_a")
        .join(tb, "id_b")
        .where(3 * F.col("s_min") >= F.col("tot_a") + F.col("tot_b"))
        .select(
            "id_a", "id_b", "s_min", "tot_a", "tot_b",
            ratio_e4("s_min", "(tot_a + tot_b - s_min)").alias("wjaccard_e4"),
        )
    )


# --- sorted-neighborhood entity resolution ----------------------------------------------
# The third blocking strategy beside key blocking (record_linkage_pairs)
# and LSH: sort ALL names once, compare each to its next-W neighbors. The
# typo fixture perturbs the LAST char of every 25th name so the copy sorts
# within W=5 of its original (dense synthetic keys put up to 4 names
# between them).


@query(
    "sorted_neighborhood_pairs",
    oracle=f"""
    WITH src AS (
      SELECT c_custkey AS id, c_name FROM customer
      UNION ALL
      SELECT c_custkey + {_SYNTH_ID_BASE}, substr(c_name, 1, 17) || 'x'
      FROM customer WHERE c_custkey % 25 = 0
    ),
    ordered AS (
      SELECT id, c_name,
             lead(c_name, 1) OVER w AS n1, lead(id, 1) OVER w AS i1,
             lead(c_name, 2) OVER w AS n2, lead(id, 2) OVER w AS i2,
             lead(c_name, 3) OVER w AS n3, lead(id, 3) OVER w AS i3,
             lead(c_name, 4) OVER w AS n4, lead(id, 4) OVER w AS i4,
             lead(c_name, 5) OVER w AS n5, lead(id, 5) OVER w AS i5
      FROM src
      WINDOW w AS (ORDER BY c_name, id)
    ),
    scored AS (
      SELECT 1 AS w, levenshtein(c_name, n1) AS dist,
             CASE WHEN id >= {_SYNTH_ID_BASE} OR i1 >= {_SYNTH_ID_BASE}
               THEN 1 ELSE 0 END
               AS has_typo
      FROM ordered WHERE n1 IS NOT NULL
      UNION ALL
      SELECT 2, levenshtein(c_name, n2),
             CASE WHEN id >= {_SYNTH_ID_BASE} OR i2 >= {_SYNTH_ID_BASE}
               THEN 1 ELSE 0 END
      FROM ordered WHERE n2 IS NOT NULL
      UNION ALL
      SELECT 3, levenshtein(c_name, n3),
             CASE WHEN id >= {_SYNTH_ID_BASE} OR i3 >= {_SYNTH_ID_BASE}
               THEN 1 ELSE 0 END
      FROM ordered WHERE n3 IS NOT NULL
      UNION ALL
      SELECT 4, levenshtein(c_name, n4),
             CASE WHEN id >= {_SYNTH_ID_BASE} OR i4 >= {_SYNTH_ID_BASE}
               THEN 1 ELSE 0 END
      FROM ordered WHERE n4 IS NOT NULL
      UNION ALL
      SELECT 5, levenshtein(c_name, n5),
             CASE WHEN id >= {_SYNTH_ID_BASE} OR i5 >= {_SYNTH_ID_BASE}
               THEN 1 ELSE 0 END
      FROM ordered WHERE n5 IS NOT NULL
    )
    SELECT CAST(w AS BIGINT) AS w,
           CAST(count(*) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN dist <= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           CAST(sum(CASE WHEN dist <= 2 AND has_typo = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_typo_matches
    FROM scored GROUP BY 1
    """,
    survey_ref="§2.10 entity resolution: sorted-neighborhood method "
    "(Hernández & Stolfo 1995) — ONE global name sort, each record "
    "compared to its next 5 neighbors (lead ×5 on the same sort), "
    "Levenshtein ≤ 2 matches censused per window offset; the "
    "sort-based blocking strategy beside key blocks and LSH",
)
def sorted_neighborhood_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNM blocking: candidates = sort neighbors, not key-block members
    — catches typos that key blocking would need the right key for.

    Scale shape (r5 verdict item 5 — the range-partitioned form SCALE.md
    promised, now implemented): the global (c_name, id) position comes
    from bucketed_global_rank partitioned on a 15-char name prefix (a
    monotone coarsening of the sort key — per-bucket row_numbers + one
    support-sized cumulative window, no single-partition sort), and the
    next-W neighbor pairs come from a BANDED self-join: rows keyed by
    band = (rank-1) div 256, the partner side duplicated into its own and
    the previous band (the W-row boundary overlap), joined on band with
    1 ≤ rank_b − rank_a ≤ 5. Band size 256 ≥ W guarantees every neighbor
    pair shares a key. The oracle keeps the global-sort lead() form; hash
    equality proves the banded build exact."""
    c = load_table(spark, sf_dir, "customer")
    src = c.select(F.col("c_custkey").alias("id"), "c_name").unionByName(
        c.where(F.col("c_custkey") % 25 == 0).select(
            (F.col("c_custkey") + _SYNTH_ID_BASE).alias("id"),
            F.expr("concat(substr(c_name, 1, 17), 'x')").alias("c_name"),
        )
    )
    # ranked feeds both join sides — checkpoint the dimension-sized frame
    ranked = bucketed_global_rank(
        src, F.substring("c_name", 1, 15), [F.col("c_name"), F.col("id")],
        out="r",
    ).transform(checkpoint)
    band = ((F.col("r") - 1) / 256).cast("long")
    a = ranked.select(
        F.col("id").alias("id_a"), F.col("c_name").alias("name_a"),
        F.col("r").alias("ra"), band.alias("band"),
    )
    b_own = ranked.select(
        F.col("id").alias("id_b"), F.col("c_name").alias("name_b"),
        F.col("r").alias("rb"), band.alias("band"),
    )
    b_keyed = b_own.unionByName(b_own.withColumn("band", F.col("band") - 1))
    pairs = a.join(b_keyed, "band").where(
        (F.col("rb") - F.col("ra")).between(1, 5)
    )
    scored = pairs.select(
        (F.col("rb") - F.col("ra")).cast("long").alias("w"),
        F.levenshtein("name_a", "name_b").alias("dist"),
        ((F.col("id_a") >= _SYNTH_ID_BASE) | (F.col("id_b") >= _SYNTH_ID_BASE))
        .cast("int")
        .alias("has_typo"),
    )
    return scored.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum((F.col("dist") <= 2).cast("long")).cast("long").alias("n_matched"),
        F.sum(((F.col("dist") <= 2) & (F.col("has_typo") == 1)).cast("long"))
        .cast("long")
        .alias("n_typo_matches"),
    )


# --- prefix-index pruning audit -----------------------------------------------------------


@query(
    "prefix_index_pruning_audit",
    oracle="""
    WITH toksrc AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, greatest(len(toks) - 2, 0) + 1),
               i -> array_to_string(toks[i:i+2], ' '))) AS grams
      FROM toksrc WHERE len(toks) >= 3
    ),
    sized AS (SELECT doc_id, grams, len(grams) AS s FROM g),
    dg AS (SELECT doc_id, s, unnest(grams) AS gram FROM sized),
    dfreq AS (SELECT gram, CAST(count(*) AS BIGINT) AS gdf FROM dg GROUP BY 1),
    ranked AS (
      SELECT dg.doc_id, dg.s, dg.gram, dfreq.gdf,
             row_number() OVER (PARTITION BY dg.doc_id
                                ORDER BY dfreq.gdf, dg.gram) AS pos
      FROM dg JOIN dfreq USING (gram)
    ),
    prefix AS (
      SELECT doc_id, gram, gdf FROM ranked
      WHERE pos <= s - (3 * s + 9) // 10 + 1
    ),
    pcount AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS pc,
             CAST(max(gdf) AS BIGINT) AS gdf
      FROM prefix GROUP BY 1
    )
    SELECT CAST((SELECT count(*) FROM dg) AS BIGINT) AS total_postings,
           CAST((SELECT count(*) FROM prefix) AS BIGINT) AS prefix_postings,
           CAST((SELECT max(gdf) FROM dfreq) AS BIGINT) AS max_df_overall,
           CAST(max(gdf) AS BIGINT) AS max_df_in_prefix,
           CAST((SELECT CAST(sum(gdf * gdf) AS BIGINT) FROM dfreq)
                AS BIGINT) AS pair_mass_naive,
           CAST(sum(pc * pc) AS BIGINT) AS pair_mass_jaccard,
           CAST(sum(pc * gdf) AS BIGINT) AS probe_mass_containment
    FROM pcount
    """,
    survey_ref="§2.10 dedup evidence: prefix-index pruning audit — how "
    "much of the posting mass the rarest-first prefix order actually "
    "removes at t = 0.3: total vs prefix postings, the hottest gram's "
    "df overall vs inside the prefix index, and the PAIR MASSES that "
    "bound each candidate join — Σdf² (naive all-shared-gram), "
    "Σprefix_count² (Jaccard prefix⋈prefix), Σprefix_count·df "
    "(containment prefix⋈postings); the measured form of "
    "prefix_filter_jaccard_pairs' scale claim",
)
def prefix_index_pruning_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHY the prefix filter scales: the candidate join's cost is
    Σ_g index_count(g)·df(g), and putting the RAREST grams first means
    hot shingles (huge df) rarely make the prefix. This audit emits the
    exact before/after posting counts and join masses for the gate
    corpus — the numbers SCALE.md cites. Same plan as the operator up
    to the prefix cut; two global aggregates on top."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    g = (
        docs.select(
            F.col("doc_id").alias("id"), word_ngrams(F.col("text"), 3).alias("g")
        )
        .filter(F.size("g") > 0)
        .withColumn("s", F.size("g").cast("long"))
    )
    dg = g.select("id", "s", F.explode("g").alias("gram"))
    dfreq = dg.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("gdf"))
    pos_w = Window.partitionBy("id").orderBy("gdf", "gram")
    ranked = dg.join(dfreq, "gram").withColumn(
        "pos", F.row_number().over(pos_w)
    )
    prefix = ranked.where(
        F.col("pos") <= F.col("s") - F.expr("(3 * s + 9) div 10") + 1
    )
    pcount = prefix.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("pc"),
        F.max("gdf").cast("long").alias("gdf"),
    )
    totals = dg.agg(F.count(F.lit(1)).cast("long").alias("total_postings"))
    df_stats = dfreq.agg(
        F.max("gdf").cast("long").alias("max_df_overall"),
        F.sum(F.col("gdf") * F.col("gdf")).cast("long").alias("pair_mass_naive"),
    )
    pfx = pcount.agg(
        F.sum("pc").cast("long").alias("prefix_postings"),
        F.max("gdf").cast("long").alias("max_df_in_prefix"),
        F.sum(F.col("pc") * F.col("pc")).cast("long").alias("pair_mass_jaccard"),
        F.sum(F.col("pc") * F.col("gdf")).cast("long").alias("probe_mass_containment"),
    )
    return (
        totals.crossJoin(df_stats)
        .crossJoin(pfx)
        .select(
            "total_postings",
            "prefix_postings",
            "max_df_overall",
            "max_df_in_prefix",
            "pair_mass_naive",
            "pair_mass_jaccard",
            "probe_mass_containment",
        )
    )


# --- LSH cluster-chaining (diameter) audit -------------------------------------


def _cluster_diameter_oracle() -> str:
    return f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()},
    edge AS (
      SELECT c.cluster_id, v.id_a, v.id_b, v.jaccard
      FROM verified v JOIN comp c ON c.doc_id = v.id_a
      WHERE v.jaccard >= 0.5
    ),
    per AS (
      SELECT cluster_id,
             CAST(count(*) AS BIGINT) AS n_edges,
             CAST(floor(min(jaccard) * 10000) AS BIGINT) AS min_edge_j_e4,
             CAST(floor(max(jaccard) * 10000) AS BIGINT) AS max_edge_j_e4
      FROM edge GROUP BY cluster_id
    ),
    sizes AS (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
      FROM comp GROUP BY cluster_id
    )
    SELECT p.cluster_id, p.n_edges, p.min_edge_j_e4, p.max_edge_j_e4,
           s.n_members
    FROM per p JOIN sizes s USING (cluster_id)
    """


@query(
    "neardup_cluster_diameter",
    oracle=_cluster_diameter_oracle(),
    survey_ref="§2.10 near-dup clustering QUALITY audit: per-cluster edge "
    "census (weakest/strongest verified edge + member count) — the "
    "transitive-chaining check on connected-components dedup: a cluster "
    "whose weakest edge sits at the threshold while membership grows is "
    "chaining unrelated docs through intermediates",
)
def neardup_cluster_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Are LSH clusters tight, or threshold-chained? For every cluster:
    edge count, weakest and strongest verified-edge Jaccard (floor-e4
    exact: one IEEE division of identical integers is bit-stable
    cross-engine), member count. Edges join to cluster ids by their min
    endpoint (id_a — components key on min id, so id_a's component IS the
    pair's); everything rides the same LSH pipeline the dedup gates
    already verify, plus one cluster-keyed aggregate. The edge list and
    the components come from ONE materialized LSH run
    (_doc_pairs_clusters) — a second minhash_lsh_pairs call would re-run
    the whole shingle+verify pipeline for an identical frame."""
    pairs, comps = _doc_pairs_clusters(spark, sf_dir)
    edges = pairs.join(
        comps.select(F.col("doc_id").alias("id_a"), "cluster_id"), "id_a"
    )
    per = edges.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.floor(F.min("jaccard") * 10000).cast("long").alias("min_edge_j_e4"),
        F.floor(F.max("jaccard") * 10000).cast("long").alias("max_edge_j_e4"),
    )
    sizes = comps.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return per.join(sizes, "cluster_id")


# --- entity resolution: linkage pairs -> transitive clusters -------------------


def _entity_clusters_oracle() -> str:
    """Recursive-CTE transitive closure over the record_linkage_pairs
    oracle (shared VERBATIM so the two gates can never drift):
    reach(node, comp) enumerates every (member, reachable id); min(comp)
    per node is the component's min id — exactly the hash-min label
    connected_components converges to."""
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({_RECORD_LINKAGE_SQL}) lp
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    reach(node, comp) AS (
      SELECT node, node FROM nodes
      UNION
      SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
    ),
    cc AS (SELECT node, min(comp) AS cluster_id FROM reach GROUP BY node)
    SELECT cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(CASE WHEN node >= {_SYNTH_ID_BASE} THEN 1 ELSE 0 END)
                AS BIGINT)
             AS n_synth,
           CAST(max(node) AS BIGINT) AS max_member
    FROM cc GROUP BY 1
    """


@query(
    "entity_resolution_clusters",
    oracle=_entity_clusters_oracle(),
    survey_ref="§2.10 entity resolution, completed: the blocked linkage "
    "pairs (record_linkage_pairs) taken through hash-min connected "
    "components to transitive entity CLUSTERS with per-cluster membership "
    "stats — the step pair lists alone get wrong (A~B, B~C must merge even "
    "when the A-C pair was never emitted); oracle = recursive-CTE closure "
    "over the SAME pairs SQL, shared verbatim from the registry",
)
def entity_resolution_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linkage pairs -> connected_components (operators/dedup.py:776 — the
    iterated hash-min kernel already gated for near-dup clustering) ->
    one cluster-keyed agg. n_synth counts the synthetic typo'd ids
    (>= _SYNTH_ID_BASE), so the gate checks MEMBERSHIP composition per cluster,
    not just counts. Scale: pair generation is the blocked linkage join
    (bounded blocks), CC iterates over the tiny linked subgraph only —
    rounds cost O(pairs), never O(corpus)."""
    pairs = record_linkage_pairs(spark, sf_dir).select("id_a", "id_b")
    nodes = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    cc = connected_components(nodes, pairs, id_col="id")
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("node") >= _SYNTH_ID_BASE, 1).otherwise(0))
        .cast("long")
        .alias("n_synth"),
        F.max("node").cast("long").alias("max_member"),
    )


# --- incremental CC fold == full recompute --------------------------------------


@query(
    "entity_clusters_incremental_equiv",
    oracle=_entity_clusters_oracle(),
    survey_ref="§2.10 entity resolution, incremental: fold HALF the linkage "
    "pairs into the labeling produced from the other half via label-graph "
    "contraction (operators/dedup.py::connected_components_incremental) — "
    "old edges never re-read, CC rounds run on the contracted batch graph "
    "only; gated hash-identical to the one-shot closure (oracle shared "
    "verbatim with entity_resolution_clusters) — the append-fold "
    "equivalence (append_bm25/ivf-append/scd2_incremental) for graphs",
)
def entity_clusters_incremental_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic edge split ((id_a + id_b) % 2) so both batches are
    non-empty and components SPAN the cut (the case a naive per-batch CC
    gets wrong); batch1 labels + incremental batch2 fold must reproduce
    the full clustering bit-for-bit. Same output shape + oracle as
    entity_resolution_clusters."""
    pairs = (
        record_linkage_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .transform(checkpoint)  # feeds both batches + the agg
    )
    b1 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 0)
    b2 = pairs.filter((F.col("id_a") + F.col("id_b")) % 2 == 1)
    nodes1 = (
        b1.select(F.col("id_a").alias("id"))
        .union(b1.select(F.col("id_b").alias("id")))
        .distinct()
    )
    labels1 = connected_components(nodes1, b1, id_col="id")
    cc = connected_components_incremental(labels1, b2)
    return cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum(F.when(F.col("node") >= _SYNTH_ID_BASE, 1).otherwise(0))
        .cast("long")
        .alias("n_synth"),
        F.max("node").cast("long").alias("max_member"),
    )


# --- FLAGSHIP: full incremental near-dup ingest == from-scratch clustering ------


# Shared VERBATIM with neardup_clusters (queries/dedup_text.py): the from-
# scratch minhash → LSH → connected-components clustering of the whole corpus
# IS the spec the incremental ingest path must reproduce.
@query(
    "incremental_neardup_clusters_equiv",
    oracle=_NEARDUP_CLUSTERS_SQL,
    survey_ref="§2.10 incremental dedup, COMPLETED end-to-end: a new batch "
    "is screened against the persisted LSH reference (write_lsh_reference "
    "layout — corpus side shuffle-free), deduped within itself, and its "
    "pairs FOLDED into the existing cluster labels via "
    "connected_components_incremental — old edges never re-read, old "
    "corpus never re-shingled; gated hash-identical to neardup_clusters' "
    "from-scratch clustering (oracle shared verbatim). Composes the r5 "
    "persisted screen + the r8 CC fold into the full continuous-ingest "
    "story",
)
def incremental_neardup_clusters_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB continuous-ingest path, complete: per batch the work is
    O(batch shingles + matching reference buckets + touched labels) — the
    three pieces that made it exact are (a) LSH candidate generation
    decomposes by endpoint membership (c1×c1 ∪ b2×c1 ∪ b2×b2 with the
    SAME persisted hash params covers exactly the full run's candidate
    set), (b) Jaccard verification is per-pair (identical either way),
    and (c) the CC fold is exact (label-is-min-id invariant,
    entity_clusters_incremental_equiv). Batch docs with no matches enter
    as their own singleton clusters, completing the (doc_id, cluster_id)
    relation over the whole corpus."""

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    c1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    prefix = f"lsh_inc_{os.getpid()}"
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_lsh_inc"), "lsh_inc_"
    )
    # r9 optimization round (guide §1.2 step 1 — don't compute things
    # twice): each corpus slice is consumed by TWO LSH operators (c1 by
    # the reference write AND the within-c1 pairs; b2 by the reference
    # screen AND the within-b2 pairs), and each call used to re-run the
    # shingle+md5 scan. Hash each slice ONCE and pass the frame through
    # the operators' shared-``hashed`` kwarg. The operator calls all
    # materialize eagerly inside the block, so releasing the pins on exit
    # is safe — the returned plan references only checkpointed frames.
    with (
        pinned(D._hashed_shingles(c1)) as h1,
        pinned(D._hashed_shingles(b2)) as h2,
    ):
        D.write_lsh_reference(c1, prefix, buckets=8, path=path, hashed=h1)
        pairs1 = D.minhash_lsh_pairs(c1, jaccard_threshold=0.5, hashed=h1)
        labels1 = D.connected_components(
            c1.select("doc_id"), pairs1, id_col="doc_id"
        )
        cross = D.minhash_lsh_join_reference(
            b2, prefix, jaccard_threshold=0.5, new_hashed=h2
        ).select(F.col("new_id").alias("id_a"), F.col("ref_id").alias("id_b"))
        within = D.minhash_lsh_pairs(
            b2, jaccard_threshold=0.5, hashed=h2
        ).select("id_a", "id_b")
        inc = D.connected_components_incremental(
            labels1, cross.unionByName(within)
        )
    singles = (
        b2.select("doc_id")
        .join(inc.select(F.col("node").alias("doc_id")), "doc_id", "left_anti")
        .select(F.col("doc_id").alias("node"), F.col("doc_id").alias("cluster_id"))
    )
    return inc.unionByName(singles).select(
        F.col("node").alias("doc_id"), "cluster_id"
    )


# --- winnowing (MOSS) local fingerprint pairs -------------------------------------

_WINNOW_DUPED = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 10 = 0
"""


@query(
    "winnowing_fingerprint_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM ({_WINNOW_DUPED}) documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(
               list_transform(range(1, greatest(len(toks) - 2, 0) + 1),
                              i -> array_to_string(toks[i:i+2], ' ')),
               s -> CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      FROM t
    ),
    f AS (
      SELECT doc_id,
             list_distinct(CASE
               WHEN len(hs) >= 4
                 THEN list_transform(range(1, len(hs) - 2),
                                     j -> list_min(hs[j:j+3]))
               WHEN len(hs) >= 1 THEN [list_min(hs)]
               ELSE []::BIGINT[] END) AS fps
      FROM h
    ),
    e AS (SELECT doc_id, unnest(fps) AS fp FROM f),
    kept AS (
      SELECT e.doc_id, e.fp FROM e
      JOIN (SELECT fp FROM e GROUP BY fp HAVING count(*) <= 50) d USING (fp)
    ),
    sizes AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM kept GROUP BY 1
    ),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b ON b.fp = a.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT p.id_a, p.id_b, p.n_shared,
           sa.n_fp AS n_fp_a, sb.n_fp AS n_fp_b
    FROM pairs p
    JOIN sizes sa ON sa.doc_id = p.id_a
    JOIN sizes sb ON sb.doc_id = p.id_b
    """,
    survey_ref="§2.10 dedup family: winnowing local fingerprints "
    "(Schleimer/Wilkerson/Aiken SIGMOD'03, the MOSS algorithm) — sliding "
    "window-min over ordered 3-gram hashes, df-capped fingerprint bucket "
    "join, pairs sharing ≥2 selected fingerprints; the LOCAL-overlap "
    "detector beside the global-sample MinHash family (any shared run of "
    "≥ 6 words guarantees a shared fingerprint)",
)
def winnowing_fingerprint_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style copy detection over the duplicate-injected corpus (the
    dedup fixture — the raw table has no copies, which would gate
    vacuously): winnowing selects each 4-window's minimum 3-gram hash,
    giving position-independent LOCAL fingerprints; documents sharing ≥2
    surviving fingerprints (df ≤ 50 — boilerplate grams dropped by a
    deterministic cap the oracle replays) are candidate copy pairs.

    Guarantee the gate exercises: every injected exact copy shares ALL
    its fingerprints with its source, so the pair list provably contains
    the 1:1 copies; anything else it surfaces is genuine local n-gram
    overlap. Operator: operators/dedup.py::winnowing_shared_pairs (pure
    per-row HOF selection + one fp-bucket equi-join — no cross join, no
    window)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True).select(
        "doc_id", "text"
    )
    copies = docs.where(F.col("doc_id") % 10 == 0).withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    duped = docs.unionByName(copies)
    return winnowing_shared_pairs(duped)
