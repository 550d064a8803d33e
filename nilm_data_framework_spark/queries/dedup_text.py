"""§2.10 LLM-pipeline queries over ``documents``: exact + near dedup, text
quality, language-ID, token counting, fingerprinting, hash splits, tf-idf.

Every hash in every pipeline here is md5-derived (bit-identical in Spark and
DuckDB), so ALL variants — including MinHash-LSH and SimHash end-to-end —
are fully oracle-checked; Python-oracle kernel parity additionally lives in
tests/test_dedup_kernels.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint
from nilm_data_framework_spark.operators.exact_math import ratio_e4, ratio_e4_sql
from nilm_data_framework_spark.operators import dedup as D
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # parallelize: heavy per-row expressions (shingling, hashing) over a
    # small single-file scan would otherwise run on one core.
    return load_table(spark, sf_dir, "documents", parallelize=True)


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
    import os
    import tempfile

    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

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
    from nilm_data_framework_spark.operators.text import STOPWORDS

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
    from nilm_data_framework_spark.operators.splits import hash_split

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


@query(
    "neardup_clusters",
    oracle=f"""
    WITH RECURSIVE {_minhash_ctes()},
    {_components_ctes()}
    SELECT doc_id, cluster_id FROM comp
    """,
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
    from pyspark.sql import Window

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
    from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile

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
