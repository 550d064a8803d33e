"""Extension operators added after round 5's attestation window froze:
recursive hierarchy closure/rollup, the distributed Gram matrix, an
inverted-index build, and a temporal embargo split.

Import-order contract: this module is imported LAST in
plans/registry.py::all_queries(), so its (driver-unrecorded) queries sort
AFTER the 50 re-attestation queries the round-5 driver sample must cover —
they will enter the driver's 50-row window in round 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nilm_data_framework_spark.operators import embed_stats as ES
from nilm_data_framework_spark.operators import splits as SP
from nilm_data_framework_spark.operators import text as T
from nilm_data_framework_spark.operators.graph import transitive_closure
from nilm_data_framework_spark.plans.registry import query
from nilm_data_framework_spark.sources.testdata import load_table


# --- distributed Gram matrix (PCA building block) ----------------------------


@query(
    "embedding_gram_matrix",
    oracle="""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    )
    SELECT a.i AS i, b.i AS j,
           CAST(sum(a.q * b.q) AS BIGINT) AS g,
           CAST(count(*) AS BIGINT) AS n
    FROM u a JOIN u b ON a.vec_id = b.vec_id AND b.i >= a.i
    GROUP BY 1, 2
    """,
    survey_ref="§2.10 embedding stats: exact upper-triangle Gram (second "
    "moment) matrix over 1e-6-quantized components — the PCA/whitening/"
    "covariance building block (one linear pass, d²-bounded shuffle)",
)
def embedding_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed second-moment matrix (operators/embed_stats.py): two
    chained posexplodes (join-free) + one (i,j) hash agg whose map-side
    combine bounds the shuffle at d(d+1)/2 rows per partition. The oracle
    replays it as a position self-join — same exact BIGINT arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    return ES.gram_matrix_u6(emb, "embedding")


# --- recursive hierarchy: closure + BOM-style rollup -------------------------


def _part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthetic part containment forest: parent(p) = p div 10 (nodes 1-9
    are roots). Deterministic in both engines (nonnegative div). The ONE
    grain definition — shared by the closure, rollup and centrality
    queries (repo rule: grain definitions live once)."""
    part = load_table(spark, sf_dir, "part")
    return part.where(F.col("p_partkey") >= 10).select(
        F.col("p_partkey").alias("child"),
        F.expr("p_partkey div 10").alias("parent"),
    )


_CLOSURE_CTES = """
    e AS (
      SELECT p_partkey AS child, p_partkey // 10 AS parent
      FROM part WHERE p_partkey >= 10
    ),
    cl AS (
      SELECT child AS node, parent AS anc, CAST(1 AS BIGINT) AS depth FROM e
      UNION ALL
      SELECT cl.node, e.parent, cl.depth + 1
      FROM cl JOIN e ON cl.anc = e.child
    )
"""


@query(
    "transitive_closure_paths",
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_CTES}
    SELECT node, anc, depth FROM cl
    """,
    survey_ref="§2 extension: recursive-CTE workload (ancestor transitive "
    "closure over a parent forest) — path-doubling joins, depth 2^r in r "
    "rounds (operators/graph.py::transitive_closure)",
)
def transitive_closure_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (node, ancestor, depth) pair of the part containment forest.
    Spark side is log-depth path doubling; the DuckDB oracle is the
    textbook WITH RECURSIVE frontier recursion — agreeing outputs prove
    the doubling recombination (min-depth dedup) is lossless."""
    return transitive_closure(_part_edges(spark, sf_dir), rounds=3)


@query(
    "hierarchy_rollup",
    oracle=f"""
    WITH RECURSIVE {_CLOSURE_CTES},
    mem AS (
      SELECT node, anc, depth FROM cl
      UNION ALL
      SELECT p_partkey, p_partkey, CAST(0 AS BIGINT) FROM part
    ),
    c AS (
      SELECT p_partkey AS node,
             CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
      FROM part
    )
    SELECT anc,
           CAST(sum(CASE WHEN depth > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_desc,
           CAST(sum(cents) AS BIGINT) AS subtree_price_c,
           CAST(max(depth) AS BIGINT) AS subtree_height
    FROM mem JOIN c USING (node)
    GROUP BY anc
    """,
    survey_ref="§2 extension: BOM-style hierarchical rollup — every node "
    "aggregates its full subtree (count + exact cents + height) via the "
    "ancestor closure, one join + one hash agg past the closure",
)
def hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subtree rollup over the part forest: for each node, descendant
    count, exact subtree retail price (cents), and subtree height. The
    closure (child→anc) unioned with depth-0 self rows turns 'aggregate my
    subtree' into a flat groupBy(anc) — the scale shape for category-tree
    revenue rollups (no per-level loop in the aggregation)."""
    part = load_table(spark, sf_dir, "part")
    cl = transitive_closure(_part_edges(spark, sf_dir), rounds=3)
    mem = cl.unionByName(
        part.select(
            F.col("p_partkey").alias("node"),
            F.col("p_partkey").alias("anc"),
            F.lit(0).cast("long").alias("depth"),
        )
    )
    cents = part.select(
        F.col("p_partkey").alias("node"),
        F.floor(F.col("p_retailprice") * 100).cast("long").alias("cents"),
    )
    return (
        mem.join(cents, "node")
        .groupBy("anc")
        .agg(
            F.sum(F.when(F.col("depth") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_desc"),
            F.sum("cents").cast("long").alias("subtree_price_c"),
            F.max("depth").cast("long").alias("subtree_height"),
        )
    )


# --- inverted index ----------------------------------------------------------


@query(
    "inverted_index_stats",
    oracle="""
    WITH toked AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ),
    tok AS (SELECT doc_id, unnest(toks) AS tok FROM toked),
    per_doc AS (
      SELECT tok, doc_id, count(*) AS tf FROM tok GROUP BY 1, 2
    ),
    idx AS (
      SELECT tok,
             CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS tf_total,
             md5(array_to_string(list(doc_id ORDER BY doc_id), ','))
               AS posting_md5
      FROM per_doc GROUP BY tok
    )
    SELECT tok, df, tf_total, posting_md5
    FROM idx ORDER BY df DESC, tok ASC LIMIT 50
    """,
    survey_ref="§2.10 text retrieval: inverted-index build (per-term df / "
    "tf / exact posting-list digest, top-50 terms) — the BM25/retrieval "
    "prerequisite; digest pins exact posting membership+order",
)
def inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py::inverted_index over documents: explode → two
    hash aggs → TakeOrdered(50). The md5-of-sorted-postings column proves
    both engines build IDENTICAL posting lists without emitting arrays
    (the r3 unhashable-list driver lesson)."""
    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    return T.inverted_index(docs, top_terms=50)


# --- temporal embargo split --------------------------------------------------


@query(
    "temporal_embargo_split",
    oracle="""
    WITH ev AS (SELECT epoch_us(ts) AS us, user_id FROM events),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ev),
    sup AS (SELECT us, count(*) AS c FROM ev GROUP BY 1),
    cum AS (SELECT us, sum(c) OVER (ORDER BY us) AS cum FROM sup),
    cut AS (
      SELECT min(us) AS cutoff FROM cum, tot WHERE cum >= (n * 4) // 5
    ),
    lab AS (
      SELECT CASE WHEN us < cutoff THEN 'train'
                  WHEN us < cutoff + 21600000000 THEN 'embargo'
                  ELSE 'test' END AS split,
             us, user_id
      FROM ev, cut
    )
    SELECT split,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(min(us) AS BIGINT) AS min_us,
           CAST(max(us) AS BIGINT) AS max_us
    FROM lab GROUP BY split
    """,
    survey_ref="§2.10 curation: temporal train/test split with a 6h purge "
    "(embargo) window — the time-series leakage control a hash split "
    "cannot express; exact k-th-smallest cutoff via value-support "
    "cumulative counts (no global row sort)",
)
def temporal_embargo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/splits.py::temporal_embargo_split over events at the exact
    floor(0.8·n)-th smallest microsecond timestamp, 6h embargo. Labels are
    assigned by VALUE, so cutoff ties are deterministic cross-engine."""
    ev = load_table(spark, sf_dir, "events").select(
        F.unix_micros("ts").alias("us"), "user_id"
    )
    return SP.temporal_embargo_split(ev, "us", "user_id")


# --- k-core peeling ----------------------------------------------------------


_COPURCHASE_EDGE_CTES = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
               AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
"""


@query(
    "kcore_parts",
    oracle=f"""
    WITH {_COPURCHASE_EDGE_CTES},
    s0 AS (SELECT s AS u, t AS v FROM e UNION ALL SELECT t, s FROM e),
    k1 AS (SELECT u FROM s0 GROUP BY u HAVING count(*) >= 2),
    s1 AS (SELECT s0.u, s0.v FROM s0
           JOIN k1 a ON s0.u = a.u JOIN k1 b ON s0.v = b.u),
    k2 AS (SELECT u FROM s1 GROUP BY u HAVING count(*) >= 2),
    s2 AS (SELECT s1.u, s1.v FROM s1
           JOIN k2 a ON s1.u = a.u JOIN k2 b ON s1.v = b.u)
    SELECT u AS node, CAST(count(*) AS BIGINT) AS deg
    FROM s2 GROUP BY u HAVING count(*) >= 2
    """,
    survey_ref="§2 extension: k-core peeling (3 degree passes, k=2) over "
    "the co-purchase graph — the community/spam-subgraph denoise kernel; "
    "each round one hash agg + two semi-joins "
    "(operators/graph.py::kcore_peel)",
)
def kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial 2-core of the part co-purchase graph (k=2 keeps the
    result non-vacuous at BOTH gate scales: 1535 rows at sf0.01, 22 at
    sf0.1 — the 3-core empties at sf0.1, where higher part cardinality
    thins co-occurrence support): survivors of three
    degree-≥2 peeling rounds with their degree in the last surviving
    subgraph. The oracle unrolls the identical three passes (recursive
    CTEs can't express non-monotonic deletion), so both engines compute
    the same partial peel exactly."""
    from nilm_data_framework_spark.operators.graph import kcore_peel
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return kcore_peel(_copurchase_edges(li), k=2, rounds=3)


# --- sequential pattern mining: event-type trigrams --------------------------


@query(
    "event_type_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL
    GROUP BY 1 ORDER BY n DESC, trigram ASC LIMIT 20
    """,
    survey_ref="§2 extension: sequential pattern mining — per-user ordered "
    "event-type trigrams, top-20 by support (the 3-step generalization of "
    "markov_transitions' bigrams; one user-keyed window + one hash agg)",
)
def event_type_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most frequent 3-step behavior sequences: lead()×2 over the
    user-keyed exact event order (micros, event_id tiebreak), then one
    map-side-combined count. One shuffle on user_id (the window) + the
    agg; top-20 is TakeOrdered. 100 TB shape: both passes are user-local
    until the final 5³-key count."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).where(F.col("t3").isNotNull())
    return (
        seq.groupBy(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


# --- cross-source rank calibration (quantile normalization) ------------------


@query(
    "rank_calibration",
    oracle="""
    WITH sup AS (
      SELECT n_chars, count(*) AS c FROM documents GROUP BY 1
    ),
    cum AS (
      SELECT n_chars, sum(c) OVER (ORDER BY n_chars) AS vrank_le FROM sup
    ),
    dec AS (
      SELECT source, n_chars,
             ntile(10) OVER (PARTITION BY source
                             ORDER BY n_chars, doc_id) AS decile
      FROM documents
    )
    SELECT d.source, CAST(d.decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n,
           CAST(min(c.vrank_le) AS BIGINT) AS min_vrank,
           CAST(max(c.vrank_le) AS BIGINT) AS max_vrank,
           CAST(sum(c.vrank_le) AS BIGINT) AS sum_vrank
    FROM dec d JOIN cum c USING (n_chars)
    GROUP BY 1, 2
    """,
    survey_ref="§2.10 curation: quantile normalization / cross-source rank "
    "calibration — per-source deciles mapped onto the GLOBAL value-rank "
    "scale (comparing quality scores across heterogeneous sources); the "
    "only global ordered pass runs over the value support",
)
def rank_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map each source's n_chars deciles onto the global distribution:
    per-source ntile(10) (source-keyed window, parallel) joined to the
    global 'docs with value ≤ v' rank built on the VALUE SUPPORT (per-value
    counts → one cumulative window over |distinct values| rows — the
    ks_statistic trick, no global row sort). Exact integers throughout."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    sup = docs.groupBy("n_chars").agg(F.count(F.lit(1)).alias("c"))
    wv = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cum = sup.select("n_chars", F.sum("c").over(wv).alias("vrank_le"))
    wd = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    dec = docs.select(
        "source", "n_chars", F.ntile(10).over(wd).cast("long").alias("decile")
    )
    return (
        dec.join(cum, "n_chars")
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.min("vrank_le").cast("long").alias("min_vrank"),
            F.max("vrank_le").cast("long").alias("max_vrank"),
            F.sum("vrank_le").cast("long").alias("sum_vrank"),
        )
    )


# --- stratified k-fold assignment --------------------------------------------


@query(
    "kfold_assignment",
    oracle="""
    WITH folds AS (
      SELECT lang, doc_id,
             ntile(5) OVER (PARTITION BY lang
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS fold
      FROM documents
    )
    SELECT lang, CAST(fold AS BIGINT) AS fold,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(doc_id) AS BIGINT) AS member_sum
    FROM folds GROUP BY 1, 2
    """,
    survey_ref="§2.10 curation: stratified k-fold cross-validation "
    "assignment — ntile(5) within stratum over the md5 hash order gives "
    "exact ±1-balanced folds, deterministic and stable across engines; "
    "member_sum pins identical fold membership, not just counts",
)
def kfold_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-balanced 5-fold CV splits per language stratum: hash-ordered
    ntile (a pure function of the corpus content — reproducible anywhere,
    unlike random_split), summarized per (stratum, fold) with an exact
    membership checksum. Stratum windows are language-keyed → parallel;
    no global sort. Complements hash_split (fraction-based) with the
    exact-fold-size contract CV needs."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select("lang", "doc_id", F.ntile(5).over(w).cast("long").alias("fold"))
        .groupBy("lang", "fold")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("doc_id").cast("long").alias("member_sum"),
        )
    )


# --- join-size precomputation from key histograms ----------------------------


@query(
    "join_size_from_histograms",
    oracle="""
    WITH ca AS (SELECT o_custkey AS k, count(*) AS c FROM orders GROUP BY 1),
    cb AS (SELECT user_id % 1500 AS k, count(*) AS c FROM events GROUP BY 1),
    j AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common_keys,
             CAST(sum(ca.c * cb.c) AS BIGINT) AS join_rows,
             CAST(max(ca.c * cb.c) AS BIGINT) AS max_key_rows
      FROM ca JOIN cb USING (k)
    )
    SELECT n_common_keys, join_rows, max_key_rows FROM j
    """,
    survey_ref="§2 extension: join-cardinality precomputation from key "
    "histograms — EXACT output size and worst-key contribution of a join "
    "computed from two per-key count aggs + a key-level join, WITHOUT "
    "materializing the join (the join-explosion / skew guard a 100 TB "
    "pipeline runs before committing to a plan)",
)
def join_size_from_histograms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predict |orders ⋈ events-on-synthetic-key| exactly: Σ_k ca(k)·cb(k)
    over the per-key histograms. The histograms are map-side-combined aggs
    (tiny vs the fact tables), the key join carries |keys| rows, and
    max_key_rows flags the skew hot spot — all before a single fact-fact
    join row exists. Exact BIGINT, fully oracle-replayed."""
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    ca = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("ca")
    )
    cb = ev.groupBy((F.col("user_id") % 1500).alias("k")).agg(
        F.count(F.lit(1)).alias("cb")
    )
    prod = F.col("ca") * F.col("cb")
    return ca.join(cb, "k").agg(
        F.count(F.lit(1)).cast("long").alias("n_common_keys"),
        F.sum(prod).cast("long").alias("join_rows"),
        F.max(prod).cast("long").alias("max_key_rows"),
    )


# --- streaming sequential-pattern equivalence --------------------------------


_TRIGRAM_SINK = "streaming_trigram_equiv_sink"


@query(
    "streaming_trigram_equiv",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq WHERE t3 IS NOT NULL GROUP BY 1
    """,
    survey_ref="§2.9 custom stateful operator: streaming 3-step pattern "
    "tracker (streaming/stateful.py::trigram_stream, applyInPandasWithState"
    " — two strings of per-user state) == the batch lead()×2 window, "
    "counted over ALL trigrams",
)
def streaming_trigram_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """trigram_stream on a real bounded stream == the batch window form of
    event_type_trigrams (full counts, no top-k cut, so the comparison has
    no tie sensitivity). Each trigram is emitted the moment its third
    event arrives, from two carried strings of per-user state — proving
    the incremental pattern tracker reproduces the batch lead() window
    row-for-row across micro-batch boundaries."""
    import hashlib

    from nilm_data_framework_spark.queries.streaming_equiv import (
        _EVENTS_TS,
        _run_to_memory_sink,
        _staged_stream_dir,
    )
    from nilm_data_framework_spark.sources.testdata import (
        _ensure_session_confs,
        load_table,
    )
    from nilm_data_framework_spark.streaming.stateful import trigram_stream

    _ensure_session_confs(spark)
    # three TIME-RANGE slices + maxFilesPerTrigger=1 → three micro-batches
    # that are per-key time-ordered (the kernel's ordering contract), so
    # the per-user (t1, t2) state genuinely carries ACROSS batches — a
    # single-file replay would decide every trigram inside one batch and
    # leave the state handoff untested
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"trigram_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    # the staged fixture is written from load_table output (ts already
    # normalized to TIMESTAMP), so read it with the NORMALIZED schema —
    # NOT via _events_stream, whose raw-file schema + raw-variant ts
    # conversion would mis-handle a TIMESTAMP(NANOS) testdata drop (r5
    # review fix; same pattern as streaming_late_data_drop)
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    tagged = trigram_stream(stream)
    _run_to_memory_sink(tagged, _TRIGRAM_SINK, output_mode="append")
    return (
        spark.table(_TRIGRAM_SINK)
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )


# --- multiset (ALL) set operations -------------------------------------------


@query(
    "multiset_except_views",
    oracle="""
    WITH diff AS (
      SELECT user_id FROM events WHERE event_type = 'view'
      EXCEPT ALL
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_unmatched_views
    FROM diff GROUP BY user_id
    """,
    survey_ref="§2.6 extension: MULTISET set algebra — EXCEPT ALL / "
    "exceptAll (per-occurrence difference: each purchase cancels ONE "
    "view), the bag semantics the DISTINCT-flavored set_except_users "
    "can't express",
)
def multiset_except_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Views per user not matched 1:1 by a purchase: Spark's exceptAll
    (bag difference — keeps max(views−purchases, 0) copies per user)
    aggregated to per-user counts. exceptAll plans as a single
    count-compare generate over one shuffle, linear at 100 TB; this gate
    pins the occurrence arithmetic against DuckDB's EXCEPT ALL."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    buys = ev.where(F.col("event_type") == "purchase").select("user_id")
    return (
        views.exceptAll(buys)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_unmatched_views"))
    )


@query(
    "multiset_intersect_views",
    oracle="""
    WITH paired AS (
      SELECT user_id FROM events WHERE event_type = 'view'
      INTERSECT ALL
      SELECT user_id FROM events WHERE event_type = 'click'
    )
    SELECT user_id, CAST(count(*) AS BIGINT) AS n_paired
    FROM paired GROUP BY user_id
    """,
    survey_ref="§2.6 extension: MULTISET set algebra — INTERSECT ALL / "
    "intersectAll (min-occurrence pairing per user)",
)
def multiset_intersect_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min(views, clicks) copies per user via intersectAll, aggregated to
    counts — the bag intersection twin of multiset_except_views."""
    ev = load_table(spark, sf_dir, "events")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    return (
        views.intersectAll(clicks)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_paired"))
    )


# --- LSH banding recall audit ------------------------------------------------


def _lsh_recall_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql
    from nilm_data_framework_spark.queries.dedup_text import _minhash_ctes

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
    from nilm_data_framework_spark.operators.dedup import lsh_recall_audit as _audit
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    out = _audit(docs)
    return out.select(
        "n_true_pairs",
        "n_found_pairs",
        "n_missed",
        ratio_e4("n_found_pairs", "greatest(n_true_pairs, 1)").alias("recall_e4"),
    )


# --- sensor coverage gaps ----------------------------------------------------


@query(
    "coverage_gaps",
    oracle="""
    WITH seq AS (
      SELECT user_id, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_us(ts), event_id) AS prev_us
      FROM events
    ),
    gaps AS (
      SELECT user_id, us - prev_us AS gap_us
      FROM seq WHERE prev_us IS NOT NULL AND us - prev_us > 3600000000
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_gaps,
           CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps GROUP BY user_id
    """,
    survey_ref="§2.4 extension (NILM data availability): per-channel "
    "coverage-gap report — every inter-reading gap > 1h with exact total/"
    "max missing micros (the complement of A5 daily-activity islands; the "
    "sensor-outage audit visualize_sampling_rate.ipynb eyeballs, as a "
    "scalable query)",
)
def coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-availability audit for meter streams: one lag() per channel
    (exact micros, event_id tiebreak) → gap rows over the 1h threshold →
    per-channel exact outage stats. One shuffle (the channel-keyed window);
    the agg rides the same partitioning. At 100 TB this is THE query run
    before trusting any resample — gaps bias every downstream mean."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select("user_id", "us", F.lag("us").over(w).alias("prev_us"))
    gaps = seq.where(
        F.col("prev_us").isNotNull() & (F.col("us") - F.col("prev_us") > 3_600_000_000)
    ).select("user_id", (F.col("us") - F.col("prev_us")).alias("gap_us"))
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.sum("gap_us").cast("long").alias("total_gap_us"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


# --- per-class embedding statistics ------------------------------------------


@query(
    "label_centroid_stats",
    oracle="""
    WITH u AS (
      SELECT label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    )
    SELECT CAST(label AS BIGINT) AS label, i,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(q) AS BIGINT) AS sum_q,
           CAST(sum(q * q) AS BIGINT) AS sum_q2
    FROM u GROUP BY 1, 2
    """,
    survey_ref="§2.10 embedding stats: per-class centroid + scatter "
    "numerators (exact u6 first/second moments per (label, dim)) — the "
    "class-separability / embedding-quality audit for labeled training "
    "data; one linear pass, output |labels|·d rows",
)
def label_centroid_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-(label, dimension) count / Σq / Σq² over 1e-6-floored
    components: class centroids (sum_q/n) and within-class variance
    ((sum_q2 − sum_q²/n)/n) derive exactly, and the numerators MERGE
    associatively across shards (the partial_agg_merge contract). One
    posexplode + one hash agg whose map-side combine bounds the shuffle
    at |labels|·d rows per partition — the grouped-first-moment sibling
    of embedding_gram_matrix."""
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    q = emb.select(
        F.col("label").cast("long").alias("label"),
        ES.u6_components("embedding").alias("q"),
    )
    flat = q.select("label", F.posexplode("q").alias("i", "qi"))
    return flat.groupBy("label", F.col("i").cast("int").alias("i")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qi").cast("long").alias("sum_q"),
        F.sum(F.col("qi") * F.col("qi")).cast("long").alias("sum_q2"),
    )


# --- Poisson bootstrap confidence intervals ----------------------------------


def _bootstrap_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql
    from nilm_data_framework_spark.operators.robust import POISSON1_CDF_E60

    t0, t1, t2, t3 = POISSON1_CDF_E60
    return f"""
    WITH reps AS (SELECT CAST(r.range AS BIGINT) AS b FROM range(0, 20) r),
    drawn AS (
      SELECT reps.b,
             CASE WHEN h < {t0} THEN 0
                  WHEN h < {t1} THEN 1
                  WHEN h < {t2} THEN 2
                  WHEN h < {t3} THEN 3
                  ELSE 4 END AS w,
             cents
      FROM (
        SELECT CAST(o_orderkey AS VARCHAR) AS k,
               CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders
      ) o
      CROSS JOIN reps,
      LATERAL (SELECT CAST(('0x' || substr(
                 md5('boot' || CAST(reps.b AS VARCHAR) || ':' || o.k),
                 1, 15)) AS BIGINT) AS h) hh
    ),
    agg AS (
      SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
             CAST(sum(w * cents) AS BIGINT) AS total_c
      FROM drawn GROUP BY b
    )
    SELECT b, n_eff, total_c,
           {ratio_e4_sql('total_c', 'n_eff')} AS mean_c_e4
    FROM agg
    """


@query(
    "poisson_bootstrap_ci",
    oracle=_bootstrap_oracle(),
    survey_ref="§2.4 extension: ONE-PASS Poisson bootstrap (B=20 "
    "deterministic replicates of the mean order value) — the cluster-"
    "scale uncertainty-quantification technique; all B resample sums in "
    "one linear scan, exact integer weights from md5-inverse-CDF draws",
)
def poisson_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/robust.py::poisson_bootstrap_sums over order totals
    (exact cents): 20 replicate (n_eff, total, exact e4 mean) rows — the
    replicate-mean spread IS the sampling distribution of the mean (the
    caller reads percentile CIs off it). Every weight is a deterministic
    integer-threshold draw, so DuckDB replays the full resampling
    bit-for-bit."""
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.robust import poisson_bootstrap_sums

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    out = poisson_bootstrap_sums(orders, "o_orderkey", "cents", replicates=20)
    return out.select(
        "b",
        "n_eff",
        F.col("total").alias("total_c"),
        ratio_e4("total", "n_eff").alias("mean_c_e4"),
    )


# --- leave-one-out influence audit -------------------------------------------


def _loo_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

    return f"""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n_g,
             CAST(sum(n_chars) AS BIGINT) AS s_g
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(s_g) AS BIGINT) AS s
      FROM per
    )
    SELECT source, n_g,
           {ratio_e4_sql('s_g', 'n_g')} AS group_mean_e4,
           {ratio_e4_sql('(s - s_g)', '(n - n_g)')} AS loo_mean_e4
    FROM per, tot
    """


@query(
    "leave_one_out_influence",
    oracle=_loo_oracle(),
    survey_ref="§2.10 curation diagnostics: leave-one-out influence — each "
    "source's group mean vs the corpus mean WITHOUT that source, from one "
    "aggregation pass + algebraic complements (no per-group rescan); the "
    "'which source drags the distribution' audit",
)
def leave_one_out_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jackknife-style influence audit over document lengths: per source,
    its own exact e4 mean and the corpus mean with the source REMOVED —
    computed as (total − group) complements of a single groupBy, never by
    re-scanning per group (the delete-one-group trick that makes
    influence O(groups), not O(groups·rows), at 100 TB). All inputs to
    both ratios are exact BIGINTs."""
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("n_chars").cast("long").alias("s_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"), F.sum("s_g").cast("long").alias("s")
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_g",
        ratio_e4("s_g", "n_g").alias("group_mean_e4"),
        ratio_e4("(s - s_g)", "(n - n_g)").alias("loo_mean_e4"),
    )


# --- BM25 lexical retrieval --------------------------------------------------

_BM25_TERMS = ["vector", "join", "stream"]
_BM25_K = 20


def _bm25_oracle(
    terms: list[str] | None = None,
    corpus: str = "documents",
    k: int | None = None,
) -> str:
    """Full-scan BM25 oracle. Parameterized (r9) so derived indexes over a
    TRANSFORMED corpus (e.g. the bigram phrase index) and non-default term
    sets can share the generator; the no-arg call is byte-identical to the
    r1 text, which the splice-based derived oracles assert on."""
    terms_ = _BM25_TERMS if terms is None else terms
    k_ = _BM25_K if k is None else k
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    per_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in terms_
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in terms_
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    score = "\n    + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * 2.2) / (CAST(tf_{t} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))))"
        for t in terms_
    )
    tf_out = ", ".join(f"tf_{t}" for t in terms_)
    return f"""
    WITH toks AS (SELECT doc_id, {toks} AS t FROM {corpus}),
    per AS (
      SELECT doc_id, CAST(len(t) AS BIGINT) AS dl,
         {per_cols}
      FROM toks
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM per
    ),
    scored AS (
      SELECT doc_id, dl, {tf_out},
        ( {score} ) AS bm25_raw
      FROM per, stats
    )
    SELECT doc_id, dl, {tf_out}, round(bm25_raw, 4) AS bm25, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY bm25_raw DESC, doc_id) AS rk
      FROM scored
    ) WHERE rk <= {k_}
    """


@query(
    "bm25_topk",
    oracle=_bm25_oracle(),
    survey_ref="§2.10 text retrieval: Okapi BM25 top-k for a fixed term "
    "query (Robertson & Zaragoza 2009; the Lucene default) — the lexical "
    "half of a RAG retrieval stack beside the ANN family; tf/df/dl exact "
    "integers, score evaluated in a FIXED term order so both engines run "
    "the identical IEEE op sequence, ranked on the raw (bit-stable) score",
)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/text.py::bm25_scores + top-k: map-only per-doc tf/dl, one
    single-row corpus agg broadcast back, fixed-order float score. The
    global top-k is TakeOrderedAndProject-shaped (rank over one ordering);
    ordering uses bm25_raw (bit-stable cross-engine; measured min gap
    between DISTINCT scores is ~2e-6 at sf0.01 vs ~1e-16 engine noise,
    and equal (tf..., dl) tuples are EXACTLY equal in each engine, so the
    doc_id tiebreak replays). Reference analog: none (pure LLM-pipeline
    extension)."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.text import bm25_scores

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    scored = bm25_scores(docs, _BM25_TERMS)
    w = Window.orderBy(F.col("bm25_raw").desc(), F.col("doc_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_K)
        .select(
            "doc_id",
            "dl",
            *[f"tf_{t}" for t in _BM25_TERMS],
            "bm25",
            "rk",
        )
    )


# --- reciprocal-rank fusion --------------------------------------------------


@query(
    "rrf_fusion_topk",
    oracle="""
    WITH toks AS (
      SELECT doc_id, n_chars,
             CAST(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tok
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, n_chars, n_tok,
             CAST(row_number() OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT)
               AS rank_chars,
             CAST(row_number() OVER (ORDER BY n_tok DESC, doc_id) AS BIGINT)
               AS rank_tokens
      FROM toks
    ),
    fused AS (
      SELECT doc_id, rank_chars, rank_tokens,
             CAST(1000000 // (60 + rank_chars)
                  + 1000000 // (60 + rank_tokens) AS BIGINT) AS rrf_e6
      FROM ranked
    )
    SELECT doc_id, rank_chars, rank_tokens, rrf_e6, CAST(rk AS INT) AS rk
    FROM (
      SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rk
      FROM fused
    ) WHERE rk <= 20
    """,
    survey_ref="§2.10 text retrieval: reciprocal-rank fusion (Cormack et "
    "al. 2009) of two deterministic rankers — THE standard hybrid "
    "lexical+vector result merge; each 1/(60+rank) term is an exact "
    "integer floor(1e6/(60+r)), so the fused score is pure BIGINT and "
    "the top-k replays bit-identically",
)
def rrf_fusion_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF of two rankings of the documents table (by n_chars and by token
    count, both id-tiebroken): score = Σ 1e6 div (60 + rank). Integer-
    scaled so no float ever enters the fusion.

    Scale shape (r5 verdict item 4 — shortlist fusion, no full-corpus
    rank window): candidates = union of each ranker's top-128
    (TakeOrderedAndProject, map-side partial top-k); their EXACT global
    ranks come from exact_ranks_for_candidates (support inequality join +
    value equi-join tie count — two linear passes, no global sort); the
    fused top-20 then ranks ≤256 coalesced rows. Completeness is provable
    because RRF is monotone in both ranks: a doc outside BOTH top-128
    lists scores ≤ 2·(1e6 div (60+129)) = 10582, while the docs at
    chars-ranks 1..20 are all candidates scoring ≥ 1e6 div 80 = 12500 —
    strictly more — so the global top-20 is contained in the candidate
    set for ANY data. The oracle keeps the full-corpus double-rank
    construction; hash equality proves the shortlist swap exact."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.scale_windows import (
        exact_ranks_for_candidates,
    )
    from nilm_data_framework_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # checkpoint the tokenizing scan once: it feeds both top-k passes and
    # both rank reconstructions (narrow 3-long-column frame)
    base = docs.select(
        "doc_id", "n_chars", token_count(F.col("text")).cast("long").alias("n_tok")
    ).localCheckpoint(eager=True)
    cand_c = base.orderBy(F.col("n_chars").desc(), F.col("doc_id")).limit(128)
    cand_t = base.orderBy(F.col("n_tok").desc(), F.col("doc_id")).limit(128)
    cands = (
        cand_c.unionByName(cand_t).distinct().coalesce(1).localCheckpoint(eager=True)
    )
    rc = exact_ranks_for_candidates(base, cands, "n_chars", "doc_id", out="rank_chars")
    rt = exact_ranks_for_candidates(base, cands, "n_tok", "doc_id", out="rank_tokens")
    fused = (
        cands.select("doc_id")
        .join(rc.select("doc_id", "rank_chars"), "doc_id")
        .join(rt.select("doc_id", "rank_tokens"), "doc_id")
        .withColumn(
            "rrf_e6",
            F.expr(
                "1000000 div (60 + rank_chars) + 1000000 div (60 + rank_tokens)"
            ).cast("long"),
        )
    )
    w = Window.orderBy(F.col("rrf_e6").desc(), F.col("doc_id"))
    return (
        fused.coalesce(1)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select("doc_id", "rank_chars", "rank_tokens", "rrf_e6", "rk")
    )


# --- scalar-quantization (SQ8) ANN -------------------------------------------

_SQ8_QUERIES = 8
_SQ8_RERANK = 32
_SQ8_K = 10


@query(
    "sq8_topk_rerank",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    dim AS (
      SELECT i, CAST(min(q6) AS BIGINT) AS mn,
             CAST(greatest(max(q6) - min(q6), 1) AS BIGINT) AS span
      FROM u GROUP BY i
    ),
    codes AS (
      SELECT u.vec_id, u.i, ((u.q6 - d.mn) * 255) // d.span AS c
      FROM u JOIN dim d ON d.i = u.i
    ),
    qs AS (SELECT vec_id AS query_id, i, c FROM codes
           WHERE vec_id < {_SQ8_QUERIES}),
    d8 AS (
      SELECT q.query_id, c.vec_id AS match_id,
             CAST(sum(q.c * c.c) AS BIGINT) AS dot8
      FROM qs q JOIN codes c ON q.i = c.i AND c.vec_id <> q.query_id
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, match_id FROM (
        SELECT query_id, match_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot8 DESC, match_id) AS rs
        FROM d8) WHERE rs <= {_SQ8_RERANK}
    ),
    ex AS (
      SELECT s.query_id, s.match_id, CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot_u12
      FROM short s
      JOIN u a ON a.vec_id = s.query_id
      JOIN u b ON b.vec_id = s.match_id AND b.i = a.i
      GROUP BY 1, 2
    )
    SELECT query_id, match_id, dot_u12, CAST(rk AS INT) AS rk FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot_u12 DESC, match_id) AS rk
      FROM ex) WHERE rk <= {_SQ8_K}
    """,
    survey_ref="§2.10 similarity/ANN: int8 scalar-quantization shortlist "
    "(FAISS ScalarQuantizer / vector-DB 'SQ8 + rescore') + exact integer "
    "re-rank — the middle member of the 1-bit(hamming)/8-bit(SQ)/PQ "
    "compression family; codes and both dot products are pure BIGINT, so "
    "shortlist membership and ranking replay bit-identically",
)
def sq8_topk_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/similarity.py::sq8_rerank_topk with the codebook trained
    by sq8_dim_stats (a d-row collect — schema-sized, not data-sized).
    Queries broadcast, corpus scanned once; the int8 code column is the
    only thing the shortlist stage reads (8× smaller than float32)."""
    from nilm_data_framework_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    stats = S.sq8_dim_stats(emb)
    q = emb.where(F.col("vec_id") < _SQ8_QUERIES)
    return S.sq8_rerank_topk(
        emb, q, k=_SQ8_K, stats=stats, rerank=_SQ8_RERANK
    )


# --- Benford first-digit audit -----------------------------------------------

# Expected Benford share log10(1 + 1/d) in e4 units, computed ONCE in Python
# and injected into BOTH engines as literals — zero cross-engine float risk.
_BENFORD_E4 = {
    d: int(__import__("math").floor(__import__("math").log10(1 + 1 / d) * 10000 + 0.5))
    for d in range(1, 10)
}


def _benford_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

    expect = " ".join(
        f"WHEN {d} THEN {v}" for d, v in _BENFORD_E4.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INT) AS first_digit
      FROM orders
    ),
    counts AS (
      SELECT first_digit, CAST(count(*) AS BIGINT) AS n FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts)
    SELECT first_digit, n,
           {ratio_e4_sql('n', 'total')} AS share_e4,
           CAST(CASE first_digit {expect} END AS BIGINT) AS benford_e4
    FROM counts, tot
    """


@query(
    "benford_digit_audit",
    oracle=_benford_oracle(),
    survey_ref="§2.10 quality/fraud audit: Benford first-digit "
    "distribution of money amounts vs the log10(1+1/d) law — the classic "
    "fabricated-data detector (Nigrini); counts exact, shares exact e4, "
    "expected shares injected as Python-computed literals in both engines",
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First digit via string head of exact cents (positive BIGINTs render
    identically in both engines — no float log10 in the digit extraction).
    One groupBy(9 keys) + broadcast total; a map-side-combined linear scan
    at any scale. Expected shares are plan literals."""
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    orders = load_table(spark, sf_dir, "orders")
    expect = F.create_map(
        *[F.lit(x) for kv in _BENFORD_E4.items() for x in kv]
    )
    digits = orders.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100).cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("first_digit")
    )
    counts = digits.groupBy("first_digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = counts.agg(F.sum("n").cast("long").alias("total"))
    return counts.crossJoin(F.broadcast(tot)).select(
        "first_digit",
        "n",
        ratio_e4("n", "total").alias("share_e4"),
        expect[F.col("first_digit")].cast("long").alias("benford_e4"),
    )


# --- Gini key-skew (Lorenz inequality of key ownership) ----------------------


def _gini_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

    return f"""
    WITH cnt AS (
      SELECT o_orderpriority AS priority, o_custkey,
             CAST(count(*) AS BIGINT) AS x
      FROM orders GROUP BY 1, 2
    ),
    ranked AS (
      SELECT priority, x,
             CAST(row_number() OVER (PARTITION BY priority
                                     ORDER BY x, o_custkey) AS BIGINT) AS i
      FROM cnt
    ),
    agg AS (
      SELECT priority,
             CAST(max(i) AS BIGINT) AS n_keys,
             CAST(sum(x) AS BIGINT) AS total_rows,
             CAST(2 * sum(i * x) - (max(i) + 1) * sum(x) AS BIGINT) AS gnum
      FROM ranked GROUP BY 1
    )
    SELECT priority, n_keys, total_rows,
           {ratio_e4_sql('gnum', 'n_keys * total_rows')} AS gini_e4
    FROM agg
    """


@query(
    "gini_key_skew",
    oracle=_gini_oracle(),
    survey_ref="§2.10 skew diagnostics: exact Gini coefficient of per-key "
    "row ownership (Lorenz form G = (2Σi·x_i − (n+1)Σx_i)/(nΣx_i) over "
    "ascending-sorted counts) — the single-number partition-skew monitor "
    "feeding the salting decision that key_skew_audit samples; all "
    "integer arithmetic",
)
def gini_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per order-priority: Gini of orders-per-customer. One groupBy for
    counts, one per-group ranked window (ascending, key-tiebroken), one
    agg. gnum is provably ≥ 0 for ascending-sorted x, so ratio_e4's
    nonnegative contract holds. At 100 TB the window becomes the
    equi-depth-histogram approximation (rank from cumulative bucket
    counts) — this gate is the exact form at per-group cardinality that
    one reducer comfortably owns (documented in SCALE.md)."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    orders = load_table(spark, sf_dir, "orders")
    cnt = orders.groupBy(
        F.col("o_orderpriority").alias("priority"), "o_custkey"
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("priority").orderBy("x", "o_custkey")
    ranked = cnt.select(
        "priority", "x", F.row_number().over(w).cast("long").alias("i")
    )
    agg = ranked.groupBy("priority").agg(
        F.max("i").cast("long").alias("n_keys"),
        F.sum("x").cast("long").alias("total_rows"),
        (
            F.lit(2) * F.sum(F.col("i") * F.col("x"))
            - (F.max("i") + F.lit(1)) * F.sum("x")
        )
        .cast("long")
        .alias("gnum"),
    )
    return agg.select(
        "priority",
        "n_keys",
        "total_rows",
        ratio_e4("gnum", "n_keys * total_rows").alias("gini_e4"),
    )


# --- MAD robust outlier audit ------------------------------------------------


@query(
    "mad_outlier_audit",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT) AS v6,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6, event_id,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY v6, event_id) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM v
    ),
    med AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n,
             CAST(sum(CASE WHEN rk = (n + 1) // 2 THEN v6 ELSE 0 END)
                  + sum(CASE WHEN rk = n // 2 + 1 THEN v6 ELSE 0 END)
                  AS BIGINT) AS median2
      FROM ranked GROUP BY event_type
    ),
    dev AS (
      SELECT r.event_type, m.n, m.median2, r.event_id,
             CAST(abs(2 * r.v6 - m.median2) AS BIGINT) AS d2
      FROM ranked r JOIN med m ON m.event_type = r.event_type
    ),
    dranked AS (
      SELECT *, CAST(row_number() OVER (PARTITION BY event_type
                                        ORDER BY d2, event_id) AS BIGINT) AS rk2
      FROM dev
    ),
    mad AS (
      SELECT event_type,
             CAST(sum(CASE WHEN rk2 = (n + 1) // 2 THEN d2 ELSE 0 END)
                  + sum(CASE WHEN rk2 = n // 2 + 1 THEN d2 ELSE 0 END)
                  AS BIGINT) AS mad4
      FROM dranked GROUP BY event_type
    )
    SELECT d.event_type, CAST(max(d.n) AS BIGINT) AS n,
           CAST(max(d.median2) AS BIGINT) AS median2,
           CAST(max(m.mad4) AS BIGINT) AS mad4,
           CAST(sum(CASE WHEN 2 * d.d2 > 3 * m.mad4 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(max(d.d2) AS BIGINT) AS max_dev2
    FROM dev d JOIN mad m ON m.event_type = d.event_type
    GROUP BY d.event_type
    """,
    survey_ref="§2.10 robust statistics: per-group median-absolute-"
    "deviation outlier audit (Hampel / Iglewicz-Hoaglin) in EXACT integer "
    "arithmetic via the doubled-median trick (m2 = lo+hi, d2 = |2v−m2|, "
    "mad4 = lo'+hi'; outlier ⇔ 2·d2 > z·mad4) — the robust twin of the "
    "variance-based channel_stats z-score, immune to the outliers it hunts",
)
def mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """operators/robust.py::mad_outliers over 1e-6-floored event values,
    keyed by event_type with event_id tiebreaks. One exchange (event_type)
    serves both rank windows and all three aggregates; medians are picked
    by conditional aggregation against the window count, never a self-join
    or a percentile UDF."""
    from nilm_data_framework_spark.operators.robust import mad_outliers

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 1000000)
        .cast("long")
        .alias("v6"),
        "event_id",
    )
    out = mad_outliers(ev, ["event_type"], "v6", "event_id", z=3)
    return out.select(
        "event_type", "n", "median2", "mad4", "n_outliers", "max_dev2"
    )


# --- kNN label-vote classification eval --------------------------------------

_KNN_QUERIES = 50
_KNN_K = 5


@query(
    "knn_label_accuracy",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    d AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS match_id, b.label AS c_label,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_KNN_QUERIES}
      GROUP BY 1, 2, 3, 4
    ),
    top AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, match_id) AS rk
        FROM d) WHERE rk <= {_KNN_K}
    ),
    votes AS (
      SELECT query_id, true_label, c_label, CAST(count(*) AS BIGINT) AS votes
      FROM top GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label, c_label AS pred_label, votes,
           c_label = true_label AS correct
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY votes DESC, c_label) AS r2
      FROM votes) WHERE r2 = 1
    """,
    survey_ref="§2.10 embedding evaluation: k-NN majority-vote label "
    "prediction (the standard embedding-quality probe — kNN accuracy is "
    "THE linear-probe-free eval) over exact u6 integer dot products; "
    "votes tie-break (count desc, label asc) so predictions replay "
    "bit-identically",
)
def knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-NN label vote per held-out query vector: exact integer dots →
    per-query top-k (queries broadcast, corpus scanned once, never
    shuffled by pair — the brute_force_topk topology) → vote counting on
    (query, label) → deterministic argmax. At 100 TB the neighbor stage
    swaps to any of the bucketed ANN paths (IVF/SQ8/hamming) unchanged —
    the vote/argmax layers are candidate-list-sized."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        u6_components("embedding").alias("c6"),
        F.col("label").alias("c_label"),
    )
    q = emb.where(F.col("vec_id") < _KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        u6_components("embedding").alias("q6"),
        F.col("label").alias("true_label"),
    )
    dot = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = c.join(
        F.broadcast(q), F.col("match_id") != F.col("query_id")
    ).withColumn("dot", dot)
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("match_id"))
    top = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= _KNN_K
    )
    votes = top.groupBy("query_id", "true_label", "c_label").agg(
        F.count(F.lit(1)).cast("long").alias("votes")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("votes").desc(), F.col("c_label")
    )
    return (
        votes.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("c_label").alias("pred_label"),
            "votes",
            (F.col("c_label") == F.col("true_label")).alias("correct"),
        )
    )


# --- Simpson diversity index -------------------------------------------------


def _simpson_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled_sql

    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    return f"""
    WITH t AS (
      SELECT source, unnest({toks}) AS tok FROM documents
    ),
    cnt AS (
      SELECT source, tok, CAST(count(*) AS BIGINT) AS n_i
      FROM t GROUP BY 1, 2
    ),
    agg AS (
      SELECT source,
             CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(n_i) AS BIGINT) AS n_tokens,
             CAST(sum(n_i * (n_i - 1)) AS BIGINT) AS ssum
      FROM cnt GROUP BY 1
    )
    SELECT source, n_types, n_tokens,
           {ratio_scaled_sql('ssum', 'n_tokens * (n_tokens - 1)', 6)}
             AS simpson_e6
    FROM agg
    """


@query(
    "simpson_diversity",
    oracle=_simpson_oracle(),
    survey_ref="§2.10 corpus diversity: Simpson concentration index "
    "λ = Σ nᵢ(nᵢ−1) / (N(N−1)) per source — the EXACT-rational companion "
    "to the float Shannon entropy audit (entropy_by_source): λ is a "
    "ratio of integer pair counts, so the diversity monitor carries no "
    "float at all (1/λ = effective vocabulary size)",
)
def simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token Simpson index: one explode → (source, tok) hash
    agg (map-side combined) → per-source agg of pair counts → exact e6
    ratio. Two shuffles, both on small key spaces; the pair-count form
    is mergeable (Σ nᵢ(nᵢ−1) from per-shard partials via the same
    algebra as partial_agg_merge), so 100 TB is a linear pass."""
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled
    from nilm_data_framework_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    )
    cnt = t.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("long").alias("n_i")
    )
    agg = cnt.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("n_i").cast("long").alias("n_tokens"),
        F.sum(F.col("n_i") * (F.col("n_i") - 1)).cast("long").alias("ssum"),
    )
    return agg.select(
        "source",
        "n_types",
        "n_tokens",
        ratio_scaled("ssum", "n_tokens * (n_tokens - 1)", 6).alias("simpson_e6"),
    )


# --- dynamic-partition-pruned join -------------------------------------------


@query(
    "dpp_partition_pruned_join",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                AS BIGINT) AS sum_v6
    FROM events
    WHERE substr(event_type, 1, 1) = 'c'
    GROUP BY event_type
    """,
    survey_ref="§2 scale optimization (plan-pinned): DYNAMIC PARTITION "
    "PRUNING — fact written partitioned by join key, dim filtered at "
    "runtime; Spark injects a dynamicpruning subquery into the fact "
    "scan's PartitionFilters so unprobed partition directories are never "
    "read (the third pruning lever beside runtime Bloom filters and "
    "static partition filters; asserted in test_plan_quality)",
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes a partitioned-by-event_type copy of events to pid-keyed
    scratch (through ``layouts.partitioned_writer``, one file per type
    dir), then joins it against a runtime-filtered type dim. The RESULT
    is partition-layout-invariant (oracle is a plain filtered agg); the
    PLAN is the deliverable — SubqueryAdaptiveBroadcast dynamicpruning on
    the fact scan. v6 sums are exact integers."""
    import os
    import tempfile

    from nilm_data_framework_spark.layouts import partitioned_writer
    from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value").cast("double") * 1000000).cast("long").alias("v6"),
    )
    path = pid_scratch_dir(
        os.path.join(tempfile.gettempdir(), "nilm_spark_dpp"), "events_"
    )
    partitioned_writer(ev, ["event_type"]).mode("overwrite").parquet(path)
    fact = spark.read.parquet(path)
    dim = (
        load_table(spark, sf_dir, "events")
        .select("event_type")
        .distinct()
        .where(F.substring("event_type", 1, 1) == "c")
    )
    return fact.join(dim, "event_type").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v6").cast("long").alias("sum_v6"),
    )


# --- Hamilton largest-remainder allocation -----------------------------------

_HAMILTON_BUDGET = 100_000


def _hamilton_oracle() -> str:
    return f"""
    WITH per AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS w
      FROM documents GROUP BY source
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS wtot FROM per),
    quota AS (
      SELECT source, w,
             ({_HAMILTON_BUDGET} * w) // wtot AS base,
             ({_HAMILTON_BUDGET} * w) % wtot AS rem
      FROM per, tot
    ),
    left_over AS (
      SELECT CAST({_HAMILTON_BUDGET} - sum(base) AS BIGINT) AS leftover
      FROM quota
    ),
    ranked AS (
      SELECT source, w, base, rem,
             row_number() OVER (ORDER BY rem DESC, source) AS rk
      FROM quota
    )
    SELECT source, w, CAST(base AS BIGINT) AS base, CAST(rem AS BIGINT) AS rem,
           CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT) AS extra,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM ranked, left_over
    """


@query(
    "hamilton_allocation",
    oracle=_hamilton_oracle(),
    survey_ref="§2.10 curation/mixing: Hamilton largest-remainder "
    "apportionment of a fixed token/sample budget across sources — the "
    "exact-integer answer to 'allocate B slots ∝ weights with Σ = B "
    "guaranteed' that float-share rounding cannot give; the allocation "
    "layer under mixture_temperature_weights and token_budget_curation",
)
def hamilton_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment over per-source char
    mass: base = floor(B·w/W) via BIGINT div, remainder rank breaks the
    leftover. Everything integer; nonneg operands so Spark div == DuckDB
    //. Plan: one groupBy + two 1-row broadcasts + a |sources|-row rank
    window — allocation is dimension-sized at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(F.sum("n_chars").cast("long").alias("w"))
    tot = per.agg(F.sum("w").cast("long").alias("wtot"))
    B = _HAMILTON_BUDGET
    quota = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "w",
        F.expr(f"({B} * w) div wtot").cast("long").alias("base"),
        F.expr(f"({B} * w) % wtot").cast("long").alias("rem"),
    )
    left = quota.agg((F.lit(B) - F.sum("base")).cast("long").alias("leftover"))
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("source")))
    ranked = quota.withColumn("rk", rk).crossJoin(F.broadcast(left))
    return ranked.select(
        "source",
        "w",
        "base",
        "rem",
        (F.col("rk") <= F.col("leftover")).cast("long").alias("extra"),
        (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
        .cast("long")
        .alias("alloc"),
    )


# --- Kaplan-Meier survival ---------------------------------------------------


@query(
    "kaplan_meier_survival",
    oracle="""
    WITH per AS (
      SELECT user_id, min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      FROM events GROUP BY user_id
    ),
    bound AS (SELECT max(last_us) AS end_us FROM per),
    life AS (
      SELECT user_id, (last_us - first_us) // 3600000000 AS t_h,
             CASE WHEN end_us - last_us < 86400000000 THEN 1 ELSE 0 END AS censored
      FROM per, bound
    ),
    support AS (
      SELECT t_h, CAST(count(*) AS BIGINT) AS cnt_all,
             CAST(sum(1 - censored) AS BIGINT) AS d
      FROM life GROUP BY t_h
    ),
    risk AS (
      SELECT t_h, d,
             CAST(sum(cnt_all) OVER (ORDER BY t_h DESC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS n_risk
      FROM support
    ),
    steps AS (SELECT t_h, d, n_risk FROM risk WHERE d > 0)
    SELECT CAST(t_h AS BIGINT) AS t_h, d, n_risk,
           round(product(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
                 OVER (ORDER BY t_h
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS survival
    FROM steps
    """,
    survey_ref="§2.4 extension (survival analysis): Kaplan-Meier estimator "
    "of user lifetime with 24h-tail censoring — d/n at-risk counts exact "
    "integers from value-support cumulative sums (no per-user scan per "
    "step); the survival product multiplies identical IEEE factors in "
    "identical ascending order in both engines",
)
def kaplan_meier_survival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed KM: per-user lifetimes (one groupBy), corpus end bound
    (1-row broadcast), then the at-risk counts come from ONE descending
    cumulative window over the lifetime SUPPORT (|distinct hours| rows —
    the ks_statistic trick), never by rescanning users per step. Output
    per death-time: t_h, d, n_risk exact; survival = Π(1 − d/n) 4dp."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
    )
    bound = per.agg(F.max("last_us").alias("end_us"))
    life = per.crossJoin(F.broadcast(bound)).select(
        F.expr("(last_us - first_us) div 3600000000").alias("t_h"),
        F.when(F.col("end_us") - F.col("last_us") < 86_400_000_000, 1)
        .otherwise(0)
        .alias("censored"),
    )
    support = life.groupBy("t_h").agg(
        F.count(F.lit(1)).cast("long").alias("cnt_all"),
        F.sum(F.lit(1) - F.col("censored")).cast("long").alias("d"),
    )
    w_desc = (
        Window.orderBy(F.col("t_h").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = support.select(
        "t_h", "d", F.sum("cnt_all").over(w_desc).cast("long").alias("n_risk")
    )
    steps = risk.where(F.col("d") > 0)
    w_asc = Window.orderBy("t_h").rowsBetween(Window.unboundedPreceding, 0)
    surv = F.product(
        F.lit(1.0) - F.col("d").cast("double") / F.col("n_risk").cast("double")
    ).over(w_asc)
    return steps.select(
        F.col("t_h").cast("long").alias("t_h"),
        "d",
        "n_risk",
        F.round(surv, 4).alias("survival"),
    )


# --- LSH threshold sweep -----------------------------------------------------

_SWEEP_THRESHOLDS = [50, 60, 70, 80, 90]


def _sweep_oracle() -> str:
    from nilm_data_framework_spark.queries.dedup_text import _minhash_ctes

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
    from nilm_data_framework_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    hashed = D._hashed_shingles(docs).localCheckpoint(eager=True)
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


# --- stream disorder (Spearman footrule) -------------------------------------


@query(
    "stream_disorder_footrule",
    oracle="""
    WITH ranked AS (
      SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY epoch_us(ts), event_id) AS BIGINT) AS rank_ts,
             CAST(row_number() OVER (PARTITION BY event_type
                    ORDER BY event_id) AS BIGINT) AS rank_arrival
      FROM events
    )
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(abs(rank_ts - rank_arrival)) AS BIGINT) AS footrule,
           CAST((sum(abs(rank_ts - rank_arrival)) * 20000
                 + greatest((count(*) * count(*)) // 2, 1))
                // (2 * greatest((count(*) * count(*)) // 2, 1)) AS BIGINT)
             AS disorder_e4
    FROM ranked GROUP BY event_type
    """,
    survey_ref="§2.9 streaming diagnostics: Spearman-footrule disorder "
    "between event-time order and arrival order per stream — the exact "
    "out-of-orderness measure that sizes watermark delay (footrule/max "
    "as exact e4; max Σ|r−r'| = ⌊n²/2⌋); the rank-based companion of "
    "streaming_late_data_drop's fixed-delay count",
)
def stream_disorder_footrule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rank windows per stream key (one exchange, two sorts) + one
    agg: footrule = Σ|rank_by_event_time − rank_by_arrival|. Exact
    integers end-to-end (disorder_e4 via the shared integer-rounding
    form). At 100 TB this is THE measurement that decides
    withWatermark's delay before deploying any streaming job. NOTE: the
    synthetic events table is perfectly time-ordered by event_id, so the
    measured disorder here is exactly 0 — the true statement the gate
    checks; late_arrival_p99 models a multi-producer transport to show
    the nonzero case."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w_ts = Window.partitionBy("event_type").orderBy("us", "event_id")
    w_id = Window.partitionBy("event_type").orderBy("event_id")
    ranked = ev.select(
        "event_type",
        F.row_number().over(w_ts).cast("long").alias("rank_ts"),
        F.row_number().over(w_id).cast("long").alias("rank_arrival"),
    )
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    return ranked.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.abs(F.col("rank_ts") - F.col("rank_arrival")))
        .cast("long")
        .alias("footrule"),
        ratio_e4(
            "sum(abs(rank_ts - rank_arrival))",
            "greatest((count(1) * count(1)) div 2, 1)",
        )
        .cast("long")
        .alias("disorder_e4"),
    )


# --- RFM customer segmentation -----------------------------------------------


@query(
    "rfm_segmentation",
    oracle="""
    WITH bound AS (SELECT max(epoch_us(o_orderdate)) AS end_us FROM orders),
    per AS (
      SELECT o_custkey,
             CAST((min(end_us - epoch_us(o_orderdate))) // 86400000000
                  AS BIGINT) AS recency_d,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS monetary_c
      FROM orders, bound GROUP BY o_custkey
    ),
    scored AS (
      SELECT o_custkey, recency_d, freq, monetary_c,
             CAST(ntile(5) OVER (ORDER BY recency_d, o_custkey) AS BIGINT)
               AS r_q,
             CAST(ntile(5) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT)
               AS f_q,
             CAST(ntile(5) OVER (ORDER BY monetary_c DESC, o_custkey)
                  AS BIGINT) AS m_q
      FROM per
    )
    SELECT r_q, f_q, m_q,
           CAST(count(*) AS BIGINT) AS n_customers,
           CAST(sum(monetary_c) AS BIGINT) AS total_monetary_c,
           CAST(sum(freq) AS BIGINT) AS total_orders
    FROM scored GROUP BY r_q, f_q, m_q
    """,
    survey_ref="§2.10 analytics extension: RFM (recency/frequency/"
    "monetary) customer segmentation — the classic marketing cube as "
    "exact integers: recency in whole days, monetary in cents, quintiles "
    "via ntile with full (metric, key) tiebreaks so bucket boundaries "
    "replay bit-identically",
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One customer agg (exact integer R/F/M) → three quintile assignments
    → segment-cell rollup. The quintiles are the scale-safe bucketed-ntile
    build (operators/scale_windows.py — the swap the r5 verdict asked for,
    previously only documented): recency and frequency partition on the
    value itself (small support), monetary on a $10k range bucket; each
    assignment is per-value/bucket counts + one cumulative window over the
    bucket SUPPORT + a bucket-partitioned row_number — no |customers|-sized
    single-partition sort anywhere. The oracle keeps native ntile with the
    same (metric, custkey) total order, so hash equality proves the swap
    exact."""
    from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile

    orders = load_table(spark, sf_dir, "orders").withColumn(
        # parquet reads the date column as TIMESTAMP_NTZ; the session is
        # pinned UTC so the cast is an identity relabel, never a shift
        "od_us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    )
    bound = orders.agg(F.max("od_us").alias("end_us"))
    per = orders.crossJoin(F.broadcast(bound)).groupBy("o_custkey").agg(
        F.expr("min(end_us - od_us) div 86400000000")
        .cast("long")
        .alias("recency_d"),
        F.count(F.lit(1)).cast("long").alias("freq"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("monetary_c"),
    )
    # bucketed_ntile references its input from three branches (per-row
    # window, bucket support, total count), so CHAINING the three calls
    # re-evaluates the customer agg 3^3 times (measured 2.2 s at sf0.1 vs
    # 1.2 s for this form): checkpoint `per` once, build the three tile
    # columns independently from it, join them back on the customer key.
    per = per.localCheckpoint(eager=True)
    scored = per
    for bucket, order, desc, out in [
        (F.col("recency_d"), [F.col("o_custkey")], False, "r_q"),
        (F.col("freq"), [F.col("freq").desc(), F.col("o_custkey")], True, "f_q"),
        (
            (F.col("monetary_c") / 1000000).cast("long"),
            [F.col("monetary_c").desc(), F.col("o_custkey")],
            True,
            "m_q",
        ),
    ]:
        tile = bucketed_ntile(per, bucket, order, 5, descending=desc, out=out)
        scored = scored.join(tile.select("o_custkey", out), "o_custkey")
    return scored.groupBy("r_q", "f_q", "m_q").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_c").cast("long").alias("total_monetary_c"),
        F.sum("freq").cast("long").alias("total_orders"),
    )


# --- near-dup source cross-contamination matrix ------------------------------


def _source_matrix_oracle() -> str:
    from nilm_data_framework_spark.queries.dedup_text import _minhash_ctes

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
    from nilm_data_framework_spark.operators import dedup as D

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


# --- MMR diversified retrieval -----------------------------------------------

_MMR_QUERIES = 8
_MMR_SHORTLIST = 20
_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL: the same fixed K−1 selection stages the
    Spark side builds, each stage an argmax of (rel − max sim to selected)
    over the remaining shortlist. λ = 1/2, so 2·MMR = rel − maxsim stays
    in exact BIGINT."""
    head = f"""
    WITH u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    rels AS (
      SELECT a.vec_id AS query_id, b.vec_id AS match_id,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS rel
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      WHERE a.vec_id < {_MMR_QUERIES}
      GROUP BY 1, 2
    ),
    short AS (
      SELECT query_id, match_id, rel FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, match_id) AS rk
        FROM rels) WHERE rk <= {_MMR_SHORTLIST}
    ),
    pairs AS (
      SELECT s.query_id, s.match_id AS id_i, t.match_id AS id_j,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS sim
      FROM short s
      JOIN short t ON t.query_id = s.query_id AND t.match_id <> s.match_id
      JOIN u a ON a.vec_id = s.match_id
      JOIN u b ON b.vec_id = t.match_id AND b.i = a.i
      GROUP BY 1, 2, 3
    ),
    sel1 AS (
      SELECT query_id, match_id, 1 AS step, rel, rel AS mmr2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, match_id) AS rk
        FROM short) WHERE rk = 1
    )"""
    stages = []
    prev_union = "SELECT query_id, match_id, step, rel, mmr2 FROM sel1"
    for k in range(2, _MMR_K + 1):
        sel_prev = f"selu{k - 1}"
        stages.append(f", {sel_prev} AS ({prev_union})")
        stages.append(
            f""", cand{k} AS (
      SELECT s.query_id, s.match_id, s.rel,
             max(p.sim) AS msim
      FROM short s
      LEFT JOIN {sel_prev} e
        ON e.query_id = s.query_id AND e.match_id = s.match_id
      JOIN pairs p ON p.query_id = s.query_id AND p.id_i = s.match_id
      JOIN {sel_prev} e2
        ON e2.query_id = p.query_id AND e2.match_id = p.id_j
      WHERE e.match_id IS NULL
      GROUP BY 1, 2, 3
    ), sel{k} AS (
      SELECT query_id, match_id, {k} AS step, rel, rel - msim AS mmr2 FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                  ORDER BY rel - msim DESC, match_id) AS rk
        FROM cand{k}) WHERE rk = 1
    )"""
        )
        prev_union += f" UNION ALL SELECT query_id, match_id, step, rel, mmr2 FROM sel{k}"
    return (
        head
        + "".join(stages)
        + f"""
    SELECT query_id, match_id, CAST(step AS BIGINT) AS step,
           rel, CAST(mmr2 AS BIGINT) AS mmr2
    FROM ({prev_union}) final
    """
    )


@query(
    "mmr_diversified_topk",
    oracle=_mmr_oracle(),
    survey_ref="§2.10 retrieval: Maximal Marginal Relevance re-rank "
    "(Carbonell & Goldstein 1998) — the standard diversity-aware top-k "
    "for RAG context selection; λ=1/2 makes 2·MMR = rel − max-sim-to-"
    "selected pure BIGINT, and the K−1 greedy stages are UNROLLED "
    "identically in both engines (shortlist-sized work per stage)",
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy MMR over the exact-dot shortlist: top-20 candidates per
    query (brute_force_topk topology — corpus never pair-shuffled), then
    K−1 = 4 unrolled argmax stages, each joining the remaining candidates
    to the already-selected set's pairwise sims (shortlist² per query =
    ≤400 rows). Every score is an exact integer; ties break on match_id.
    At 100 TB the shortlist comes from any ANN path and the MMR stages
    stay candidate-list-sized — greedy selection never touches the
    corpus."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"), u6_components("embedding").alias("c6")
    )
    q = emb.where(F.col("vec_id") < _MMR_QUERIES).select(
        F.col("vec_id").alias("query_id"), u6_components("embedding").alias("q6")
    )
    dot_qc = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), F.col("match_id"))
    short = (
        c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
        .withColumn("rel", dot_qc)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MMR_SHORTLIST)
        .select("query_id", "match_id", "rel", "c6")
        .localCheckpoint(eager=True)  # feeds pairs + every greedy stage
    )
    s_i = short.select(
        "query_id", F.col("match_id").alias("id_i"), F.col("c6").alias("v_i")
    )
    s_j = short.select(
        "query_id", F.col("match_id").alias("id_j"), F.col("c6").alias("v_j")
    )
    dot_ij = F.aggregate(
        F.zip_with("v_i", "v_j", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    pairs = (
        s_i.join(s_j, ["query_id"])
        .where(F.col("id_i") != F.col("id_j"))
        .withColumn("sim", dot_ij)
        .select("query_id", "id_i", "id_j", "sim")
        .localCheckpoint(eager=True)  # reused by K-1 stages
    )
    sel = (
        short.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "query_id",
            "match_id",
            F.lit(1).cast("long").alias("step"),
            "rel",
            F.col("rel").alias("mmr2"),
        )
    )
    shortlist = short.select("query_id", "match_id", "rel")
    for k in range(2, _MMR_K + 1):
        remaining = shortlist.join(
            sel.select("query_id", "match_id"), ["query_id", "match_id"], "left_anti"
        )
        cand = (
            remaining.join(
                pairs.withColumnRenamed("id_i", "match_id"), ["query_id", "match_id"]
            )
            .join(
                sel.select(
                    "query_id", F.col("match_id").alias("id_j")
                ),
                ["query_id", "id_j"],
            )
            .groupBy("query_id", "match_id", "rel")
            .agg(F.max("sim").alias("msim"))
        )
        w_k = Window.partitionBy("query_id").orderBy(
            (F.col("rel") - F.col("msim")).desc(), F.col("match_id")
        )
        pick = (
            cand.withColumn("rk", F.row_number().over(w_k))
            .filter(F.col("rk") == 1)
            .select(
                "query_id",
                "match_id",
                F.lit(k).cast("long").alias("step"),
                "rel",
                (F.col("rel") - F.col("msim")).cast("long").alias("mmr2"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=False)
    return sel.select(
        "query_id", "match_id", F.col("step").cast("long"), "rel",
        F.col("mmr2").cast("long"),
    )


# --- SAX symbolization + motif mining ----------------------------------------

_SAX_SEG_US = 21_600_000_000  # 6-hour PAA segments
_SAX_WORD = 4


def _sax_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import u6_mean_e4_sql

    return f"""
    WITH seg AS (
      SELECT user_id, epoch_us(ts) // {_SAX_SEG_US} AS seg,
             CAST(sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))
                  AS BIGINT) AS s6,
             CAST(count(*) AS BIGINT) AS cnt
      FROM events GROUP BY 1, 2
    ),
    means AS (
      SELECT user_id, seg, {u6_mean_e4_sql('s6', 'cnt')} AS mean_e4 FROM seg
    ),
    sym AS (
      SELECT user_id, seg,
             substr('abcd', CAST(ntile(4) OVER (ORDER BY mean_e4, user_id,
                                                seg) AS INT), 1) AS s
      FROM means
    ),
    words AS (
      SELECT user_id,
             s || lead(s, 1) OVER w || lead(s, 2) OVER w
               || lead(s, 3) OVER w AS word
      FROM sym
      WINDOW w AS (PARTITION BY user_id ORDER BY seg)
    )
    SELECT word, CAST(n AS BIGINT) AS n, CAST(rk AS BIGINT) AS rk FROM (
      SELECT word, count(*) AS n,
             row_number() OVER (ORDER BY count(*) DESC, word) AS rk
      FROM words WHERE word IS NOT NULL GROUP BY word
    ) WHERE rk <= 10
    """


@query(
    "sax_motifs",
    oracle=_sax_oracle(),
    survey_ref="§2.4 extension (time-series mining): SAX symbolization "
    "(Lin et al. 2003 — PAA segment means → alphabet buckets) + top-k "
    "length-4 motif counts; segment means are exact e4 integers, the "
    "alphabet assignment is a fully-tiebroken ntile, so the symbolic "
    "corpus and its motif table replay bit-identically",
)
def sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-channel PAA over 6h segments (one hash agg — exact u6 sums),
    global 4-letter alphabet via one ntile over the segment-mean support,
    per-channel sliding 4-grams via three lead()s sharing ONE channel-
    keyed sort, then a motif count. The classic symbolic index that makes
    shape queries (matrix-profile-lite) cheap: at 100 TB the symbol table
    is ~rows/segment_size and every later motif scan runs on symbols,
    never raw readings. Breakpoints here are equi-depth (ntile) rather
    than the Gaussian table — deterministic on any data distribution."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.exact_math import u6_mean_e4
    from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile

    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy(
        "user_id",
        F.expr(f"unix_micros(ts) div {_SAX_SEG_US}").alias("seg"),
    ).agg(
        F.sum(F.floor(F.col("value").cast("double") * 1000000).cast("long"))
        .cast("long")
        .alias("s6"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    # the (user, segment) frame is sf-scaled — a native global ntile would
    # single-partition-sort it (the exact loophole the hardened r7 window
    # guard now rejects: aggregate keyed by a row-scaled id is NOT a
    # bounded support). bucketed_ntile sorts only the mean_e4 VALUE
    # support; checkpoint the input because the tile build references it
    # thrice (rows, support, total — the r6 rfm lesson).
    means = seg.select(
        "user_id", "seg", u6_mean_e4("s6", "cnt").alias("mean_e4")
    ).localCheckpoint(eager=True)
    sym = bucketed_ntile(
        means,
        F.col("mean_e4"),
        [F.col("user_id"), F.col("seg")],
        4,
        out="_tile",
    ).select(
        "user_id",
        "seg",
        F.substring(F.lit("abcd"), F.col("_tile").cast("int"), 1).alias("s"),
    )
    w_u = Window.partitionBy("user_id").orderBy("seg")
    words = sym.select(
        F.concat(
            F.col("s"),
            F.lead("s", 1).over(w_u),
            F.lead("s", 2).over(w_u),
            F.lead("s", 3).over(w_u),
        ).alias("word")
    ).where(F.col("word").isNotNull())
    counts = words.groupBy("word").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_rk = Window.orderBy(F.col("n").desc(), F.col("word"))
    return (
        counts.withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= 10)
        .select("word", "n", "rk")
    )


# --- streaming PAA equivalence -----------------------------------------------


def _paa_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import u6_mean_e4_sql

    return f"""
    SELECT user_id, epoch_us(ts) // {_SAX_SEG_US} AS seg,
           {u6_mean_e4_sql(
               'sum(CAST(floor(CAST(value AS DOUBLE) * 1000000) AS BIGINT))',
               'count(*)')} AS mean_e4,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2
    """


@query(
    "streaming_paa_equiv",
    oracle=_paa_oracle(),
    survey_ref="§2.9 streaming analog of the SAX front end: 6h tumbling-"
    "window PAA segment means via readStream + watermark, drained with "
    "availableNow into a memory sink — the final sink state must equal "
    "the batch PAA aggregation exactly (the symbolization pipeline's "
    "incremental form)",
    tags=("streaming",),
)
def streaming_paa_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sax_motifs front end as a stream: tumbling 6h windows (epoch-
    aligned, same grain as the batch seg = us div 21600e6), exact u6
    sums/counts as state, mean_e4 derived at emit. availableNow + complete
    output drains the bounded backfill; the identical plan runs unbounded
    with the watermark bounding state. Executes eagerly (starts and
    awaits the stream); returns the materialized sink table."""
    from nilm_data_framework_spark.operators.exact_math import u6_mean_e4
    from nilm_data_framework_spark.queries.streaming_equiv import (
        _events_stream,
        _run_to_memory_sink,
    )

    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.col("user_id"), F.window("ts", "6 hours").alias("w"))
        .agg(
            F.sum(
                F.floor(F.col("value").cast("double") * 1000000).cast("long")
            )
            .cast("long")
            .alias("s6"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .select(
            "user_id",
            F.expr(f"unix_micros(to_timestamp(w.start)) div {_SAX_SEG_US}")
            .cast("long")
            .alias("seg"),
            u6_mean_e4("s6", "cnt").alias("mean_e4"),
            "cnt",
        )
    )
    _run_to_memory_sink(agg, "streaming_paa_equiv_sink")
    return spark.table("streaming_paa_equiv_sink")


# --- label-noise screen (neighbor disagreement) ------------------------------

_NOISE_K = 5


@query(
    "label_noise_screen",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    d AS (
      SELECT a.vec_id AS query_id, a.label AS own_label,
             b.vec_id AS match_id, b.label AS c_label,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      GROUP BY 1, 2, 3, 4
    ),
    top AS (
      SELECT query_id, own_label,
             CASE WHEN c_label <> own_label THEN 1 ELSE 0 END AS dis
      FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, match_id) AS rk
        FROM d) WHERE rk <= {_NOISE_K}
    ),
    per AS (
      SELECT query_id, own_label, CAST(sum(dis) AS BIGINT) AS n_dis
      FROM top GROUP BY 1, 2
    )
    SELECT own_label AS label,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(n_dis) AS BIGINT) AS total_disagree,
           CAST(sum(CASE WHEN 2 * n_dis > {_NOISE_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_flagged,
           CAST((sum(n_dis) * 20000 + count(*) * {_NOISE_K})
                // (2 * count(*) * {_NOISE_K}) AS BIGINT) AS disagree_e4
    FROM per GROUP BY own_label
    """,
    survey_ref="§2.10 label quality: confident-learning-lite noise screen "
    "— per label, how often a vector's {_k} nearest neighbors carry a "
    "DIFFERENT label (majority-disagree flags the likely mislabels, "
    "Northcutt et al.'s cleanlab intuition without the model); exact "
    "integer dots and counts end to end".replace("{_k}", str(_NOISE_K)),
)
def label_noise_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector looks at its 5 exact-dot neighbors and counts label
    disagreements; per-label rollup of total/majority-disagree/e4 rate.
    The all-pairs scan is the correctness baseline (corpus × corpus
    streamed, never shuffled by pair); at 100 TB the neighbor stage is
    any bucketed ANN path — the disagreement rollup is k·N-sized."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.embed_stats import u6_components
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        u6_components("embedding").alias("c6"),
        F.col("label").alias("c_label"),
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        u6_components("embedding").alias("q6"),
        F.col("label").alias("own_label"),
    )
    dot = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("match_id"))
    # NO broadcast hint: the probe side here is the FULL corpus (unlike the
    # ANN queries' constant-bounded vec_id slices), so the planner must
    # decide from measured size — BNLJ under the auto threshold at gate
    # scale; a 100 TB deployment swaps the neighbor stage to a bucketed
    # ANN path rather than ever forcing a corpus broadcast.
    top = (
        c.join(q, F.col("match_id") != F.col("query_id"))
        .withColumn("dot", dot)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _NOISE_K)
        .select(
            "query_id",
            "own_label",
            (F.col("c_label") != F.col("own_label")).cast("long").alias("dis"),
        )
    )
    per = top.groupBy("query_id", "own_label").agg(
        F.sum("dis").cast("long").alias("n_dis")
    )
    return per.groupBy(F.col("own_label").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum("n_dis").cast("long").alias("total_disagree"),
        F.sum((F.lit(2) * F.col("n_dis") > F.lit(_NOISE_K)).cast("long"))
        .cast("long")
        .alias("n_flagged"),
        ratio_e4("sum(n_dis)", f"count(1) * {_NOISE_K}").alias("disagree_e4"),
    )


# --- end-to-end RAG retrieval pipeline ---------------------------------------

_RAG_QVEC = 0
_RAG_CANDS = 20
_RAG_K = 5
# per-ranker exact shortlist size (top-N per ranking stage; the RRF
# completeness bound 2·(1e6 div (61+N)) < 1e6 div (60+_RAG_CANDS) holds at
# N=128, k=20)
_RAG_SHORTLIST = 128
# provable upper bound on |cand_ids| across every _rag_tail caller: two
# exact top-_RAG_SHORTLIST shortlists plus the persisted twin's
# ≤_RAG_SHORTLIST-row IVF probe (3×128 = 384 ≤ 512); used as a
# semantic-no-op limit() that carries the bound into the planner's size
# estimate (see _rag_tail). GUARD: tests/test_plan_quality.py pins
# 3·_RAG_SHORTLIST ≤ _RAG_CANDS_BOUND — if a future change raises the
# shortlist, the limit() would silently DROP candidates (wrong fused
# ranks, no error) unless this bound grows with it.
_RAG_CANDS_BOUND = 512


def _rag_oracle() -> str:
    """Full retrieval chain in SQL: quality gate → BM25-over-kept ∪ exact
    cosine → RRF(60) with integer weights → MMR diversity re-rank (λ=1/2,
    rel = exact query dot) — every stage the same construction its
    standalone oracle uses."""
    toks = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    per_cols = ",\n         ".join(
        f"CAST(len(list_filter(t, x -> x = '{t}')) AS BIGINT) AS tf_{t}"
        for t in _BM25_TERMS
    )
    df_cols = ",\n         ".join(
        f"CAST(sum(CASE WHEN tf_{t} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{t}"
        for t in _BM25_TERMS
    )
    avgdl = "(CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    score = "\n    + ".join(
        f"ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_{t} AS DOUBLE) + 0.5)"
        f" / (CAST(df_{t} AS DOUBLE) + 0.5))"
        f" * ((CAST(tf_{t} AS DOUBLE) * 2.2) / (CAST(tf_{t} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) / {avgdl}))))"
        for t in _BM25_TERMS
    )
    head = f"""
    WITH ft AS (
      SELECT doc_id, text, {toks} AS toks FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CASE WHEN len(toks) > 0
                  THEN length(text)::DOUBLE / len(toks) ELSE 0.0 END AS mean_tok,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS punct,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS upper_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_filter(toks, x -> x IN ('the','a','of','and',
                       'to','in','is','that','it','for')))::DOUBLE / len(toks)
                  ELSE 0.0 END AS stop_r,
             CASE WHEN len(toks) > 0
                  THEN len(list_distinct(toks))::DOUBLE / len(toks)
                  ELSE 0.0 END AS dtr
      FROM ft
    ),
    kept AS (
      SELECT doc_id FROM (
        SELECT doc_id, 0.5 + 4.0*stop_r + 2.0*dtr + (-6.0)*punct
               + (-2.0)*upper_r + (-0.25)*mean_tok AS z
        FROM feats)
      WHERE (1.0 / (1.0 + exp(-z))) >= 0.5 AND doc_id <> {_RAG_QVEC}
    ),
    per AS (
      SELECT f.doc_id, CAST(len(toks) AS BIGINT) AS dl,
         {per_cols}
      FROM ft f JOIN kept k ON k.doc_id = f.doc_id,
           LATERAL (SELECT f.toks AS t) lt
    ),
    stats AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(dl) AS BIGINT) AS sum_dl,
         {df_cols}
      FROM per
    ),
    bm AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY bm25_raw DESC, doc_id)
                          AS BIGINT) AS rank_bm25
      FROM (SELECT doc_id, ( {score} ) AS bm25_raw FROM per, stats)
    ),
    u AS (
      SELECT vec_id, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    rels AS (
      SELECT b.vec_id AS doc_id, CAST(sum(a.q6 * b.q6) AS BIGINT) AS rel
      FROM u a
      JOIN u b ON a.i = b.i
      JOIN kept k ON k.doc_id = b.vec_id
      WHERE a.vec_id = {_RAG_QVEC}
      GROUP BY b.vec_id
    ),
    cs AS (
      SELECT doc_id, CAST(row_number() OVER (ORDER BY rel DESC, doc_id)
                          AS BIGINT) AS rank_cos
      FROM rels
    ),
    fused AS (
      SELECT k.doc_id,
             coalesce(b.rank_bm25, 0) AS rank_bm25,
             coalesce(c.rank_cos, 0) AS rank_cos,
             CAST(coalesce(1000000 // (60 + b.rank_bm25), 0)
                  + coalesce(1000000 // (60 + c.rank_cos), 0) AS BIGINT)
               AS rrf_e6
      FROM kept k
      LEFT JOIN bm b ON b.doc_id = k.doc_id
      LEFT JOIN cs c ON c.doc_id = k.doc_id
    ),
    short AS (
      SELECT f.doc_id AS match_id, f.rank_bm25, f.rank_cos, f.rrf_e6, r.rel
      FROM (
        SELECT *, row_number() OVER (ORDER BY rrf_e6 DESC, doc_id) AS rk
        FROM fused) f
      JOIN rels r ON r.doc_id = f.doc_id
      WHERE f.rk <= {_RAG_CANDS}
    ),
    pairs AS (
      SELECT s.match_id AS id_i, t.match_id AS id_j,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS sim
      FROM short s
      JOIN short t ON t.match_id <> s.match_id
      JOIN u a ON a.vec_id = s.match_id
      JOIN u b ON b.vec_id = t.match_id AND b.i = a.i
      GROUP BY 1, 2
    ),
    sel1 AS (
      SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,
             1 AS step, rel AS mmr2
      FROM (SELECT *, row_number() OVER (ORDER BY rel DESC, match_id) AS rk
            FROM short) WHERE rk = 1
    )"""
    stages = []
    prev_union = (
        "SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel, step, mmr2 FROM sel1"
    )
    for k in range(2, _RAG_K + 1):
        sel_prev = f"rselu{k - 1}"
        stages.append(f", {sel_prev} AS ({prev_union})")
        stages.append(
            f""", rcand{k} AS (
      SELECT s.match_id, s.rank_bm25, s.rank_cos, s.rrf_e6, s.rel,
             max(p.sim) AS msim
      FROM short s
      LEFT JOIN {sel_prev} e ON e.match_id = s.match_id
      JOIN pairs p ON p.id_i = s.match_id
      JOIN {sel_prev} e2 ON e2.match_id = p.id_j
      WHERE e.match_id IS NULL
      GROUP BY 1, 2, 3, 4, 5
    ), rsel{k} AS (
      SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,
             {k} AS step, rel - msim AS mmr2 FROM (
        SELECT *, row_number() OVER (ORDER BY rel - msim DESC, match_id) AS rk
        FROM rcand{k}) WHERE rk = 1
    )"""
        )
        prev_union += (
            f" UNION ALL SELECT match_id, rank_bm25, rank_cos, rrf_e6, rel,"
            f" step, mmr2 FROM rsel{k}"
        )
    return (
        head
        + "".join(stages)
        + f"""
    SELECT match_id AS doc_id, rank_bm25, rank_cos, rrf_e6, rel,
           CAST(step AS BIGINT) AS step, CAST(mmr2 AS BIGINT) AS mmr2
    FROM ({prev_union}) final
    """
    )


@query(
    "rag_retrieval_pipeline",
    oracle=_rag_oracle(),
    survey_ref="§2.10 retrieval, end-to-end: classifier quality gate → "
    "BM25-over-kept + exact-cosine rankings → reciprocal-rank fusion "
    "(integer weights) → MMR diversity re-rank — the complete hybrid RAG "
    "context-selection chain, every stage the same oracled construction "
    "as its standalone query, composed and re-gated as one unit",
)
def rag_retrieval_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition proof: the standalone gates verify each operator; this
    query verifies the INTERFACES — keep-set feeds BM25's corpus stats,
    both rankers feed RRF over the kept union, the fused shortlist feeds
    MMR with exact query-dot relevance. Plan (r5 verdict item 4 —
    shortlist fusion): each ranker contributes a top-128 TakeOrdered
    shortlist, the candidate union's EXACT global ranks are rebuilt by
    exact_ranks_for_candidates (support inequality join + tie equi-join,
    two linear passes), and fusion/MMR only ever see ≤256 coalesced rows.
    Completeness: RRF is monotone in both ranks, so a doc outside both
    top-128 lists scores ≤ 2·(1e6 div 189) = 10582 < 12500 = 1e6 div 80
    ≤ the 20th candidate's score (the bm25-top-20 are all candidates) —
    the fused top-20 is provably inside the candidate set for any data.
    The only corpus-sized work left is the two ranking scans; at 100 TB
    those swap to the inverted index + the persisted-IVF ANN path
    (ivf_topk_persisted), and fusion/MMR are unchanged. The oracle keeps
    the full-corpus global-rank construction; hash equality proves the
    swap exact.

    ASSUMPTION (r6 advice): every document row has an embedding row
    (vec_id == doc_id, 1:1 — true of the driver fixture and of any corpus
    embedded before retrieval). Under partial coverage the engines would
    diverge at the shortlist cut: the oracle's LEFT-JOIN fusion gives an
    embedding-less doc a bm25-only rrf_e6 that consumes a fused-rank slot
    before the inner JOIN rels drops it, while this plan's inner-join
    candidate set never admits it — same final doc set only when coverage
    is total. Embed-before-retrieve is the pipeline contract."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.embed_stats import u6_components
    from nilm_data_framework_spark.operators.scale_windows import (
        exact_ranks_for_candidates,
    )
    from nilm_data_framework_spark.operators.text import (
        bm25_scores,
        quality_classifier_score,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    kept_ids = (
        quality_classifier_score(docs)
        .where(F.col("keep") & (F.col("doc_id") != _RAG_QVEC))
        .select("doc_id")
    )
    kept_docs = docs.join(kept_ids, "doc_id")
    # narrow (doc_id, bm25_raw) frame feeds a top-k pass + two rank-
    # reconstruction passes — checkpoint the scoring scan once
    bmscored = (
        bm25_scores(kept_docs, _BM25_TERMS)
        .select("doc_id", "bm25_raw")
        .localCheckpoint(eager=True)
    )
    qv = emb.where(F.col("vec_id") == _RAG_QVEC).select(
        u6_components("embedding").alias("qv6")
    )
    dot_q = F.aggregate(
        F.zip_with("qv6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    rels = (
        emb.join(kept_ids, emb["vec_id"] == kept_ids["doc_id"])
        .select(
            F.col("vec_id").alias("rdoc_id"), u6_components("embedding").alias("c6")
        )
        .crossJoin(F.broadcast(qv))
        .select(F.col("rdoc_id").alias("doc_id"), dot_q.alias("rel"))
        .localCheckpoint(eager=True)
    )
    cand_ids = (
        bmscored.orderBy(F.col("bm25_raw").desc(), "doc_id")
        .limit(_RAG_SHORTLIST)
        .select("doc_id")
        .unionByName(
            rels.orderBy(F.col("rel").desc(), "doc_id")
            .limit(_RAG_SHORTLIST)
            .select("doc_id")
        )
        .distinct()
        .coalesce(1)
        .localCheckpoint(eager=False)
    )
    cvec = emb.select(
        F.col("vec_id").alias("match_id"), u6_components("embedding").alias("c6")
    )
    return _rag_tail(bmscored, rels, cand_ids, cvec)


def _rag_tail(
    bmscored: DataFrame,
    rels: DataFrame,
    cand_ids: DataFrame,
    cvec: DataFrame,
) -> DataFrame:
    """Fusion + MMR tail shared by rag_retrieval_pipeline and its
    persisted-index twin (queries/extra_ops_r7.py): exact candidate ranks
    via exact_ranks_for_candidates over the two scoring frames, integer
    RRF, top-_RAG_CANDS shortlist, pairwise sims, _RAG_K-step MMR. Inputs:
    bmscored (doc_id, bm25_raw) and rels (doc_id, rel) covering the FULL
    kept corpus (exact global ranks need the whole multiset), cand_ids a
    bounded superset of the two exact top-128 shortlists, cvec (match_id,
    c6) covering at least the kept docs. Any SUPERSET candidate set yields
    the identical output: a doc outside both exact top-128s has rrf ≤
    2·(1e6 div 189) = 10582 < 12500 = 1e6 div 80 ≤ every bm25-top-20
    candidate's score, so extras sit strictly below the shortlist cut."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.scale_windows import (
        exact_ranks_for_candidates_pair,
    )

    # The value-attach join (cand_ids ⋈ scoring frame) multiplies the two
    # sides' size estimates (size-only join stats), so the candidate frame
    # looked corpus-sized to the planner and the support-inequality join
    # inside exact_ranks_for_candidates planned as CartesianProduct instead
    # of a broadcast nested-loop build (guide §3.1 — pick the strategy
    # deliberately). cand_ids is ≤ 3×128 rows BY CONSTRUCTION (union of two
    # exact top-128 lists plus, in the persisted twin, a ≤128-row IVF probe,
    # then distinct), and doc_id is unique in bmscored/rels, so a
    # limit(_RAG_CANDS_BOUND) on the joined frame drops nothing — it only
    # hands the planner the true bound, which flips both exact_ranks joins
    # to broadcast builds with the ≤384-row side as the build side.
    cand_b = cand_ids.join(bmscored, "doc_id").limit(_RAG_CANDS_BOUND)
    # the pair ranking needs both value columns in one type: rel (a bigint
    # u6 dot) goes to double, the widening the fused union used to apply
    # implicitly — exact while |rel| < 2^53, i.e. dim · 1e12 for unit-range
    # components
    rels_d = rels.select("doc_id", F.col("rel").cast("double").alias("rel"))
    cand_r = cand_ids.join(rels_d, "doc_id").limit(_RAG_CANDS_BOUND)
    # both exact rankings from ONE tagged strict join + ONE tagged tie join
    # (r10, VERDICT r9 item 7): the two exact_ranks_for_candidates calls
    # each paid two broadcast-build joins — four broadcast jobs on every
    # serve call; the fused form halves that and drops the rb ⋈ rc
    # re-attach join too (the pair operator returns both ranks wide,
    # property-pinned bit-identical in tests/test_scale_windows.py).
    ranks = exact_ranks_for_candidates_pair(
        bmscored, cand_b, "bm25_raw",
        rels_d, cand_r, "rel",
        "doc_id", out_a="rank_bm25", out_b="rank_cos",
    )
    fused = ranks.select(
        "doc_id",
        "rank_bm25",
        "rank_cos",
        (
            F.expr("1000000 div (60 + rank_bm25)")
            + F.expr("1000000 div (60 + rank_cos)")
        )
        .cast("long")
        .alias("rrf_e6"),
    )
    short = (
        fused.coalesce(1)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("rrf_e6").desc(), "doc_id")),
        )
        .filter(F.col("rk") <= _RAG_CANDS)
        .join(rels, "doc_id")
        .select(
            F.col("doc_id").alias("match_id"),
            "rank_bm25",
            "rank_cos",
            "rrf_e6",
            "rel",
        )
    )
    # MMR tail as ONE fold (guide §5 — job-count collapse, r9 opt round):
    # the shortlist is ≤ _RAG_CANDS rows, so the greedy K-step selection is
    # constant-size sequential work; running it as _RAG_K-1 rounds of
    # anti-join + pair-join + groupBy + window (the previous form) cost a
    # pairs crossJoin checkpoint plus ~(_RAG_K-1) lazy checkpoints of pure
    # job dispatch at ANY scale. Instead: collect the shortlist WITH its
    # u6 vectors into a single row and run the exact greedy recurrence as
    # an aggregate() HOF over sequence(1, K) (the bounded-domain fold
    # pattern from operators/forecast.py). Per step the pick is the argmax
    # over remaining by (rel - coalesce(msim, 0)) desc with match_id asc
    # tiebreak — identical to the old windows: at step 1 msim is null for
    # every row (rel - 0 = rel, the (rel desc, match_id) window) and
    # afterwards msim is the running max sim over selected, maintained
    # incrementally by folding the pick's dot product into each survivor
    # (the same zip_with/aggregate bigint expression the pairs frame
    # computed — exact integer arithmetic, so the fold is bit-identical to
    # the joined form; the shared oracle gates all three RAG queries).
    # The argmax reduce is order-insensitive (total order via the
    # match_id tiebreak), so collect_list's nondeterministic order is
    # immaterial. All fields are bigint (doc_id INT64, ranks/rrf/rel/sim
    # products of u6 casts).
    items = short.join(cvec, "match_id").select(
        "match_id", "rank_bm25", "rank_cos", "rrf_e6", "rel", "c6"
    )
    rem_t = (
        "struct<match_id:bigint,rank_bm25:bigint,rank_cos:bigint,"
        "rrf_e6:bigint,rel:bigint,c6:array<bigint>,msim:bigint>"
    )
    sel_t = (
        "struct<match_id:bigint,rank_bm25:bigint,rank_cos:bigint,"
        "rrf_e6:bigint,rel:bigint,step:bigint,mmr2:bigint>"
    )
    dot_p = "aggregate(zip_with(r.c6, p.c6, (x, y) -> x * y), 0L, (a, v) -> a + v)"
    fold = f"""
    aggregate(
      sequence(1, {_RAG_K}),
      struct(
        cast(array() as array<{sel_t}>) as sel,
        transform(items, r -> struct(
          r.match_id as match_id, r.rank_bm25 as rank_bm25,
          r.rank_cos as rank_cos, r.rrf_e6 as rrf_e6, r.rel as rel,
          r.c6 as c6, cast(null as bigint) as msim)) as rem),
      (st, k) -> transform(
        array(aggregate(
          st.rem, cast(null as {rem_t}),
          (b, r) -> case
            when b is null then r
            when (r.rel - coalesce(r.msim, 0L))
                 > (b.rel - coalesce(b.msim, 0L)) then r
            when (r.rel - coalesce(r.msim, 0L))
                 = (b.rel - coalesce(b.msim, 0L))
                 and r.match_id < b.match_id then r
            else b end)),
        p -> case when p is null then st else struct(
          concat(st.sel, array(struct(
            p.match_id as match_id, p.rank_bm25 as rank_bm25,
            p.rank_cos as rank_cos, p.rrf_e6 as rrf_e6, p.rel as rel,
            cast(k as bigint) as step,
            p.rel - coalesce(p.msim, 0L) as mmr2))) as sel,
          transform(
            filter(st.rem, r -> r.match_id != p.match_id),
            r -> struct(
              r.match_id as match_id, r.rank_bm25 as rank_bm25,
              r.rank_cos as rank_cos, r.rrf_e6 as rrf_e6, r.rel as rel,
              r.c6 as c6,
              case when r.msim is null then {dot_p}
                   else greatest(r.msim, {dot_p}) end as msim)) as rem)
        end)[0]
    ).sel
    """
    return (
        items.agg(F.collect_list(F.struct(*items.columns)).alias("items"))
        .select(F.inline(F.expr(fold)))
        .where(F.col("match_id").isNotNull())
        .select(
            F.col("match_id").alias("doc_id"),
            "rank_bm25",
            "rank_cos",
            "rrf_e6",
            "rel",
            "step",
            F.col("mmr2").cast("long"),
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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.text import tokens

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


# --- CBO-style column statistics (ANALYZE TABLE emulation) -------------------


@query(
    "cbo_column_stats",
    oracle="""
    SELECT 'o_custkey' AS col,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS ndv,
           CAST(min(o_custkey) AS BIGINT) AS min_v,
           CAST(max(o_custkey) AS BIGINT) AS max_v
    FROM orders
    UNION ALL
    SELECT 'o_orderkey',
           CAST(count(*) AS BIGINT), CAST(count(o_orderkey) AS BIGINT),
           CAST(count(DISTINCT o_orderkey) AS BIGINT),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_totalprice_cents',
           CAST(count(*) AS BIGINT),
           CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT CAST(floor(o_totalprice * 100) AS BIGINT))
                AS BIGINT),
           CAST(min(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT),
           CAST(max(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
    FROM orders
    """,
    survey_ref="§2 extension (optimizer stats): ANALYZE TABLE-style "
    "per-column statistics — exact row/non-null/NDV/min/max per column, "
    "the inputs a cost-based optimizer (and join_size_from_histograms) "
    "consumes; money surfaced as exact cents",
)
def cbo_column_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One scan per column family (Spark plans the three aggregates over a
    shared cached scan; each is a global agg with map-side partials —
    count(DISTINCT) expands via Expand, the standard exact-NDV plan). At
    100 TB you'd swap exact NDV for the attested HLL sketch
    (hll_distinct_attest) — this gate is the exact contract the sketch is
    measured against."""
    orders = load_table(spark, sf_dir, "orders")

    def stats(col_name: str, expr_col, src=orders):
        return src.agg(
            F.lit(col_name).alias("col"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.count(expr_col).cast("long").alias("n_nonnull"),
            F.countDistinct(expr_col).cast("long").alias("ndv"),
            F.min(expr_col).cast("long").alias("min_v"),
            F.max(expr_col).cast("long").alias("max_v"),
        )

    cents = F.floor(F.col("o_totalprice") * 100).cast("long")
    return (
        stats("o_custkey", F.col("o_custkey"))
        .unionByName(stats("o_orderkey", F.col("o_orderkey")))
        .unionByName(
            orders.agg(
                F.lit("o_totalprice_cents").alias("col"),
                F.count(F.lit(1)).cast("long").alias("n_rows"),
                F.count("o_totalprice").cast("long").alias("n_nonnull"),
                F.countDistinct(cents).cast("long").alias("ndv"),
                F.min(cents).cast("long").alias("min_v"),
                F.max(cents).cast("long").alias("max_v"),
            )
        )
    )


# --- kNN confusion matrix + per-class precision/recall -----------------------


@query(
    "knn_confusion_matrix",
    oracle=f"""
    WITH u AS (
      SELECT vec_id, label, CAST(i AS INT) AS i,
             CAST(floor(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS q6
      FROM embeddings CROSS JOIN range(0, 64) t(i)
    ),
    d AS (
      SELECT a.vec_id AS query_id, a.label AS true_label,
             b.vec_id AS match_id, b.label AS c_label,
             CAST(sum(a.q6 * b.q6) AS BIGINT) AS dot
      FROM u a JOIN u b ON a.i = b.i AND b.vec_id <> a.vec_id
      GROUP BY 1, 2, 3, 4
    ),
    top AS (
      SELECT query_id, true_label, c_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY dot DESC, match_id) AS rk
        FROM d) WHERE rk <= 5
    ),
    votes AS (
      SELECT query_id, true_label, c_label, count(*) AS v
      FROM top GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT query_id, true_label, c_label AS pred_label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY v DESC, c_label) AS r2
        FROM votes) WHERE r2 = 1
    ),
    cells AS (
      SELECT true_label, pred_label, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY 1, 2
    ),
    margins AS (
      SELECT true_label AS label,
             CAST(sum(n) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN pred_label = true_label THEN n ELSE 0 END)
                  AS BIGINT) AS tp
      FROM cells GROUP BY 1
    ),
    pmarg AS (
      SELECT pred_label AS label, CAST(sum(n) AS BIGINT) AS n_pred
      FROM cells GROUP BY 1
    )
    SELECT m.label, m.n_true,
           coalesce(p.n_pred, 0) AS n_pred, m.tp,
           CAST((m.tp * 20000 + greatest(coalesce(p.n_pred, 0), 1))
                // (2 * greatest(coalesce(p.n_pred, 0), 1)) AS BIGINT)
             AS precision_e4,
           CAST((m.tp * 20000 + m.n_true) // (2 * m.n_true) AS BIGINT)
             AS recall_e4
    FROM margins m LEFT JOIN pmarg p ON p.label = m.label
    """,
    survey_ref="§2.10 embedding evaluation: full-corpus 5-NN confusion "
    "margins — per class, exact support / predicted-count / true-positive "
    "counts with e4 precision and recall; the per-class companion of "
    "knn_label_accuracy's per-query predictions",
)
def knn_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same all-pairs exact-dot baseline as label_noise_screen (no
    broadcast hint — planner-decided; ANN is the scale path), majority
    vote per vector, then confusion-cell margins. The rollups are
    prediction-count-sized; only the neighbor stage sees the corpus."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.embed_stats import u6_components

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    c = emb.select(
        F.col("vec_id").alias("match_id"),
        u6_components("embedding").alias("c6"),
        F.col("label").alias("c_label"),
    )
    q = emb.select(
        F.col("vec_id").alias("query_id"),
        u6_components("embedding").alias("q6"),
        F.col("label").alias("true_label"),
    )
    dot = F.aggregate(
        F.zip_with("q6", "c6", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    w = Window.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("match_id"))
    top = (
        c.join(q, F.col("match_id") != F.col("query_id"))
        .withColumn("dot", dot)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("query_id", "true_label", "c_label")
    )
    votes = top.groupBy("query_id", "true_label", "c_label").agg(
        F.count(F.lit(1)).alias("v")
    )
    w2 = Window.partitionBy("query_id").orderBy(F.col("v").desc(), F.col("c_label"))
    pred = (
        votes.withColumn("r2", F.row_number().over(w2))
        .filter(F.col("r2") == 1)
        .select("query_id", "true_label", F.col("c_label").alias("pred_label"))
    )
    # Margins in ONE aggregation over a 2-way tagged union of the per-query
    # predictions (r10 optimization, guide §2.4): the old cells→margins ⋈
    # cells→pmarg form referenced the N²-dot prediction subtree from TWO
    # branches of a self-join — correctness relied on runtime exchange
    # reuse, and it paid three exchanges plus a sort-merge join for what is
    # one label-keyed agg. Each prediction contributes a true-label-tagged
    # row (counts n_true, and tp when the prediction is correct) and a
    # pred-label-tagged row (counts n_pred); labels that are only ever
    # predicted (n_true = 0) are filtered exactly as the old margins LEFT
    # JOIN pmarg kept only true-label rows. Identical integer outputs.
    # explode, not union: a union would still reference the expensive pred
    # subtree twice — the explode emits both tagged rows in ONE pass
    tagged = pred.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("true_label").alias("label"),
                    F.lit(1).cast("long").alias("is_true"),
                    (F.col("pred_label") == F.col("true_label"))
                    .cast("long")
                    .alias("tp_flag"),
                ),
                F.struct(
                    F.col("pred_label").alias("label"),
                    F.lit(0).cast("long").alias("is_true"),
                    F.lit(0).cast("long").alias("tp_flag"),
                ),
            )
        ).alias("t")
    ).select("t.label", "t.is_true", "t.tp_flag")
    out = (
        tagged.groupBy("label")
        .agg(
            F.sum("is_true").cast("long").alias("n_true"),
            F.sum(F.lit(1) - F.col("is_true")).cast("long").alias("n_pred"),
            F.sum("tp_flag").cast("long").alias("tp"),
        )
        .filter(F.col("n_true") > 0)
        .select(
            "label",
            "n_true",
            "n_pred",
            "tp",
            F.expr(
                "(tp * 20000 + greatest(n_pred, 1))"
                " div (2 * greatest(n_pred, 1))"
            )
            .cast("long")
            .alias("precision_e4"),
            F.expr("(tp * 20000 + n_true) div (2 * n_true)")
            .cast("long")
            .alias("recall_e4"),
        )
    )
    return out


# --- mutual information between two categoricals -----------------------------


@query(
    "mutual_information_lang_source",
    oracle="""
    WITH cells AS (
      SELECT lang, source, CAST(count(*) AS BIGINT) AS n_xy
      FROM documents GROUP BY 1, 2
    ),
    mx AS (SELECT lang, CAST(sum(n_xy) AS BIGINT) AS n_x FROM cells GROUP BY 1),
    my AS (SELECT source, CAST(sum(n_xy) AS BIGINT) AS n_y FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS n FROM cells),
    terms AS (
      SELECT c.lang, c.source, c.n_xy, x.n_x, y.n_y, t.n,
             (CAST(c.n_xy AS DOUBLE) / CAST(t.n AS DOUBLE))
               * ln((CAST(c.n_xy AS DOUBLE) * CAST(t.n AS DOUBLE))
                    / (CAST(x.n_x AS DOUBLE) * CAST(y.n_y AS DOUBLE))) AS term
      FROM cells c
      JOIN mx x ON x.lang = c.lang
      JOIN my y ON y.source = c.source
      CROSS JOIN tot t
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(min(n_xy) AS BIGINT) AS min_cell,
           CAST(max(n_xy) AS BIGINT) AS max_cell,
           round(sum(term), 4) AS mi_nats
    FROM terms
    """,
    survey_ref="§2.10 feature diagnostics: exact-count mutual information "
    "I(lang; source) — the dependence screen beside χ² independence "
    "(chi_square_independence); every count exact, only the final "
    "Σ p·ln(p/(pq)) display value is float (4dp, the surprisal rule — "
    "summed via a deterministic single-partition ordered reduction)",
)
def mutual_information_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Observed-cell MI: one (x, y) hash agg + broadcast margins; empty
    cells contribute 0 so only observed cells are materialized (the
    chi_square sparse-grid discipline). The float sum is made
    deterministic by sorting terms on (lang, source) into a single
    ordered reduction — same order DuckDB's aggregate sees at this
    cell count (one group, sequential)."""
    docs = load_table(spark, sf_dir, "documents")
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_xy")
    )
    mx = cells.groupBy("lang").agg(F.sum("n_xy").cast("long").alias("n_x"))
    my = cells.groupBy("source").agg(F.sum("n_xy").cast("long").alias("n_y"))
    tot = cells.agg(F.sum("n_xy").cast("long").alias("n"))
    terms = (
        cells.join(mx, "lang")
        .join(my, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "source",
            "n_xy",
            (
                (F.col("n_xy").cast("double") / F.col("n").cast("double"))
                * F.log(
                    (F.col("n_xy").cast("double") * F.col("n").cast("double"))
                    / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
                )
            ).alias("term"),
        )
    )
    # deterministic float accumulation: one partition, (lang, source) order
    ordered = terms.coalesce(1).sortWithinPartitions("lang", "source")
    return ordered.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.min("n_xy").cast("long").alias("min_cell"),
        F.max("n_xy").cast("long").alias("max_cell"),
        F.round(F.sum("term"), 4).alias("mi_nats"),
    )


# --- pairwise co-activation durations ----------------------------------------

_COACT_GAP_US = 1_800_000_000  # 30 min session gap


@query(
    "pairwise_coactivation",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id, event_type
                                     ORDER BY epoch_us(ts), event_id) AS prev
      FROM events
    ),
    flagged AS (
      SELECT user_id, event_type, us,
             CASE WHEN prev IS NULL OR us - prev > {_COACT_GAP_US}
                  THEN 1 ELSE 0 END AS new_s
      FROM seq
    ),
    sess AS (
      SELECT user_id, event_type, us,
             sum(new_s) OVER (PARTITION BY user_id, event_type
                              ORDER BY us
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid
      FROM flagged
    ),
    iv AS (
      SELECT user_id, event_type,
             CAST(min(us) AS BIGINT) AS s, CAST(max(us) AS BIGINT) AS e
      FROM sess GROUP BY user_id, event_type, sid
    ),
    olap AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             least(a.e, b.e) - greatest(a.s, b.s) AS o_us
      FROM iv a JOIN iv b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
       AND a.s < b.e AND b.s < a.e
    )
    SELECT type_a, type_b, CAST(count(*) AS BIGINT) AS n_overlaps,
           CAST(sum(o_us) AS BIGINT) AS total_overlap_us,
           CAST(max(o_us) AS BIGINT) AS max_overlap_us
    FROM olap GROUP BY type_a, type_b
    """,
    survey_ref="§2.4 extension (NILM co-activation): per type-pair, how "
    "long two activity streams are ON simultaneously — session intervals "
    "per (channel, type) via the 30-min gap rule, then a user-keyed "
    "interval-overlap join; exact integer micros end to end (the "
    "appliance-correlation diagnostic behind A12's value correlation)",
)
def pairwise_coactivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intervals from gaps-and-islands (ONE (user, type) exchange serves
    the lag, the running session-id sum, and the interval agg), then an
    EQUI-join on user_id with the overlap range as a residual predicate —
    per-user interval counts are small, so the join is user-local and
    never a cartesian. At 100 TB add a coarse time-bucket to the join key
    (the bucketed range-join pattern) if single users span years."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w_lag = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    flagged = ev.select(
        "user_id",
        "event_type",
        "us",
        F.when(
            F.lag("us").over(w_lag).isNull()
            | (F.col("us") - F.lag("us").over(w_lag) > _COACT_GAP_US),
            1,
        )
        .otherwise(0)
        .alias("new_s"),
    )
    w_run = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("us")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = flagged.withColumn("sid", F.sum("new_s").over(w_run))
    iv = sess.groupBy("user_id", "event_type", "sid").agg(
        F.min("us").cast("long").alias("s"), F.max("us").cast("long").alias("e")
    )
    a = iv.select(
        "user_id",
        F.col("event_type").alias("type_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = iv.select(
        "user_id",
        F.col("event_type").alias("type_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    overlaps = a.join(
        b,
        (a["user_id"] == b["user_id"])
        & (F.col("type_a") < F.col("type_b"))
        & (F.col("s_a") < F.col("e_b"))
        & (F.col("s_b") < F.col("e_a")),
    ).select(
        "type_a",
        "type_b",
        (
            F.least("e_a", "e_b") - F.greatest("s_a", "s_b")
        ).alias("o_us"),
    )
    return overlaps.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_overlaps"),
        F.sum("o_us").cast("long").alias("total_overlap_us"),
        F.max("o_us").cast("long").alias("max_overlap_us"),
    )


# --- temperature-weighted budget allocation (composition) --------------------


@query(
    "temperature_budget_allocation",
    oracle=f"""
    WITH per AS (
      SELECT lang,
             CAST(sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> ''))) AS BIGINT) AS n_tok
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS n_total FROM per),
    w AS (
      SELECT lang, n_tok,
             CAST(floor(sqrt(CAST(n_tok AS DOUBLE) / CAST(n_total AS DOUBLE))
                        * 1000000) AS BIGINT) AS w6
      FROM per, tot
    ),
    wt AS (SELECT CAST(sum(w6) AS BIGINT) AS wtot FROM w),
    quota AS (
      SELECT lang, n_tok, w6,
             ({_HAMILTON_BUDGET} * w6) // wtot AS base,
             ({_HAMILTON_BUDGET} * w6) % wtot AS rem
      FROM w, wt
    ),
    lo AS (SELECT CAST({_HAMILTON_BUDGET} - sum(base) AS BIGINT) AS leftover
           FROM quota),
    ranked AS (
      SELECT lang, n_tok, w6, base, rem,
             row_number() OVER (ORDER BY rem DESC, lang) AS rk
      FROM quota
    )
    SELECT lang, n_tok, w6, CAST(base AS BIGINT) AS base,
           CAST(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
    FROM ranked, lo
    """,
    survey_ref="§2.10 curation composition: τ=0.5 temperature weights "
    "(sqrt is IEEE-correctly-rounded in both engines, then e6-floored to "
    "EXACT integers) fed into Hamilton largest-remainder apportionment — "
    "the full 'how many samples per language' answer with Σ = budget "
    "guaranteed; the integerized successor of mixture_temperature_weights",
)
def temperature_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt(p) quantized at e6 becomes the integer weight vector (the only
    float op is the correctly-rounded sqrt — floor(·1e6) is then bit-
    stable), and the allocation is pure BIGINT Hamilton. Dimension-sized
    work after one token-count aggregation."""
    from pyspark.sql import Window
    from nilm_data_framework_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    per = docs.groupBy("lang").agg(
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tok")
    )
    tot = per.agg(F.sum("n_tok").cast("long").alias("n_total"))
    w = per.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_tok",
        F.floor(
            F.sqrt(F.col("n_tok").cast("double") / F.col("n_total").cast("double"))
            * 1000000
        )
        .cast("long")
        .alias("w6"),
    )
    wt = w.agg(F.sum("w6").cast("long").alias("wtot"))
    B = _HAMILTON_BUDGET
    quota = w.crossJoin(F.broadcast(wt)).select(
        "lang",
        "n_tok",
        "w6",
        F.expr(f"({B} * w6) div wtot").cast("long").alias("base"),
        F.expr(f"({B} * w6) % wtot").cast("long").alias("rem"),
    )
    lo = quota.agg((F.lit(B) - F.sum("base")).cast("long").alias("leftover"))
    rk = F.row_number().over(Window.orderBy(F.col("rem").desc(), F.col("lang")))
    return (
        quota.withColumn("rk", rk)
        .crossJoin(F.broadcast(lo))
        .select(
            "lang",
            "n_tok",
            "w6",
            "base",
            (F.col("base") + (F.col("rk") <= F.col("leftover")).cast("long"))
            .cast("long")
            .alias("alloc"),
        )
    )


# --- source vocabulary Jaccard matrix ----------------------------------------


def _vocab_jaccard_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.text import tokens

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


# --- effective sample size of a weighting ------------------------------------


@query(
    "weight_ess_by_source",
    oracle="""
    WITH per AS (
      SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS s1,
             CAST(sum(n_chars * n_chars) AS BIGINT) AS s2
      FROM documents GROUP BY source
    )
    SELECT source, n, s1, s2,
           round(CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
                 / CAST(s2 AS DOUBLE), 4) AS ess,
           round(CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
                 / (CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)), 4) AS deff
    FROM per
    """,
    survey_ref="§2.10 curation diagnostics: Kish effective sample size "
    "(Σw)²/Σw² and design effect n·Σw²/(Σw)² of length-proportional "
    "sampling weights per source — the 'how much does this weighting "
    "cost me in variance' screen; moments exact BIGINT, only the two "
    "display ratios are float (identical int inputs → identical IEEE ops)",
)
def weight_ess_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One linear agg: both weight moments are exact integer sums
    (mergeable — per-shard partials add), so the float division happens
    once per group on identical operands in both engines. Overflow bound:
    Σw² caps at rows·max_chars² ≈ 2^53-safe far past gate scales; past
    that, decompose to per-shard moments (partial_agg_merge contract)."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("s2"),
    )
    return per.select(
        "source",
        "n",
        "s1",
        "s2",
        F.round(
            F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("s2").cast("double"),
            4,
        ).alias("ess"),
        F.round(
            F.col("n").cast("double") * F.col("s2").cast("double")
            / (F.col("s1").cast("double") * F.col("s1").cast("double")),
            4,
        ).alias("deff"),
    )


# --- closeness centrality over the hierarchy ---------------------------------


@query(
    "closeness_centrality",
    oracle=f"""
    WITH RECURSIVE {{CLOSURE}}
    SELECT anc,
           CAST(count(*) AS BIGINT) AS n_desc,
           CAST(sum(depth) AS BIGINT) AS total_depth,
           CAST((count(*) * count(*) * 20000 + sum(depth))
                // (2 * sum(depth)) AS BIGINT) AS closeness_e4
    FROM cl GROUP BY anc
    HAVING count(*) >= 5
    """.replace("{CLOSURE}", _CLOSURE_CTES),
    survey_ref="§2 graph extension: harmonic-free closeness centrality "
    "n²/Σd per ancestor (Beauchamp's centrality index, Lin 1976 variant "
    "restricted to reachable descendants) from the SAME path-doubling "
    "closure the recursive-CTE family builds — one group-by over the "
    "closure, exact e4",
)
def closeness_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which hierarchy nodes sit closest to their subtrees: closeness =
    n_desc²/Σdepth over reachable pairs (exact e4 via integer rounding;
    numerator n² caps at |V|² — decompose per the ratio_scaled overflow
    note past ~3·10⁶ descendants). Cost: the closure (log-depth joins,
    already gated) + ONE hash agg — centrality for every node at once,
    no per-source BFS."""
    cl = transitive_closure(_part_edges(spark, sf_dir), rounds=3)
    agg = cl.groupBy("anc").agg(
        F.count(F.lit(1)).cast("long").alias("n_desc"),
        F.sum("depth").cast("long").alias("total_depth"),
    )
    return agg.where(F.col("n_desc") >= 5).select(
        "anc",
        "n_desc",
        "total_depth",
        F.expr(
            "(n_desc * n_desc * 20000 + total_depth) div (2 * total_depth)"
        )
        .cast("long")
        .alias("closeness_e4"),
    )


# --- exact z-score burst hours -----------------------------------------------


@query(
    "count_burst_hours",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(c) AS BIGINT) AS s, CAST(sum(c * c) AS BIGINT) AS ss
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, CAST(h.h AS BIGINT) AS h, h.c, t.n, t.s,
           CAST(t.ss AS BIGINT) AS ss
    FROM hourly h JOIN stats t ON t.event_type = h.event_type
    WHERE h.c * t.n > t.s
      AND (h.c * t.n - t.s) * (h.c * t.n - t.s)
          > 9 * (t.n * t.ss - t.s * t.s)
    """,
    survey_ref="§2.4 extension (anomaly detection): hours whose event "
    "count exceeds mean + 3σ, decided by the SQUARED cross-multiplied "
    "integer inequality (c·n − s)² > 9(n·ss − s²) — the z-score test "
    "with NO sqrt and NO float, bit-identical in both engines",
)
def count_burst_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer burst screen: z > 3 ⇔ (c−μ)² > 9σ² ⇔ (after
    multiplying by n²) (c·n−s)² > 9(n·ss−s²), valid when c·n > s (the
    sign guard keeps the squaring monotone). One hourly agg + a per-type
    stat broadcast — the whole monitor is two map-side-combined passes.
    Overflow: (c·n−s)² caps at (rows)² ≈ 2^53-safe past gate scales;
    shard the stats per the mergeable-partials contract beyond."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("c").cast("long").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("ss"),
    )
    j = hourly.join(stats, "event_type")
    dev = F.col("c") * F.col("n") - F.col("s")
    return j.where(
        (dev > 0)
        & (dev * dev > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s")))
    ).select(
        "event_type",
        F.col("h").cast("long").alias("h"),
        "c",
        "n",
        "s",
        F.col("ss").cast("long").alias("ss"),
    )


# --- Cohen's kappa between two keep-classifiers ------------------------------


@query(
    "classifier_agreement_kappa",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')
               AS t
      FROM documents
    ),
    feats AS (
      SELECT doc_id,
             CASE WHEN len(t) > 0
                  THEN length(text)::DOUBLE / len(t) ELSE 0.0 END AS mean_tok,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^.,;:!?]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS punct,
             CASE WHEN length(text) > 0
                  THEN length(regexp_replace(text, '[^A-Z]', '', 'g'))::DOUBLE
                       / length(text) ELSE 0.0 END AS upper_r,
             CASE WHEN len(t) > 0
                  THEN len(list_filter(t, x -> x IN ('the','a','of','and','to',
                       'in','is','that','it','for')))::DOUBLE / len(t)
                  ELSE 0.0 END AS stop_r,
             CASE WHEN len(t) > 0
                  THEN len(list_distinct(t))::DOUBLE / len(t)
                  ELSE 0.0 END AS dtr,
             CASE WHEN len(t) >= 30 THEN 1 ELSE 0 END AS keep_len
      FROM toks
    ),
    both_k AS (
      SELECT CASE WHEN (1.0 / (1.0 + exp(-(0.5 + 4.0*stop_r + 2.0*dtr
                   + (-6.0)*punct + (-2.0)*upper_r + (-0.25)*mean_tok))))
                  >= 0.5 THEN 1 ELSE 0 END AS keep_clf,
             keep_len
      FROM feats
    ),
    cells AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN keep_clf = 1 AND keep_len = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n11,
             CAST(sum(CASE WHEN keep_clf = 1 AND keep_len = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n10,
             CAST(sum(CASE WHEN keep_clf = 0 AND keep_len = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n01,
             CAST(sum(CASE WHEN keep_clf = 0 AND keep_len = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS n00
      FROM both_k
    )
    SELECT n, n11, n10, n01, n00,
           CAST(n * (n11 + n00)
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_num,
           CAST(n * n
                - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                AS BIGINT) AS kappa_den
    FROM cells
    """,
    survey_ref="§2.10 label quality: Cohen's κ agreement between the "
    "model-based quality gate and a length-rule gate — exact 2×2 counts "
    "and κ as the exact SIGNED rational kappa_num/kappa_den (num/den "
    "columns per the signed-ratio rule; κ = (n·agree − Σrow·col)/(n² − "
    "Σrow·col))",
)
def classifier_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do two cheap keep-gates agree beyond chance? κ from one 2×2 cell
    aggregate — a single corpus pass; the chance-corrected numerator can
    be NEGATIVE, so it ships as exact num/den integers (Spark div vs
    DuckDB // diverge on negatives — CLAUDE.md signed-ratio rule)."""
    from nilm_data_framework_spark.operators.text import (
        quality_classifier_score,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    clf = quality_classifier_score(docs).select(
        "doc_id", F.col("keep").cast("int").alias("keep_clf")
    )
    lens = docs.select(
        "doc_id",
        (token_count(F.col("text")) >= 30).cast("int").alias("keep_len"),
    )
    b = clf.join(lens, "doc_id")
    cells = b.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(((F.col("keep_clf") == 1) & (F.col("keep_len") == 1)).cast("long"))
        .cast("long")
        .alias("n11"),
        F.sum(((F.col("keep_clf") == 1) & (F.col("keep_len") == 0)).cast("long"))
        .cast("long")
        .alias("n10"),
        F.sum(((F.col("keep_clf") == 0) & (F.col("keep_len") == 1)).cast("long"))
        .cast("long")
        .alias("n01"),
        F.sum(((F.col("keep_clf") == 0) & (F.col("keep_len") == 0)).cast("long"))
        .cast("long")
        .alias("n00"),
    )
    chance = "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
    return cells.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(f"n * (n11 + n00) - {chance}").cast("long").alias("kappa_num"),
        F.expr(f"n * n - {chance}").cast("long").alias("kappa_den"),
    )


# --- watermark-lag recommendation (p99 lateness) -----------------------------


@query(
    "late_arrival_p99",
    oracle="""
    WITH arr AS (
      SELECT event_type, epoch_us(ts) AS us,
             epoch_us(ts) // 600000000 AS w,
             user_id % 8 AS producer, event_id
      FROM events
    ),
    seq AS (
      SELECT event_type, us,
             max(us) OVER (PARTITION BY event_type
                           ORDER BY w, producer, us, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS seen_max
      FROM arr
    ),
    late AS (
      SELECT event_type, seen_max - us AS late_us
      FROM seq WHERE seen_max > us
    ),
    ranked AS (
      SELECT event_type, late_us,
             CAST(row_number() OVER (PARTITION BY event_type
                                     ORDER BY late_us, late_us) AS BIGINT) AS rk,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM late
    )
    SELECT event_type, n AS n_late,
           CAST(max(CASE WHEN rk * 100 <= n * 99 THEN late_us END) AS BIGINT)
             AS p99_late_us,
           CAST(max(late_us) AS BIGINT) AS max_late_us
    FROM ranked GROUP BY event_type, n
    """,
    survey_ref="§2.9 streaming diagnostics: exact p99 event lateness under "
    "a modeled multi-producer transport (producers = user_id mod 8 flush "
    "once per 10-min window, in producer order — the testdata stream is "
    "perfectly ordered, so transport-induced disorder is what a real "
    "deployment must size its watermark for); lateness = running-max over "
    "arrival order − event time, exact micros, rank-picked p99",
)
def late_arrival_p99(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watermark-sizing measurement: arrival order = (10-min window,
    producer bucket, time) — a deterministic model of K producers each
    flushing its window batch in turn (Kafka-partition-per-producer
    reality; the raw table is already time-sorted, so measuring it
    directly yields zero lateness — see stream_disorder_footrule).
    One running-max window + one rank window on the stream key; the p99
    pick (largest late_us with rank ≤ 99% of n) is exact. p99 here ≈ the
    10-min window width: the watermark a deployment of THIS transport
    needs."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.expr("unix_micros(ts) div 600000000").alias("w"),
        (F.col("user_id") % 8).alias("producer"),
        "event_id",
    )
    w_arr = (
        Window.partitionBy("event_type")
        .orderBy("w", "producer", "us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    seq = ev.withColumn("seen_max", F.max("us").over(w_arr))
    late = seq.where(F.col("seen_max") > F.col("us")).select(
        "event_type", (F.col("seen_max") - F.col("us")).alias("late_us")
    )
    w_rk = Window.partitionBy("event_type").orderBy("late_us")
    w_n = Window.partitionBy("event_type")
    ranked = late.select(
        "event_type",
        "late_us",
        F.row_number().over(w_rk).cast("long").alias("rk"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("n"),
    )
    return ranked.groupBy("event_type", F.col("n").alias("n_late")).agg(
        F.max(F.when(F.col("rk") * 100 <= F.col("n") * 99, F.col("late_us")))
        .cast("long")
        .alias("p99_late_us"),
        F.max("late_us").cast("long").alias("max_late_us"),
    ).select("event_type", "n_late", "p99_late_us", "max_late_us")


# --- dedup quality-impact audit ----------------------------------------------


def _dedup_impact_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql
    from nilm_data_framework_spark.queries.dedup_text import (
        _components_ctes,
        _minhash_ctes,
    )

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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.queries.dedup_text import _doc_clusters

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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

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
    from nilm_data_framework_spark.operators.dedup import (
        prefix_filter_jaccard_pairs,
    )
    from nilm_data_framework_spark.operators.exact_math import ratio_e4

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
    from nilm_data_framework_spark.queries.dedup_text import _DUPED, _NORM

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
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.dedup import normalized
    from nilm_data_framework_spark.queries.dedup_text import _docs_with_dups

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


# --- Mann-Whitney rank-sum drift (exact integer 2U) ---------------------------


def _mwu_oracle() -> str:
    from nilm_data_framework_spark.queries.pipeline_quality import (
        _PSI_SPLIT_US,
    )

    return f"""
    WITH tagged AS (
      SELECT event_type, value AS v,
             CASE WHEN epoch_us(ts) < {_PSI_SPLIT_US} THEN 1 ELSE 0 END AS ref
      FROM events
    ),
    pv AS (
      SELECT event_type, v,
             CAST(sum(ref) AS BIGINT) AS ca,
             CAST(sum(1 - ref) AS BIGINT) AS cb
      FROM tagged GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, ca, cb,
             CAST(sum(cb) OVER (PARTITION BY event_type ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cumb
      FROM pv
    )
    SELECT event_type,
           CAST(sum(ca) AS BIGINT) AS n_ref,
           CAST(sum(cb) AS BIGINT) AS n_cmp,
           CAST(sum(ca * (2 * cumb - cb)) AS BIGINT) AS u2,
           CAST(sum(ca * (2 * cumb - cb)) - sum(ca) * sum(cb) AS BIGINT)
             AS u2_shift
    FROM cum GROUP BY 1
    """


@query(
    "mwu_drift_stat",
    oracle=_mwu_oracle(),
    survey_ref="§2.4 extension: exact two-sample Mann-Whitney rank-sum "
    "drift statistic — tie-corrected 2U = Σ_v ca·(2·cumb(<=v) − cb(v)) "
    "counts (ref beats cmp) pairs twice plus ties once, pure BIGINT "
    "(≤ 2·n·m, overflow-safe where the Cramér-von-Mises n³ form is not); "
    "the location-shift monitor beside KS (max gap) and PSI (binned)",
)
def mwu_drift_stat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the value distribution SHIFT between the first and second half
    -month, per event type? 2U in exact integers from one value-grouped
    agg + one cumulative window (the KS query's exact plan shape);
    u2_shift = 2U − nm is the signed exact distance from the no-shift
    null (2U/2nm = P(ref > cmp) + P(tie)/2). No sqrt, no float, no
    midrank halves — ties enter as +1 per pair."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.queries.pipeline_quality import (
        _PSI_SPLIT_US,
    )

    ev = load_table(spark, sf_dir, "events")
    tagged = ev.select(
        "event_type",
        F.col("value").alias("v"),
        (F.unix_micros("ts") < _PSI_SPLIT_US).cast("long").alias("ref"),
    )
    pv = tagged.groupBy("event_type", "v").agg(
        F.sum("ref").cast("long").alias("ca"),
        F.sum(F.lit(1) - F.col("ref")).cast("long").alias("cb"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = pv.withColumn("cumb", F.sum("cb").over(w_cum).cast("long"))
    return cum.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("n_ref"),
        F.sum("cb").cast("long").alias("n_cmp"),
        F.sum(F.col("ca") * (2 * F.col("cumb") - F.col("cb")))
        .cast("long")
        .alias("u2"),
        (
            F.sum(F.col("ca") * (2 * F.col("cumb") - F.col("cb")))
            - F.sum("ca") * F.sum("cb")
        )
        .cast("long")
        .alias("u2_shift"),
    )


# --- 1-D earth mover's distance between length distributions ------------------


def _emd_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled_sql

    return f"""
    WITH binned AS (
      SELECT source, n_chars // 100 AS bin FROM documents
    ),
    tot AS (
      SELECT bin, CAST(count(*) AS BIGINT) AS c_all FROM binned GROUP BY 1
    ),
    tot2 AS (
      SELECT bin, c_all,
             CAST(sum(c_all) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_all,
             CAST(sum(c_all) OVER () AS BIGINT) AS n_total
      FROM tot
    ),
    srcn AS (
      SELECT source, CAST(count(*) AS BIGINT) AS ns FROM binned GROUP BY 1
    ),
    per AS (
      SELECT source, bin, CAST(count(*) AS BIGINT) AS c
      FROM binned GROUP BY 1, 2
    ),
    grid AS (
      SELECT s.source, s.ns, t.bin, t.cum_all, t.n_total,
             coalesce(p.c, 0) AS c
      FROM srcn s CROSS JOIN tot2 t
      LEFT JOIN per p ON p.source = s.source AND p.bin = t.bin
    ),
    cums AS (
      SELECT source, ns, bin, cum_all, n_total,
             CAST(sum(c) OVER (PARTITION BY source ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_s,
             lead(bin) OVER (PARTITION BY source ORDER BY bin) AS nxt
      FROM grid
    )
    SELECT source, CAST(max(ns) AS BIGINT) AS n_docs,
           CAST(sum(abs(cum_s * n_total - cum_all * ns)
                    * coalesce(nxt - bin, 0)) AS BIGINT) AS emd_num,
           CAST(max(ns) * max(n_total) AS BIGINT) AS emd_den,
           {ratio_scaled_sql(
               'sum(abs(cum_s * n_total - cum_all * ns) * coalesce(nxt - bin, 0))',
               '(max(ns) * max(n_total))')} AS emd_bins_e4
    FROM cums GROUP BY 1
    """


@query(
    "emd_length_drift",
    oracle=_emd_oracle(),
    survey_ref="§2.10 extension: exact 1-D earth mover's distance "
    "(Wasserstein-1) between each source's doc-length histogram and the "
    "corpus histogram — EMD = Σ_bins |ECDF gap|·bin_gap, kept exact by "
    "cross-multiplying the two ECDFs over a common denominator ns·N; "
    "the distribution-shape complement of PSI (binned KL-ish) and KS",
)
def emd_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How far is each source's length distribution from the corpus mix,
    in expected bins-to-move-per-doc? Cumulative histograms per source
    vs overall on a 100-char grid; gaps between non-adjacent observed
    bins weight the |cum difference| by the empty-bin span, so the sum
    is the true integral. The (source × bin) grid is |sources|·|bins| —
    tiny relative to the scan — and every term is BIGINT; emd_bins_e4 =
    1e4·EMD/(ns·N) in bin units via the shared integer rounding."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.exact_math import ratio_scaled

    docs = load_table(spark, sf_dir, "documents")
    binned = docs.select("source", F.expr("n_chars div 100").alias("bin"))
    tot = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("c_all"))
    w_all = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    tot2 = tot.select(
        "bin",
        F.sum("c_all").over(w_all).cast("long").alias("cum_all"),
        F.sum("c_all").over(w_tot).cast("long").alias("n_total"),
    )
    srcn = binned.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ns"))
    per = binned.groupBy("source", "bin").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # no broadcast hint: tot2 is a GROUPED aggregate over an sf-scaled scan
    # (bins ~ max n_chars/100 — small, but not a query constant); the planner
    # sees the post-agg stats and picks broadcast on its own.
    grid = (
        srcn.crossJoin(tot2)
        .join(per, ["source", "bin"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
    )
    w_src = (
        Window.partitionBy("source")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_lead = Window.partitionBy("source").orderBy("bin")
    cums = grid.select(
        "source",
        "ns",
        "bin",
        "cum_all",
        "n_total",
        F.sum("c").over(w_src).cast("long").alias("cum_s"),
        F.lead("bin").over(w_lead).alias("nxt"),
    )
    term = F.abs(
        F.col("cum_s") * F.col("n_total") - F.col("cum_all") * F.col("ns")
    ) * F.coalesce(F.col("nxt") - F.col("bin"), F.lit(0))
    return cums.groupBy("source").agg(
        F.max("ns").cast("long").alias("n_docs"),
        F.sum(term).cast("long").alias("emd_num"),
        (F.max("ns") * F.max("n_total")).cast("long").alias("emd_den"),
        ratio_scaled(
            "sum(abs(cum_s * n_total - cum_all * ns)"
            " * coalesce(nxt - bin, 0))",
            "(max(ns) * max(n_total))",
        ).alias("emd_bins_e4"),
    )


# --- reciprocal best match (mutual nearest neighbors) -------------------------


@query(
    "reciprocal_best_match",
    oracle="""
    WITH a AS (
      SELECT vec_id AS a_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000000))
               AS qa
      FROM embeddings WHERE vec_id < 128
    ),
    b AS (
      SELECT vec_id AS b_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000000))
               AS qb
      FROM embeddings WHERE vec_id >= 128
    ),
    scored AS (
      SELECT a_id, b_id, CAST(list_dot_product(qa, qb) AS BIGINT) AS dot_q
      FROM a CROSS JOIN b
    ),
    r AS (
      SELECT a_id, b_id, dot_q,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY dot_q DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY dot_q DESC, a_id) AS rb
      FROM scored
    )
    SELECT CAST(a_id AS BIGINT) AS a_id, CAST(b_id AS BIGINT) AS b_id, dot_q
    FROM r WHERE ra = 1 AND rb = 1
    """,
    survey_ref="§2.10 similarity: reciprocal best match (mutual nearest "
    "neighbor) between a bounded probe slice and the rest of the corpus "
    "— the bitext-mining / cross-source alignment shape; matching is by "
    "exact u6-quantized integer dot product (every product ≤ 1e12, the "
    "64-term sum ≤ 6.4e13 — exact in BIGINT and in float64 alike, so "
    "argmax ties break identically in both engines)",
)
def reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-NN pairs A↔B: a's best b AND b's best a (the global best
    pair always qualifies, so never vacuous). One bounded crossJoin
    (|A| = 128 constant slice, broadcast — exempt per the plan-quality
    guard) + two rank windows over |A|·|B| scored rows. At 100 TB the
    scored set is the product of a BOUNDED probe batch and the corpus —
    the documented ANN swap (IVF/LSH shortlist before the exact rerank)
    applies verbatim to the corpus side."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.embed_stats import u6_components

    emb = load_table(spark, sf_dir, "embeddings", parallelize=True)
    a = (
        emb.where(F.col("vec_id") < 128)
        .select(F.col("vec_id").alias("a_id"), u6_components("embedding").alias("qa"))
        .coalesce(1)
    )
    b = emb.where(F.col("vec_id") >= 128).select(
        F.col("vec_id").alias("b_id"), u6_components("embedding").alias("qb")
    )
    dot = F.aggregate(
        F.zip_with("qa", "qb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    scored = b.crossJoin(F.broadcast(a)).select(
        "a_id", "b_id", dot.alias("dot_q")
    )
    w_a = Window.partitionBy("a_id").orderBy(F.col("dot_q").desc(), "b_id")
    w_b = Window.partitionBy("b_id").orderBy(F.col("dot_q").desc(), "a_id")
    return (
        scored.withColumn("ra", F.row_number().over(w_a))
        .withColumn("rb", F.row_number().over(w_b))
        .where((F.col("ra") == 1) & (F.col("rb") == 1))
        .select("a_id", "b_id", "dot_q")
    )


# --- containment (doc-in-doc) near-dup join -----------------------------------
# The synthetic corpus has no near-subset pairs, so both engines union in a
# half-length excerpt of every 20th doc (id + 2000000) — the doc-in-doc case
# a symmetric Jaccard threshold misses (excerpt J ~= 0.5, containment ~= 1).


def _containment_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

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
    from nilm_data_framework_spark.operators.dedup import (
        containment_prefix_pairs,
    )
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.text import tokens

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


# --- cross-correlation lag sweep ----------------------------------------------


@query(
    "xcorr_best_lag",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    lags AS (SELECT unnest(range(0, 13)) AS lag),
    x AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b, l.lag AS lag,
             CAST(sum(a.c * b.c) AS BIGINT) AS xc
      FROM hourly a
      CROSS JOIN lags l
      JOIN hourly b ON b.event_type <> a.event_type AND b.h = a.h + l.lag
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT type_a, type_b, lag, xc,
             row_number() OVER (PARTITION BY type_a, type_b
                                ORDER BY xc DESC, lag) AS rn
      FROM x
    )
    SELECT type_a, type_b, CAST(lag AS BIGINT) AS best_lag, xc AS xcorr
    FROM r WHERE rn = 1
    """,
    survey_ref="§2.4 extension: cross-correlation lag sweep between "
    "event-type hourly count series — argmax over lags 0..12h of the "
    "exact integer dot product Σ_h c_a(h)·c_b(h+L) (the lead/lag "
    "discovery step of acf_hourly's autocorrelation); argmax on exact "
    "BIGINTs with a smallest-lag tiebreak",
)
def xcorr_best_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which event type leads which, and by how many hours? Hourly
    counts per type (5 types x ~720 hours — tiny after the one fact
    agg), a 13-row lag dimension, one equi-join on the shifted hour,
    one argmax window per ordered type pair. At 100 TB only the first
    hourly agg touches the fact table; everything after is
    O(types² · hours)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    lags = spark.range(0, 13).select(F.col("id").alias("lag"))
    a = hourly.select(
        F.col("event_type").alias("type_a"), F.col("h").alias("ha"),
        F.col("c").alias("ca"),
    )
    b = hourly.select(
        F.col("event_type").alias("type_b"), F.col("h").alias("hb"),
        F.col("c").alias("cb"),
    )
    # no explicit hint: lags is a 13-row Range — the planner broadcasts it
    # from stats (and the guard test's leaf regex can't see through a
    # hinted Range to the join's parquet sibling).
    x = (
        a.crossJoin(lags)
        .join(
            b,
            (F.col("type_b") != F.col("type_a"))
            & (F.col("hb") == F.col("ha") + F.col("lag")),
        )
        .groupBy("type_a", "type_b", "lag")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("xc"))
    )
    w = Window.partitionBy("type_a", "type_b").orderBy(
        F.col("xc").desc(), "lag"
    )
    return (
        x.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("type_a", "type_b", F.col("lag").alias("best_lag"), F.col("xc").alias("xcorr"))
    )


# --- degree assortativity of the co-purchase graph -----------------------------

# SQL twin of advanced_analytics._copurchase_edges (support >= 2, src < dst):
# the same (order -> distinct part set -> pairs) grain the triangle/linkpred/
# kcore oracles unroll; kept as one constant so the edge definition cannot
# drift between the oracles that share it.
_COPURCHASE_SQL = """
    op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS (
      SELECT a.l_partkey AS s, b.l_partkey AS t
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey
               AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    sym AS (SELECT s AS u, t AS v FROM e UNION ALL SELECT t, s FROM e)
"""


@query(
    "degree_assortativity",
    oracle=f"""
    WITH {_COPURCHASE_SQL},
    deg AS (SELECT u, CAST(count(*) AS BIGINT) AS d FROM sym GROUP BY 1)
    SELECT CAST(count(*) AS BIGINT) AS n_dir,
           CAST(sum(du.d) AS BIGINT) AS sum_deg,
           CAST(sum(du.d * dv.d) AS BIGINT) AS sum_deg_prod,
           CAST(sum(du.d * du.d) AS BIGINT) AS sum_deg_sq,
           CAST(count(*) * sum(du.d * dv.d) - sum(du.d) * sum(dv.d)
                AS BIGINT) AS assort_num,
           CAST(count(*) * sum(du.d * du.d) - sum(du.d) * sum(du.d)
                AS BIGINT) AS assort_den
    FROM sym JOIN deg du ON du.u = sym.u JOIN deg dv ON dv.u = sym.v
    """,
    survey_ref="§2 graph extension: degree assortativity (Newman 2002) of "
    "the co-purchase graph — Pearson moments over the directed edge list "
    "(n, Σd_u, Σd_u·d_v, Σd_u²) all exact BIGINT; r = num/den is left to "
    "the reader because the moments ARE the mergeable statistic",
)
def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Do high-degree parts co-purchase with other hubs (r > 0) or with
    leaves (r < 0)? Degrees from the symmetrized support-≥2 edge list
    (the shared _copurchase_edges grain), two broadcast-sized degree
    joins, one global agg of exact integer moments. Symmetrized list ⇒
    x/y marginals coincide, so 4 moments determine r exactly."""
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # the HOF basket build feeds both degree derivation and the moment join
    # — checkpoint the (tiny) thresholded edge list once, the
    # triangle_count/common_neighbors materialize discipline (r10)
    e = _copurchase_edges(li).localCheckpoint(eager=True)
    sym = e.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        e.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).cast("long").alias("d"))
    du = deg.select(F.col("u").alias("_u"), F.col("d").alias("d_u"))
    dv = deg.select(F.col("u").alias("_v"), F.col("d").alias("d_v"))
    j = sym.join(du, F.col("u") == F.col("_u")).join(
        dv, F.col("v") == F.col("_v")
    )
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_dir"),
        F.sum("d_u").cast("long").alias("sum_deg"),
        F.sum(F.col("d_u") * F.col("d_v")).cast("long").alias("sum_deg_prod"),
        F.sum(F.col("d_u") * F.col("d_u")).cast("long").alias("sum_deg_sq"),
        (
            F.count(F.lit(1)) * F.sum(F.col("d_u") * F.col("d_v"))
            - F.sum("d_u") * F.sum("d_v")
        )
        .cast("long")
        .alias("assort_num"),
        (
            F.count(F.lit(1)) * F.sum(F.col("d_u") * F.col("d_u"))
            - F.sum("d_u") * F.sum("d_u")
        )
        .cast("long")
        .alias("assort_den"),
    )


# --- PMI collocations -----------------------------------------------------------


def _pmi_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled_sql

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
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled
    from nilm_data_framework_spark.operators.text import word_ngrams

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


# --- itemset support histogram (a-priori census) --------------------------------


@query(
    "itemset_support_histogram",
    oracle="""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    pairs AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS sup
      FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                         AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2
    ),
    triples AS (
      SELECT a.l_partkey AS x, b.l_partkey AS y, c.l_partkey AS z,
             count(*) AS sup
      FROM op a
      JOIN op b ON b.l_orderkey = a.l_orderkey AND b.l_partkey > a.l_partkey
      JOIN op c ON c.l_orderkey = a.l_orderkey AND c.l_partkey > b.l_partkey
      GROUP BY 1, 2, 3
    ),
    u AS (
      SELECT 2 AS sz, sup FROM pairs
      UNION ALL
      SELECT 3 AS sz, sup FROM triples
    )
    SELECT CAST(sz AS BIGINT) AS itemset_size, CAST(sup AS BIGINT) AS support,
           CAST(count(*) AS BIGINT) AS n_itemsets
    FROM u GROUP BY 1, 2
    """,
    survey_ref="§2 extension: a-priori itemset support census — how many "
    "distinct part 2- and 3-itemsets exist at each co-purchase support "
    "level (the candidate-explosion sizing step BEFORE running "
    "association_rules; shows support-≥2 triples vanish as cardinality "
    "grows, the same thinning kcore_parts documents)",
)
def itemset_support_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support distribution of basket 2-/3-itemsets, join-free: one
    groupBy(order) → sorted distinct part array, then JVM-side HOF pair
    AND triple explosions of the SAME basket array (the
    _copurchase_edges kernel one combinatorial level deeper — the
    basket scan and shuffle happen once, not three times as in the
    oracle's self-join form). Baskets are small (≤7 parts ⇒ ≤35
    triples), so the explosion is bounded per row; the census output is
    a handful of (size, support) cells."""
    li = load_table(spark, sf_dir, "lineitem")
    parts = (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
    )
    pairs = parts.select(
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    ).select("p.a", "p.b")
    triples = parts.select(
        F.explode(
            F.expr(
                "flatten(flatten(transform(ps, (x, i) -> transform("
                "slice(ps, i + 2, size(ps) - i - 1), (y, j) -> transform("
                "slice(ps, i + j + 3, size(ps) - i - j - 2), "
                "z -> struct(x AS a, y AS b, z AS c))))))"
            )
        ).alias("t")
    ).select("t.a", "t.b", "t.c")
    sup2 = (
        pairs.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .select(F.lit(2).cast("long").alias("itemset_size"), "sup")
    )
    sup3 = (
        triples.groupBy("a", "b", "c")
        .agg(F.count(F.lit(1)).cast("long").alias("sup"))
        .select(F.lit(3).cast("long").alias("itemset_size"), "sup")
    )
    return (
        sup2.unionByName(sup3)
        .groupBy("itemset_size", F.col("sup").alias("support"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_itemsets"))
    )


# --- separable 2-D box filter: grid hotspots ------------------------------------


@query(
    "grid_hotspots_topk",
    oracle="""
    WITH cells AS (
      SELECT user_id % 32 AS x, (epoch_us(ts) // 3600000000) % 168 AS y,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    xs AS (SELECT unnest(range(0, 32)) AS x),
    ys AS (SELECT unnest(range(0, 168)) AS y),
    grid AS (
      SELECT xs.x, ys.y, coalesce(cl.c, 0) AS c
      FROM xs CROSS JOIN ys
      LEFT JOIN cells cl ON cl.x = xs.x AND cl.y = ys.y
    ),
    px AS (
      SELECT x, y, c,
             CAST(sum(c) OVER (PARTITION BY y ORDER BY x
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT) AS sx
      FROM grid
    ),
    box AS (
      SELECT x, y, c,
             CAST(sum(sx) OVER (PARTITION BY x ORDER BY y
               RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS BIGINT)
               AS box_sum
      FROM px
    )
    SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, c, box_sum
    FROM box ORDER BY box_sum DESC, x, y LIMIT 20
    """,
    survey_ref="§2.7 extension: separable 2-D box filter — 3×3 "
    "neighborhood sums over the (user-bucket × hour-of-week) activity "
    "grid computed as TWO cascaded 1-D RANGE-frame windows (row pass "
    "then column pass), the classic separable-kernel decomposition; "
    "borders clip (zero padding), grid densified from two Range dims "
    "so sparse cells contribute exact zeros",
)
def grid_hotspots_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 activity hotspots: 9-cell neighborhood sums via the
    separable trick — O(2·cells) window work instead of a 9-way
    self-join, and each pass is one exchange (partition by the OTHER
    axis). The 32×168 grid is a query constant (two crossed Ranges),
    so the dense build never scales with the fact table; only the
    first cell-count agg touches events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.select(
        (F.col("user_id") % 32).alias("x"),
        F.expr("(unix_micros(ts) div 3600000000) % 168").alias("y"),
    ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
    xs = spark.range(0, 32).select(F.col("id").alias("x"))
    ys = spark.range(0, 168).select(F.col("id").alias("y"))
    grid = (
        xs.crossJoin(ys)
        .join(cells, ["x", "y"], "left")
        .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
    )
    w_row = Window.partitionBy("y").orderBy("x").rangeBetween(-1, 1)
    w_col = Window.partitionBy("x").orderBy("y").rangeBetween(-1, 1)
    box = grid.withColumn("sx", F.sum("c").over(w_row)).withColumn(
        "box_sum", F.sum("sx").over(w_col).cast("long")
    )
    return (
        box.select("x", "y", "c", "box_sum")
        .orderBy(F.col("box_sum").desc(), "x", "y")
        .limit(20)
    )


# --- Haar wavelet detail coefficients -------------------------------------------


@query(
    "haar_detail_topk",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    hmin AS (SELECT min(h) AS h0 FROM hourly),
    rel AS (
      SELECT event_type, h - h0 AS hr, c FROM hourly CROSS JOIN hmin
      WHERE h - h0 < 512
    ),
    levels AS (SELECT unnest(range(1, 10)) AS lev),
    d AS (
      SELECT event_type, lev, hr // (1::BIGINT << lev) AS block,
             CAST(sum(CASE WHEN (hr // (1::BIGINT << (lev - 1))) % 2 = 0
                           THEN c ELSE -c END) AS BIGINT) AS detail
      FROM rel CROSS JOIN levels
      GROUP BY 1, 2, 3
    ),
    r AS (
      SELECT event_type, CAST(lev AS BIGINT) AS level, block, detail,
             CAST(abs(detail) AS BIGINT) AS abs_detail,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(detail) DESC, lev, block) AS rk
      FROM d
    )
    SELECT event_type, level, block, detail, abs_detail,
           CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 5
    """,
    survey_ref="§2.4 extension: Haar wavelet detail coefficients over the "
    "first 512 hours of each event type's count series — d(ℓ,b) = "
    "sum(left half) − sum(right half) of each dyadic block, levels 1..9 "
    "from ONE pass (level dim × sign trick), all exact BIGINT; top-5 "
    "|d| per type localizes bursts in time AND scale",
)
def haar_detail_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution burst localization: the biggest Haar detail
    coefficients say WHERE (block) and at WHAT timescale (2^level
    hours) each event type's activity shifts hardest. The level
    dimension is a 9-row Range crossed against the tiny hourly agg, so
    all 9 decomposition levels come from one groupBy — no per-level
    passes, no floats (sums, not averages: the 2^(ℓ/2) Haar norm is a
    display constant)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    hmin = hourly.agg(F.min("h").alias("h0"))
    rel = (
        hourly.crossJoin(hmin)
        .select("event_type", (F.col("h") - F.col("h0")).alias("hr"), "c")
        .where(F.col("hr") < 512)
    )
    levels = spark.range(1, 10).select(F.col("id").alias("lev"))
    d = (
        rel.crossJoin(levels)
        .groupBy(
            "event_type",
            "lev",
            F.expr("hr div shiftleft(1L, CAST(lev AS INT))").alias("block"),
        )
        .agg(
            F.sum(
                F.when(
                    F.expr(
                        "(hr div shiftleft(1L, CAST(lev AS INT) - 1)) % 2"
                    )
                    == 0,
                    F.col("c"),
                ).otherwise(-F.col("c"))
            )
            .cast("long")
            .alias("detail")
        )
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("detail")).desc(), "lev", "block"
    )
    return (
        d.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= 5)
        .select(
            "event_type",
            F.col("lev").alias("level"),
            "block",
            "detail",
            F.abs(F.col("detail")).cast("long").alias("abs_detail"),
            "rk",
        )
    )


# --- per-source n-gram novelty ---------------------------------------------------


def _novelty_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.text import word_ngrams

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


# --- composite record linkage (Fellegi–Sunter-ish integer scoring) --------------
# The synthetic customers are all distinct (names differ in >= 1 digit), so
# both engines union in a perturbed copy of every 25th customer: one name
# digit typo'd (position 12 -> 'x'), balance shifted +$0.50, same nation and
# segment — then link on a blocked composite score. Blocking key =
# (nationkey, last 4 name chars), untouched by the position-12 typo.


@query(
    "record_linkage_pairs",
    oracle="""
    WITH src AS (
      SELECT c_custkey AS id, c_name, c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_c
      FROM customer
      UNION ALL
      SELECT c_custkey + 3000000,
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
    """,
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
        (F.col("c_custkey") + 3000000).alias("id"),
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


# --- HHI market concentration ----------------------------------------------------


def _hhi_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled_sql

    return f"""
    WITH os AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ),
    cnt AS (
      SELECT s.s_nationkey, os.l_suppkey, CAST(count(*) AS BIGINT) AS c
      FROM os JOIN supplier s ON s.s_suppkey = os.l_suppkey
      GROUP BY 1, 2
    )
    SELECT n.n_name AS nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           CAST(sum(c) AS BIGINT) AS total_orders,
           CAST(sum(c * c) AS BIGINT) AS hhi_num,
           CAST(sum(c) * sum(c) AS BIGINT) AS hhi_den,
           {ratio_scaled_sql('sum(c * c)', '(sum(c) * sum(c))', 6)}
             AS hhi_e6
    FROM cnt JOIN nation n ON n.n_nationkey = cnt.s_nationkey
    GROUP BY 1
    """


@query(
    "hhi_supplier_concentration",
    oracle=_hhi_oracle(),
    survey_ref="§2.3 extension: Herfindahl–Hirschman concentration index "
    "per supplier nation — HHI = Σ share² over suppliers' order-"
    "participation counts, kept exact as Σc²/(Σc)² BIGINT moments with "
    "the e6 scaled ratio (1e6/n_suppliers = perfectly competitive floor, "
    "1e6 = monopoly); the market-structure twin of gini_key_skew",
)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is order flow within each nation's suppliers?
    One distinct (order, supplier) projection, a broadcast dim join,
    one count agg, one moment agg — HHI's Σc² and (Σc)² are exact
    mergeable integers (the dollar-revenue variant needs decimal128
    past ~sf1; counts stay int64-safe for ~3e9 participations/nation)."""
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled

    li = load_table(spark, sf_dir, "lineitem")
    sup = load_table(spark, sf_dir, "supplier")
    nat = load_table(spark, sf_dir, "nation")
    os_ = li.select("l_orderkey", "l_suppkey").distinct()
    # supplier is sf-scaled — no broadcast hint; AQE picks broadcast from
    # its post-scan size while the plan stays valid at any sf.
    cnt = (
        os_.join(sup.select("s_suppkey", "s_nationkey"),
                 os_.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_nationkey", "l_suppkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per = cnt.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum("c").cast("long").alias("total_orders"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("hhi_num"),
        (F.sum("c") * F.sum("c")).cast("long").alias("hhi_den"),
        ratio_scaled("sum(c * c)", "(sum(c) * sum(c))", 6).alias("hhi_e6"),
    )
    return per.join(
        F.broadcast(nat.select("n_nationkey", F.col("n_name").alias("nation"))),
        per.s_nationkey == F.col("n_nationkey"),
    ).select(
        "nation", "n_suppliers", "total_orders", "hhi_num", "hhi_den", "hhi_e6"
    )


# --- weighted (multiset) Jaccard near-dup ----------------------------------------


def _weighted_jaccard_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql
    from nilm_data_framework_spark.queries.dedup_text import _DUPED

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
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.text import word_ngrams_all
    from nilm_data_framework_spark.queries.dedup_text import _docs_with_dups

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
        .localCheckpoint(eager=True)
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


# --- gap-constrained sequential patterns ------------------------------------------


@query(
    "gap_constrained_trigrams",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type, epoch_us(ts) AS us,
             lead(event_type, 1) OVER w AS t2,
             lead(event_type, 2) OVER w AS t3,
             lead(epoch_us(ts), 1) OVER w AS us2,
             lead(epoch_us(ts), 2) OVER w AS us3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram,
           CAST(count(*) AS BIGINT) AS n
    FROM seq
    WHERE t3 IS NOT NULL
      AND us2 - us <= 3600000000 AND us3 - us2 <= 3600000000
    GROUP BY 1 ORDER BY n DESC, trigram LIMIT 20
    """,
    survey_ref="§2 extension: GAP-CONSTRAINED sequential patterns (cSPADE-"
    "style maxgap) — event-type trigrams whose consecutive steps are "
    "≤ 1 h apart, top-20 by support; the temporal-constraint variant of "
    "event_type_trigrams (unconstrained counts conflate a 3-step flow "
    "with three visits a week apart)",
)
def gap_constrained_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral 3-step flows that actually happen as flows: the same
    one user-keyed window as the unconstrained trigram query, plus two
    lead(us) columns and an integer-micros gap predicate — the maxgap
    constraint costs zero extra shuffles."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = ev.select(
        "event_type",
        "us",
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
        F.lead("us", 1).over(w).alias("us2"),
        F.lead("us", 2).over(w).alias("us3"),
    )
    return (
        seq.where(
            F.col("t3").isNotNull()
            & (F.col("us2") - F.col("us") <= 3600000000)
            & (F.col("us3") - F.col("us2") <= 3600000000)
        )
        .select(
            F.concat_ws(">", "event_type", "t2", "t3").alias("trigram")
        )
        .groupBy("trigram")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "trigram")
        .limit(20)
    )


# --- bitwise activity masks ---------------------------------------------------------


@query(
    "activity_bitmask_hist",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             bit_or(1::BIGINT << CAST((epoch_us(ts) // 3600000000) % 24
                                      AS INT)) AS mask
      FROM events GROUP BY 1
    )
    SELECT CAST(bit_count(mask) AS BIGINT) AS n_active_hours,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(mask) AS BIGINT) AS min_mask,
           CAST(max(mask) AS BIGINT) AS max_mask
    FROM per_user GROUP BY 1
    """,
    survey_ref="§2.7/F-family extension: bitwise aggregate functions — "
    "per-user 24-bit hour-of-day activity mask via bit_or(1<<hod), "
    "popcount histogram via bit_count; the roaring-bitmap-style set "
    "encoding (64 set members per BIGINT, OR-mergeable across shards)",
)
def activity_bitmask_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which hours of the day is each user active, packed into one
    BIGINT? bit_or is a mergeable aggregate (map-side combined like
    sum), so the mask build is one linear pass; bit_count reads the
    distinct-hour count straight off the mask with no second distinct
    agg. The same encoding underlies bitmap indexes and co-visitation
    set intersections (AND of two masks) at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(1L, CAST((unix_micros(ts) div 3600000000) % 24"
            " AS INT)))"
        ).alias("mask")
    )
    return per_user.groupBy(
        F.bit_count("mask").cast("long").alias("n_active_hours")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.min("mask").cast("long").alias("min_mask"),
        F.max("mask").cast("long").alias("max_mask"),
    )


# --- item-item collaborative-filtering similarity -----------------------------------


def _item_cf_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled_sql

    return f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    co AS (
      SELECT a.l_partkey AS a_item, b.l_partkey AS b_item,
             CAST(count(*) AS BIGINT) AS co
      FROM op a JOIN op b ON b.l_orderkey = a.l_orderkey
                         AND b.l_partkey > a.l_partkey
      GROUP BY 1, 2 HAVING count(*) >= 2
    ),
    deg AS (
      SELECT l_partkey, CAST(count(*) AS BIGINT) AS d FROM op GROUP BY 1
    )
    SELECT c.a_item, c.b_item, c.co, da.d AS deg_a, db.d AS deg_b,
           {ratio_scaled_sql('(c.co * c.co)', '(da.d * db.d)', 6)}
             AS cos2_e6
    FROM co c
    JOIN deg da ON da.l_partkey = c.a_item
    JOIN deg db ON db.l_partkey = c.b_item
    ORDER BY cos2_e6 DESC, a_item, b_item
    LIMIT 25
    """


@query(
    "item_cf_similarity_topk",
    oracle=_item_cf_oracle(),
    survey_ref="§2 extension: item-item collaborative-filtering "
    "similarity (Sarwar et al. 2001) — co-occurrence cosine over basket "
    "membership ranked by the exact SQUARED cosine co²·1e6/(deg_a·deg_b) "
    "(scaled-integer, no sqrt), support ≥ 2; the normalized companion of "
    "common_neighbors_linkpred's raw counts",
)
def item_cf_similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Customers who bought X also bought Y', normalized so prolific
    items don't dominate: cosine over the binary basket-membership
    vectors = co/√(deg_a·deg_b), ranked by its SQUARE as an exact e6
    integer (monotone in cosine for co ≥ 0, so the ranking is identical
    — and deterministic where float sqrt would tie-flip). Co-occurrence
    rides the shared join-free HOF basket kernel; degree joins are
    item-dimension-sized."""
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )

    li = load_table(spark, sf_dir, "lineitem")
    # ONE fact scan: the checkpointed basket frame feeds the pair kernel
    # AND the per-item degrees (deg = explode of the same sorted distinct
    # part sets — identical to distinct(order, part) counts), instead of a
    # second lineitem scan + distinct shuffle (r10, guide §1.2 step 1)
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _order_baskets,
    )

    baskets = _order_baskets(li).localCheckpoint(eager=True)
    co = _copurchase_edges(
        li, min_support=2, support_col="co", baskets=baskets
    ).select(
        F.col("src").alias("a_item"), F.col("dst").alias("b_item"),
        F.col("co").cast("long").alias("co"),
    )
    deg = (
        baskets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    da = deg.select(F.col("l_partkey").alias("a_item"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("l_partkey").alias("b_item"), F.col("d").alias("deg_b"))
    return (
        co.join(da, "a_item")
        .join(db, "b_item")
        .select(
            "a_item", "b_item", "co", "deg_a", "deg_b",
            ratio_scaled("(co * co)", "(deg_a * deg_b)", 6).alias("cos2_e6"),
        )
        .orderBy(F.col("cos2_e6").desc(), "a_item", "b_item")
        .limit(25)
    )


# --- native session windows ---------------------------------------------------------


@query(
    "session_window_native",
    oracle="""
    WITH gaps AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM gaps
    )
    SELECT user_id,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    survey_ref="§2.7/§2.9 native operator: Spark's built-in "
    "session_window() (dynamic-gap session aggregation inside the "
    "engine, usable identically in batch and Structured Streaming) — "
    "the oracle replays the merge rule as gaps-and-islands with the "
    "session_window boundary convention (ts − prev ≥ gap starts a new "
    "session; window end = last event + gap), proving the built-in's "
    "semantics equal the manual islands form",
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The engine-native sessionizer: groupBy(user, session_window(ts,
    '30 minutes')) merges overlapping [ts, ts+gap) intervals inside the
    aggregation operator — one exchange, no window-function pass, and
    the SAME expression works under readStream with watermark-driven
    state eviction (the manual islands form does not stream). NOTE the
    boundary differs from the repo's SESSION_IDS_CTES grain: the
    built-in starts a new session at diff ≥ gap, sessionize at
    diff > gap — both conventions are kept, each oracle-pinned."""
    ev = load_table(spark, sf_dir, "events")
    sw = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    return sw.select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("end_us"),
        "n_events",
    )


# --- streaming session_window equivalence --------------------------------------------

_SESSION_WIN_SINK = "streaming_session_window_sink"


@query(
    "streaming_session_window_equiv",
    oracle="""
    WITH gaps AS (
      SELECT user_id, epoch_us(ts) AS us,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
    ),
    sess AS (
      SELECT user_id, us,
             CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS sid
      FROM gaps
    )
    SELECT user_id,
           CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) + 1800000000 AS BIGINT) AS end_us,
           CAST(count(*) AS BIGINT) AS n_events
    FROM sess GROUP BY user_id, sid
    """,
    survey_ref="§2.9 streaming analog: the ENGINE-NATIVE session_window "
    "aggregation run as a 3-micro-batch file stream (complete mode, "
    "availableNow drain) — per-(user, session) state must MERGE across "
    "batch boundaries (a session whose events straddle two files arrives "
    "as two partial windows the state store unifies); final sink == the "
    "batch gaps-and-islands oracle, the same one session_window_native "
    "pins in batch",
    tags=("streaming",),
)
def streaming_session_window_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window under readStream: the one stateful operator whose
    state is an INTERVAL (merge-able), not a scalar — micro-batch
    boundaries split sessions and the store must coalesce overlapping
    [start, last+gap) fragments. Time-range slices + maxFilesPerTrigger=1
    make the cross-batch merge real; complete mode retains every session
    so the drained sink equals the batch answer exactly (no watermark
    cutoff subtlety in the gate; production adds withWatermark for
    eviction, same expression)."""
    import hashlib

    from nilm_data_framework_spark.queries.streaming_equiv import (
        _EVENTS_TS,
        _run_to_memory_sink,
        _staged_stream_dir,
    )
    from nilm_data_framework_spark.sources.testdata import (
        _ensure_session_confs,
        load_table,
    )

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"sesswin_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    agg = stream.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    _run_to_memory_sink(agg, _SESSION_WIN_SINK, output_mode="complete")
    return spark.table(_SESSION_WIN_SINK).select(
        "user_id",
        F.unix_micros(F.col("w.start")).alias("start_us"),
        F.unix_micros(F.col("w.end")).alias("end_us"),
        "n_events",
    )


# --- NILM steady-state segmentation & edge detection ---------------------------------
# The reference framework's downstream purpose is NILM event detection:
# steady power plateaus, the step edges between them, and matching steps to
# appliance signatures (Hart 1992's finite-state appliance model). The
# segment grain lives ONCE (Spark helper + one oracle CTE string) so the
# three queries can never drift from the segmenter.

_STEADY_TOL_U6 = 30_000_000  # |Δvalue| <= 30 units stays in-segment
_STEADY_MIN_N = 3

STEADY_SEG_CTES = f"""
    WITH e AS (
      SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    d AS (
      SELECT *, CASE WHEN lag(v6) OVER w IS NULL
                       OR abs(v6 - lag(v6) OVER w) > {_STEADY_TOL_U6}
                     THEN 1 ELSE 0 END AS b
      FROM e
      WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)
    ),
    s AS (
      SELECT *, CAST(sum(b) OVER (PARTITION BY user_id, event_type
                 ORDER BY us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS sid
      FROM d
    ),
    seg AS (
      SELECT user_id, event_type,
             CAST(min(us) AS BIGINT) AS start_us,
             CAST(max(us) AS BIGINT) AS end_us,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST((2 * sum(v6) + 100 * count(*))
                  // (200 * count(*)) AS BIGINT) AS mean_e4
      FROM s GROUP BY user_id, event_type, sid
      HAVING count(*) >= {_STEADY_MIN_N}
    )"""


def _steady_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of STEADY_SEG_CTES: maximal runs where consecutive
    readings move <= 30 units, per (user, type) channel, kept at n >= 3.
    One channel-keyed exchange serves the lag, the running sum, and the
    per-segment agg; the mean is the shared u6->e4 exact rounding."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.exact_math import u6_mean_e4

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_micros("ts").alias("us"), "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
    prev = F.lag("v6").over(w)
    d = ev.withColumn(
        "b",
        F.when(
            prev.isNull() | (F.abs(F.col("v6") - prev) > _STEADY_TOL_U6), 1
        ).otherwise(0),
    )
    run = w.rowsBetween(Window.unboundedPreceding, 0)
    s = d.withColumn("sid", F.sum("b").over(run).cast("long"))
    return (
        s.groupBy("user_id", "event_type", "sid")
        .agg(
            F.min("us").cast("long").alias("start_us"),
            F.max("us").cast("long").alias("end_us"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
            u6_mean_e4("sum(v6)", "count(1)").alias("mean_e4"),
        )
        .where(F.col("n_events") >= _STEADY_MIN_N)
        .drop("sid")
    )


@query(
    "steady_state_segments",
    oracle=f"""
    {STEADY_SEG_CTES}
    SELECT user_id, event_type, start_us, end_us, n_events, mean_e4
    FROM seg
    """,
    survey_ref="§2.4/§2.7 NILM core extension: steady-state detection "
    "(Hart 1992 finite-state model) — maximal per-channel runs with "
    "|Δ| ≤ 30 units via gaps-and-islands on ONE channel exchange; "
    "segment means in the shared exact u6→e4 rounding; the plateau "
    "table every edge-based disaggregator starts from",
)
def steady_state_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The NILM plateau table: where each channel's reading holds level
    (tolerance-banded) for >= 3 samples. One exchange for lag + running
    sum + segment agg — the same W5 gaps-and-islands kernel as
    run_segments, lifted from binary activity to tolerance-banded
    continuous values."""
    return _steady_segments(spark, sf_dir)


@query(
    "power_step_signatures",
    oracle=f"""
    {STEADY_SEG_CTES},
    steps AS (
      SELECT event_type,
             lead(mean_e4) OVER (PARTITION BY user_id, event_type
                                 ORDER BY start_us) - mean_e4 AS step_e4
      FROM seg
    )
    SELECT CAST(((step_e4 + 10000000) // 25000) * 25000 - 10000000
                AS BIGINT) AS bucket_lo_e4,
           CAST(count(*) AS BIGINT) AS n_steps,
           CAST(min(step_e4) AS BIGINT) AS min_step_e4,
           CAST(max(step_e4) AS BIGINT) AS max_step_e4
    FROM steps WHERE step_e4 IS NOT NULL
    GROUP BY 1
    """,
    survey_ref="§2.4 NILM core extension: edge detection — level steps "
    "between consecutive steady segments per channel, histogrammed in "
    "2.5-unit buckets; SIGNED bucketing goes through the +1e7 offset so "
    "integer division floors identically in both engines (the signed-div "
    "divergence rule)",
)
def power_step_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The appliance-signature histogram: step edges (on/off transitions
    in a real deployment) between plateaus. lead() over the segment
    table (already tiny vs events), one bucket agg; buckets of the
    SIGNED step use an offset so div == floor in Spark and DuckDB."""
    from pyspark.sql import Window

    seg = _steady_segments(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("start_us")
    steps = seg.select(
        "event_type",
        (F.lead("mean_e4").over(w) - F.col("mean_e4")).alias("step_e4"),
    ).where(F.col("step_e4").isNotNull())
    bucket_lo = (
        F.expr("((step_e4 + 10000000) div 25000) * 25000 - 10000000")
    ).cast("long")
    return steps.groupBy(bucket_lo.alias("bucket_lo_e4")).agg(
        F.count(F.lit(1)).cast("long").alias("n_steps"),
        F.min("step_e4").cast("long").alias("min_step_e4"),
        F.max("step_e4").cast("long").alias("max_step_e4"),
    )


@query(
    "step_signature_match",
    oracle=f"""
    {STEADY_SEG_CTES},
    steps AS (
      SELECT event_type,
             abs(lead(mean_e4) OVER (PARTITION BY user_id, event_type
                                     ORDER BY start_us) - mean_e4)
               AS astep
      FROM seg
    )
    SELECT event_type,
           CAST(CASE WHEN astep <= 300000 THEN 10
                     WHEN astep <= 750000 THEN 50
                     WHEN astep <= 1500000 THEN 100
                     WHEN astep <= 2500000 THEN 200
                     ELSE 300 END AS BIGINT) AS signature_units,
           CAST(count(*) AS BIGINT) AS n_matched
    FROM steps WHERE astep IS NOT NULL
    GROUP BY 1, 2
    """,
    survey_ref="§2.5 NILM core extension: step→appliance-signature "
    "matching — each |edge| assigned to the nearest of five literal "
    "signature magnitudes (10/50/100/200/300 units) by exact-integer "
    "midpoint thresholds (ties to the smaller signature, ≤ in both "
    "engines); the load-identification join of Hart's model",
)
def step_signature_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Which appliance was that?': nearest-signature classification of
    every step edge via midpoint CASE thresholds — integer-exact, no
    argmin join needed for a literal 5-row signature dim. Counts per
    (channel type, signature)."""
    from pyspark.sql import Window

    seg = _steady_segments(spark, sf_dir)
    w = Window.partitionBy("user_id", "event_type").orderBy("start_us")
    steps = seg.select(
        "event_type",
        F.abs(F.lead("mean_e4").over(w) - F.col("mean_e4")).alias("astep"),
    ).where(F.col("astep").isNotNull())
    sig = (
        F.when(F.col("astep") <= 300000, 10)
        .when(F.col("astep") <= 750000, 50)
        .when(F.col("astep") <= 1500000, 100)
        .when(F.col("astep") <= 2500000, 200)
        .otherwise(300)
    ).cast("long")
    return steps.groupBy(
        "event_type", sig.alias("signature_units")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_matched"))


# --- Allen interval-algebra census ---------------------------------------------------

_ALLEN_CASE = """
    CASE WHEN ea < sb THEN 'precedes'
         WHEN ea = sb THEN 'meets'
         WHEN sa < sb AND sb < ea AND ea < eb THEN 'overlaps'
         WHEN sa = sb AND ea < eb THEN 'starts'
         WHEN sa > sb AND ea < eb THEN 'during'
         WHEN sa > sb AND ea = eb THEN 'finishes'
         WHEN sa = sb AND ea = eb THEN 'equals'
         WHEN sa < sb AND ea = eb THEN 'finished_by'
         WHEN sa < sb AND ea > eb THEN 'contains'
         WHEN sa = sb AND ea > eb THEN 'started_by'
         WHEN sa < eb AND sa > sb AND ea > eb THEN 'overlapped_by'
         WHEN sa = eb THEN 'met_by'
         ELSE 'preceded_by' END
"""


@query(
    "allen_relations_census",
    oracle=f"""
    {STEADY_SEG_CTES},
    a AS (SELECT user_id, start_us AS sa, end_us AS ea FROM seg
          WHERE event_type = 'click'),
    b AS (SELECT user_id, start_us AS sb, end_us AS eb FROM seg
          WHERE event_type = 'view'),
    pairs AS (
      SELECT {_ALLEN_CASE} AS rel
      FROM a JOIN b USING (user_id)
    )
    SELECT rel, CAST(count(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY 1
    """,
    survey_ref="§2.3/§2.4 extension: Allen interval-algebra census (Allen "
    "1983) — every (click-segment, view-segment) pair per user classified "
    "into the 13 temporal relations by exact-micros CASE comparisons over "
    "the shared steady-segment grain; the temporal-reasoning layer above "
    "plain overlap joins",
)
def allen_relations_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOW do two channels' plateaus relate in time — not just 'do they
    overlap' (pairwise_coactivation) but which of Allen's 13 relations
    each pair realizes. The pair join is user-local (equi-join on
    user_id; segments per channel are few), classification is one
    branch-ordered CASE both engines evaluate identically on exact
    integer micros."""
    seg = _steady_segments(spark, sf_dir)
    a = seg.where(F.col("event_type") == "click").select(
        "user_id", F.col("start_us").alias("sa"), F.col("end_us").alias("ea")
    )
    b = seg.where(F.col("event_type") == "view").select(
        "user_id", F.col("start_us").alias("sb"), F.col("end_us").alias("eb")
    )
    pairs = a.join(b, "user_id").select(F.expr(_ALLEN_CASE).alias("rel"))
    return pairs.groupBy("rel").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    )


# --- habitual-hours behavioral screen -------------------------------------------------


@query(
    "habitual_hours",
    oracle="""
    WITH uh AS (
      SELECT user_id,
             CAST((epoch_us(ts) // 3600000000) % 24 AS BIGINT) AS hod,
             CAST(count(DISTINCT epoch_us(ts) // 86400000000) AS BIGINT)
               AS n_days,
             CAST(count(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    )
    SELECT hod,
           CAST(count(*) AS BIGINT) AS n_habitual_users,
           CAST(max(n_days) AS BIGINT) AS max_days,
           CAST(sum(n_events) AS BIGINT) AS n_events
    FROM uh WHERE n_days >= 5 GROUP BY 1
    """,
    survey_ref="§2.4 extension: habitual-behavior screen — (user, "
    "hour-of-day) cells active on ≥ 5 DISTINCT days (periodicity by "
    "count-distinct-day, robust to burst volume); per-hour census of "
    "habitual users — the recurring-schedule detector (cron traffic, "
    "appliance timers, commute patterns)",
)
def habitual_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which hours carry RECURRING activity rather than one-off bursts?
    Two hash aggs: (user, hod) cells with distinct-day support, then the
    per-hour rollup of cells passing the ≥5-day habit threshold. All
    keys are derived integers; both passes map-side combined."""
    ev = load_table(spark, sf_dir, "events")
    uh = ev.groupBy(
        "user_id",
        F.expr("(unix_micros(ts) div 3600000000) % 24").alias("hod"),
    ).agg(
        F.countDistinct(F.expr("unix_micros(ts) div 86400000000"))
        .cast("long")
        .alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )
    return (
        uh.where(F.col("n_days") >= 5)
        .groupBy("hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_habitual_users"),
            F.max("n_days").cast("long").alias("max_days"),
            F.sum("n_events").cast("long").alias("n_events"),
        )
    )


# --- functional-dependency profiling ---------------------------------------------------


@query(
    "fd_violation_audit",
    oracle="""
    WITH fd1 AS (
      SELECT 'o_orderkey->o_custkey' AS fd,
             CAST(count(*) AS BIGINT) AS n_groups,
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(max(d) AS BIGINT) AS max_distinct_rhs
      FROM (SELECT o_orderkey, count(DISTINCT o_custkey) AS d
            FROM orders GROUP BY 1)
    ),
    fd2 AS (
      SELECT 'o_custkey->o_orderpriority',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(max(d) AS BIGINT)
      FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS d
            FROM orders GROUP BY 1)
    ),
    fd3 AS (
      SELECT 'l_orderkey->l_suppkey',
             CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN d > 1 THEN 1 ELSE 0 END) AS BIGINT),
             CAST(max(d) AS BIGINT)
      FROM (SELECT l_orderkey, count(DISTINCT l_suppkey) AS d
            FROM lineitem GROUP BY 1)
    )
    SELECT * FROM fd1 UNION ALL SELECT * FROM fd2 UNION ALL SELECT * FROM fd3
    """,
    survey_ref="§2.4 extension: functional-dependency profiling (the "
    "X→Y discovery/validation step of schema inference and data-quality "
    "suites) — per-candidate-FD group counts, violating-group counts, "
    "and worst fan-out, all exact; one holds (PK), two violated",
)
def fd_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does X determine Y in this data? Three candidate FDs audited by
    groupBy(lhs) + countDistinct(rhs): the PK dependency holds
    (n_violating = 0 is the assertion a constraint suite would pin),
    the two non-key candidates quantify HOW broken they are
    (max_distinct_rhs = the fan-out a denormalizer must handle). Each
    audit is one hash agg + one 3-column rollup."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")

    def audit(df: DataFrame, lhs: str, rhs: str) -> DataFrame:
        per = df.groupBy(lhs).agg(
            F.countDistinct(rhs).cast("long").alias("d")
        )
        return per.agg(
            F.lit(f"{lhs}->{rhs}").alias("fd"),
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum((F.col("d") > 1).cast("long")).cast("long").alias("n_violating"),
            F.max("d").cast("long").alias("max_distinct_rhs"),
        )

    return (
        audit(orders, "o_orderkey", "o_custkey")
        .unionByName(audit(orders, "o_custkey", "o_orderpriority"))
        .unionByName(audit(li, "l_orderkey", "l_suppkey"))
    )


# --- Lorenz curve ------------------------------------------------------------------------


def _lorenz_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql

    return f"""
    WITH ranked AS (
      SELECT n_chars,
             ntile(10) OVER (ORDER BY n_chars, doc_id) AS decile
      FROM documents
    ),
    per AS (
      SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS chars
      FROM ranked GROUP BY 1
    ),
    cum AS (
      SELECT decile, n_docs, chars,
             CAST(sum(chars) OVER (ORDER BY decile
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_chars,
             CAST(sum(chars) OVER () AS BIGINT) AS total_chars
      FROM per
    )
    SELECT CAST(decile AS BIGINT) AS decile, n_docs, chars, cum_chars,
           {ratio_e4_sql('cum_chars', 'total_chars')} AS cum_share_e4
    FROM cum
    """


@query(
    "lorenz_curve_deciles",
    oracle=_lorenz_oracle(),
    survey_ref="§2.4 extension: Lorenz curve of content mass — cumulative "
    "character share per doc-count decile (fully tiebroken ntile), the "
    "curve behind gini_key_skew's single number; exact e4 shares",
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is corpus mass in the longest documents? The
    10-point Lorenz curve: equal-count deciles by length (deterministic
    ntile with doc_id tiebreak), cumulative exact character sums, e4
    shares. The decile assignment is the scale-safe bucketed-ntile build
    (operators/scale_windows.py): per-value counts + one cumulative window
    over the n_chars SUPPORT + a value-partitioned row_number — no
    single-partition sort of the corpus (r5 verdict item 3); the oracle
    keeps the native global-ntile construction, so hash equality proves
    the swap exact. The only remaining unpartitioned windows run over 10
    decile rows."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.scale_windows import bucketed_ntile

    docs = load_table(spark, sf_dir, "documents")
    ranked = bucketed_ntile(
        docs.select("n_chars", "doc_id"),
        F.col("n_chars"),
        [F.col("doc_id")],
        10,
        out="decile",
    ).select("n_chars", "decile")
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    w_cum = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    w_tot = Window.partitionBy()
    cum = per.select(
        F.col("decile").cast("long").alias("decile"),
        "n_docs",
        "chars",
        F.sum("chars").over(w_cum).cast("long").alias("cum_chars"),
        F.sum("chars").over(w_tot).cast("long").alias("total_chars"),
    )
    return cum.select(
        "decile",
        "n_docs",
        "chars",
        "cum_chars",
        ratio_e4("cum_chars", "total_chars").alias("cum_share_e4"),
    )


# --- Tukey fences (boxplot outliers, exact) --------------------------------------------


@query(
    "tukey_fences_outliers",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6,
             event_id
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    q AS (
      SELECT event_type, v6, rk, n,
             max(CASE WHEN rk = (n + 3) // 4 THEN v6 END)
               OVER (PARTITION BY event_type) AS q1,
             max(CASE WHEN rk = (3 * n + 3) // 4 THEN v6 END)
               OVER (PARTITION BY event_type) AS q3
      FROM ranked
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n,
           CAST(max(q1) AS BIGINT) AS q1_v6,
           CAST(max(q3) AS BIGINT) AS q3_v6,
           CAST(sum(CASE WHEN 2 * v6 < 2 * q1 - 3 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
           CAST(sum(CASE WHEN 2 * v6 > 2 * q3 + 3 * (q3 - q1)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM q GROUP BY 1
    """,
    survey_ref="§2.4 robust stats: Tukey boxplot fences — type-1 "
    "quartiles rank-picked exactly (fully tiebroken), 1.5·IQR fences "
    "evaluated as the DOUBLED integer inequality 2v < 2Q1 − 3·IQR (no "
    "halves, no floats); the boxplot companion of the MAD and 3σ "
    "detectors",
)
def tukey_fences_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic boxplot screen, typed-hash-exact: one exchange on
    event_type carries the rank window, the two conditional-max
    quartile broadcasts (window form — no self-join back), and the
    fence counts. Doubling both sides of the 1.5·IQR comparison keeps
    every operand BIGINT."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
        "event_id",
    )
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_all = Window.partitionBy("event_type")
    ranked = ev.select(
        "event_type",
        "v6",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    q = ranked.select(
        "event_type",
        "v6",
        "n",
        F.max(F.when(F.col("rk") == F.expr("(n + 3) div 4"), F.col("v6")))
        .over(w_all)
        .alias("q1"),
        F.max(F.when(F.col("rk") == F.expr("(3 * n + 3) div 4"), F.col("v6")))
        .over(w_all)
        .alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    return q.groupBy("event_type").agg(
        F.max("n").cast("long").alias("n"),
        F.max("q1").cast("long").alias("q1_v6"),
        F.max("q3").cast("long").alias("q3_v6"),
        F.sum((2 * F.col("v6") < 2 * F.col("q1") - 3 * iqr).cast("long"))
        .cast("long")
        .alias("n_low"),
        F.sum((2 * F.col("v6") > 2 * F.col("q3") + 3 * iqr).cast("long"))
        .cast("long")
        .alias("n_high"),
    )


# --- Theil–Sen robust trend ------------------------------------------------------------


@query(
    "theil_sen_daily_trend",
    oracle="""
    WITH daily AS (
      SELECT epoch_us(o_orderdate) // 86400000000 AS d,
             (epoch_us(o_orderdate) // 86400000000) // 365 AS yr,
             CAST(count(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
    ),
    slopes AS (
      SELECT a.yr, a.d AS di, b.d AS dj,
             CAST(b.c - a.c AS BIGINT) AS num,
             CAST(b.d - a.d AS BIGINT) AS den,
             CAST(b.c - a.c AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
      FROM daily a JOIN daily b ON b.yr = a.yr AND b.d > a.d
    ),
    ranked AS (
      SELECT *, row_number() OVER (PARTITION BY yr
                                   ORDER BY slope, di, dj) AS rk,
             count(*) OVER (PARTITION BY yr) AS n
      FROM slopes
    )
    SELECT CAST(yr AS BIGINT) AS yr,
           CAST(num AS BIGINT) AS med_num, CAST(den AS BIGINT) AS med_den,
           CAST(di AS BIGINT) AS day_i, CAST(dj AS BIGINT) AS day_j,
           CAST(n AS BIGINT) AS n_pairs
    FROM ranked WHERE rk = (n + 1) // 2
    """,
    survey_ref="§2.4 robust stats: Theil–Sen estimator per 365-day "
    "bucket — the median of all within-bucket pairwise day-count slopes "
    "(lower median, deterministic (value, di, dj) order; each slope is "
    "ONE double division of exact integers, identical in both engines); "
    "the breakdown-point-29% trend line beside least-squares "
    "ols_trend_daily",
)
def theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust order-volume trend per 365-day bucket: the daily-count
    table is tiny after the one fact agg (~2.4 k days) and the pair join
    is bucket-local, so the per-bucket sort is ~365²/2 ≈ 67 k rows and
    every bucket sorts IN PARALLEL (the global-median form was a
    single-reducer sort of days²/2 ≈ 2.9 M rows — measured 6.5 s vs
    ~1.5 s for this form, and days² is time-span-bounded, not
    sf-bounded, so the bucketed shape is also what a longer deployment
    needs). Theil–Sen IS pairwise; the median slope ships as the chosen
    pair's EXACT num/den (the float is only the sort key, ordered
    identically in both engines with an id tiebreak)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    # parquet date columns land as TIMESTAMP_NTZ; unix_micros needs a cast
    # (UTC session makes it a pure relabel — the r5 lesson)
    daily = orders.groupBy(
        F.expr(
            "unix_micros(CAST(o_orderdate AS TIMESTAMP)) div 86400000000"
        ).alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c")).withColumn(
        "yr", F.expr("d div 365")
    )
    a = daily.select("yr", F.col("d").alias("di"), F.col("c").alias("ci"))
    b = daily.select(
        F.col("yr").alias("_yr"), F.col("d").alias("dj"), F.col("c").alias("cj")
    )
    slopes = a.join(
        b, (F.col("_yr") == F.col("yr")) & (F.col("dj") > F.col("di"))
    ).select(
        "yr",
        "di",
        "dj",
        (F.col("cj") - F.col("ci")).cast("long").alias("num"),
        (F.col("dj") - F.col("di")).cast("long").alias("den"),
        (
            (F.col("cj") - F.col("ci")).cast("double")
            / (F.col("dj") - F.col("di")).cast("double")
        ).alias("slope"),
    )
    w = Window.partitionBy("yr").orderBy("slope", "di", "dj")
    ranked = slopes.select(
        "*",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("yr")).alias("n"),
    )
    return ranked.where(F.col("rk") == F.expr("(n + 1) div 2")).select(
        F.col("yr").cast("long").alias("yr"),
        F.col("num").alias("med_num"),
        F.col("den").alias("med_den"),
        F.col("di").alias("day_i"),
        F.col("dj").alias("day_j"),
        F.col("n").cast("long").alias("n_pairs"),
    )


# --- Wald–Wolfowitz runs test -------------------------------------------------------------


@query(
    "runs_test_randomness",
    oracle="""
    WITH v AS (
      SELECT event_type, epoch_us(ts) AS us, event_id,
             CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    med AS (
      SELECT event_type, v6, us, event_id,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM v
    ),
    tagged AS (
      SELECT event_type, us, event_id,
             CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END AS hi
      FROM med
    ),
    runs AS (
      SELECT event_type, hi,
             CASE WHEN lag(hi) OVER w IS NULL OR lag(hi) OVER w <> hi
                  THEN 1 ELSE 0 END AS new_run
      FROM tagged
      WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)
    )
    SELECT event_type,
           CAST(sum(new_run) AS BIGINT) AS n_runs,
           CAST(sum(1 - hi) AS BIGINT) AS n_below,
           CAST(sum(hi) AS BIGINT) AS n_above
    FROM runs GROUP BY 1
    """,
    survey_ref="§2.4 robust stats: Wald–Wolfowitz runs test inputs — "
    "each value tagged above/below its type's exact rank-median (lower "
    "half by 2·rk ≤ n, integer), runs counted by one lag window in TIME "
    "order; R, n₁, n₂ exact (the z-score is consumer-side float) — the "
    "serial-independence screen beside ACF",
)
def runs_test_randomness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the series random around its median, or does it cluster? Two
    windows on the SAME type key (one exchange: rank-by-value, then
    run-boundaries by time) + one agg. Median split via 2·rk ≤ n keeps
    the tag integer-exact; expected runs 1 + 2n₁n₂/n is left to the
    reader because R, n₁, n₂ ARE the sufficient statistics."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "event_id",
        F.floor(F.col("value") * 1000000).cast("long").alias("v6"),
    )
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_n = Window.partitionBy("event_type")
    tagged = ev.select(
        "event_type",
        "us",
        "event_id",
        F.when(
            2 * F.row_number().over(w_rk) <= F.count(F.lit(1)).over(w_n), 0
        )
        .otherwise(1)
        .alias("hi"),
    )
    w_t = Window.partitionBy("event_type").orderBy("us", "event_id")
    prev = F.lag("hi").over(w_t)
    runs = tagged.select(
        "event_type",
        "hi",
        F.when(prev.isNull() | (prev != F.col("hi")), 1).otherwise(0).alias("new_run"),
    )
    return runs.groupBy("event_type").agg(
        F.sum("new_run").cast("long").alias("n_runs"),
        F.sum(F.lit(1) - F.col("hi")).cast("long").alias("n_below"),
        F.sum("hi").cast("long").alias("n_above"),
    )


# --- sparse COO matrix multiplication --------------------------------------------------


@query(
    "coo_matmul_expected_transitions",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS t1,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY epoch_us(ts), event_id) AS t2
      FROM events
    ),
    trans AS (
      SELECT t1, t2, CAST(count(*) AS BIGINT) AS tc
      FROM seq WHERE t2 IS NOT NULL GROUP BY 1, 2
    ),
    um AS (
      SELECT user_id, event_type AS t1, CAST(count(*) AS BIGINT) AS uc
      FROM events GROUP BY 1, 2
    ),
    prod AS (
      SELECT um.user_id, trans.t2,
             CAST(sum(um.uc * trans.tc) AS BIGINT) AS expected_mass
      FROM um JOIN trans ON trans.t1 = um.t1
      GROUP BY 1, 2
    )
    SELECT t2 AS next_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(expected_mass) AS BIGINT) AS total_mass,
           CAST(max(expected_mass) AS BIGINT) AS max_user_mass
    FROM prod GROUP BY 1
    """,
    survey_ref="§2.3/§2.4 extension: sparse COO matrix multiplication — "
    "the (user × type) count matrix times the (type × type) transition-"
    "count matrix as the canonical join-on-inner-dimension + group-agg "
    "plan (C = A·B with A, B, C all in coordinate form); every mass is "
    "an exact integer because both factors stay counts",
)
def coo_matmul_expected_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed sparse matmul in its native Spark form: join A's
    columns to B's rows on the inner dimension, multiply, sum per (i,
    j). The inner dimension here is the 5-type vocabulary so B is
    broadcast-sized by construction; at 100 TB any COO matmul with a
    bounded inner dimension keeps this exact plan (A never shuffles —
    output rolls up per i-partition)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type").over(w).alias("t2"),
    ).where(F.col("t2").isNotNull())
    trans = seq.groupBy("t1", "t2").agg(
        F.count(F.lit(1)).cast("long").alias("tc")
    )
    um = ev.groupBy("user_id", F.col("event_type").alias("t1")).agg(
        F.count(F.lit(1)).cast("long").alias("uc")
    )
    prod = (
        um.join(trans, "t1")
        .groupBy("user_id", "t2")
        .agg(F.sum(F.col("uc") * F.col("tc")).cast("long").alias("expected_mass"))
    )
    return prod.groupBy(F.col("t2").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("expected_mass").cast("long").alias("total_mass"),
        F.max("expected_mass").cast("long").alias("max_user_mass"),
    )


# --- group-median imputation audit -------------------------------------------------------
# The synthetic events have no nulls, so both engines null out every 20th
# value (event_id % 20 = 0) and impute with the per-type exact rank median
# of the REMAINING values — the standard data-prep op, made auditable.


@query(
    "median_impute_audit",
    oracle="""
    WITH v AS (
      SELECT event_type, event_id,
             CASE WHEN event_id % 20 = 0 THEN NULL
                  ELSE CAST(floor(value * 1000000) AS BIGINT) END AS v6
      FROM events
    ),
    ranked AS (
      SELECT event_type, v6,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY v6, event_id) AS rk,
             count(v6) OVER (PARTITION BY event_type) AS n
      FROM v WHERE v6 IS NOT NULL
    ),
    med AS (
      SELECT event_type, CAST(max(CASE WHEN rk = (n + 1) // 2 THEN v6 END)
                              AS BIGINT) AS median_v6
      FROM ranked GROUP BY 1
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN v.v6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_imputed,
           m.median_v6,
           CAST(sum(coalesce(v.v6, m.median_v6)) AS BIGINT)
             AS sum_after_impute
    FROM v JOIN med m ON m.event_type = v.event_type
    GROUP BY 1, 4
    """,
    survey_ref="§2.2/§2.4 extension: group-median imputation (P11's null "
    "fill lifted from constants to a per-group EXACT rank median of the "
    "non-null values, lower median, fully tiebroken); the audit emits "
    "null counts and the post-impute checksum so the fill is verifiable",
)
def median_impute_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill nulls with the group median, exactly: rank median over
    non-nulls (one type-keyed window), broadcast back by the 5-key dim
    join, coalesce, checksum. The fixture nulls every 20th value so the
    op is non-vacuous in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.when(F.col("event_id") % 20 == 0, F.lit(None).cast("long"))
        .otherwise(F.floor(F.col("value") * 1000000).cast("long"))
        .alias("v6"),
    )
    nn = v.where(F.col("v6").isNotNull())
    w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_n = Window.partitionBy("event_type")
    ranked = nn.select(
        "event_type",
        "v6",
        F.row_number().over(w_rk).alias("rk"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    med = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rk") == F.expr("(n + 1) div 2"), F.col("v6")))
        .cast("long")
        .alias("median_v6")
    )
    return (
        v.join(med, "event_type")
        .groupBy("event_type", "median_v6")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_rows"),
            F.sum(F.col("v6").isNull().cast("long")).cast("long").alias("n_imputed"),
            F.sum(F.coalesce(F.col("v6"), F.col("median_v6")))
            .cast("long")
            .alias("sum_after_impute"),
        )
        .select(
            "event_type", "n_rows", "n_imputed", "median_v6", "sum_after_impute"
        )
    )


# --- min-max scaling audit -----------------------------------------------------------------


@query(
    "minmax_scale_audit",
    oracle="""
    WITH v AS (
      SELECT event_type, CAST(floor(value * 1000000) AS BIGINT) AS v6
      FROM events
    ),
    b AS (
      SELECT event_type, CAST(min(v6) AS BIGINT) AS lo,
             CAST(max(v6) AS BIGINT) AS hi
      FROM v GROUP BY 1
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n,
           b.lo AS min_v6, b.hi AS max_v6,
           CAST(sum((v.v6 - b.lo) * 10000 // (b.hi - b.lo)) AS BIGINT)
             AS sum_scaled_e4
    FROM v JOIN b ON b.event_type = v.event_type
    GROUP BY 1, 3, 4
    """,
    survey_ref="§2.7/§2.10 extension: min-max feature scaling audit — "
    "per-group (v−min)·1e4 div (max−min) floor-scaled to exact integers "
    "(numerator nonnegative, so div == floor in both engines); the "
    "normalization layer of every feature pipeline, checksummed",
)
def minmax_scale_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature scaling without float drift: group bounds from one agg,
    broadcast back by the 5-key dim join, the scaled value an exact
    integer quotient. The checksum (sum of scaled values) is what a
    regression test pins after any refactor of the scaling layer."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.floor(F.col("value") * 1000000).cast("long").alias("v6")
    )
    b = v.groupBy("event_type").agg(
        F.min("v6").cast("long").alias("lo"), F.max("v6").cast("long").alias("hi")
    )
    return (
        v.join(b, "event_type")
        .groupBy("event_type", "lo", "hi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.expr("(v6 - lo) * 10000 div (hi - lo)"))
            .cast("long")
            .alias("sum_scaled_e4"),
        )
        .select(
            "event_type",
            "n",
            F.col("lo").alias("min_v6"),
            F.col("hi").alias("max_v6"),
            "sum_scaled_e4",
        )
    )


# --- streaming bitmask equivalence -----------------------------------------------------

_BITMASK_SINK = "streaming_bitmask_sink"


@query(
    "streaming_bitmask_equiv",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             bit_or(1::BIGINT << CAST((epoch_us(ts) // 3600000000) % 24
                                      AS INT)) AS mask
      FROM events GROUP BY 1
    )
    SELECT CAST(bit_count(mask) AS BIGINT) AS n_active_hours,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(min(mask) AS BIGINT) AS min_mask,
           CAST(max(mask) AS BIGINT) AS max_mask
    FROM per_user GROUP BY 1
    """,
    survey_ref="§2.9 streaming analog: the bit_or bitmask aggregate run "
    "incrementally — per-user OR-state merged across 3 time-sliced "
    "micro-batches (complete mode, availableNow drain), final sink == "
    "the batch activity_bitmask_hist; proves the OR-mergeable-state "
    "claim the bitmask row in SCALE.md makes",
    tags=("streaming",),
)
def streaming_bitmask_equiv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bitmask encoding's real selling point is that OR-state is
    trivially incremental: each micro-batch ORs new hour bits into the
    per-user long. Same 3-file staged fixture as the session-window
    twin; the popcount histogram is computed on the DRAINED sink so the
    cross-batch merge is what the oracle checks."""
    import hashlib

    from nilm_data_framework_spark.queries.streaming_equiv import (
        _EVENTS_TS,
        _run_to_memory_sink,
        _staged_stream_dir,
    )
    from nilm_data_framework_spark.sources.testdata import (
        _ensure_session_confs,
        load_table,
    )

    _ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    d = _staged_stream_dir(
        f"sesswin_{hashlib.md5(sf_dir.encode()).hexdigest()[:12]}",
        {
            "a": ev.filter(F.col("ts") < F.lit("2024-01-10")),
            "b": ev.filter(
                (F.col("ts") >= F.lit("2024-01-10"))
                & (F.col("ts") < F.lit("2024-01-20"))
            ),
            "c": ev.filter(F.col("ts") >= F.lit("2024-01-20")),
        },
    )
    stream = (
        spark.readStream.schema(_EVENTS_TS)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    per_user = stream.groupBy("user_id").agg(
        F.expr(
            "bit_or(shiftleft(1L, CAST((unix_micros(ts) div 3600000000) % 24"
            " AS INT)))"
        ).alias("mask")
    )
    _run_to_memory_sink(per_user, _BITMASK_SINK, output_mode="complete")
    return (
        spark.table(_BITMASK_SINK)
        .groupBy(F.bit_count("mask").cast("long").alias("n_active_hours"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_users"),
            F.min("mask").cast("long").alias("min_mask"),
            F.max("mask").cast("long").alias("max_mask"),
        )
    )


# --- greedy set cover for source selection ----------------------------------------------


def _set_cover_oracle() -> str:
    return """
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
    r1 AS (
      SELECT source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, source) AS rn
      FROM sg GROUP BY 1
    ),
    w1 AS (SELECT source AS s1, CAST(gain AS BIGINT) AS gain1 FROM r1 WHERE rn = 1),
    cov1 AS (SELECT g FROM sg JOIN w1 ON sg.source = w1.s1),
    r2 AS (
      SELECT sg.source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, sg.source) AS rn
      FROM sg
      WHERE sg.source <> (SELECT s1 FROM w1)
        AND NOT EXISTS (SELECT 1 FROM cov1 WHERE cov1.g = sg.g)
      GROUP BY 1
    ),
    w2 AS (SELECT source AS s2, CAST(gain AS BIGINT) AS gain2 FROM r2 WHERE rn = 1),
    cov2 AS (
      SELECT g FROM cov1
      UNION SELECT g FROM sg JOIN w2 ON sg.source = w2.s2
    ),
    r3 AS (
      SELECT sg.source, count(*) AS gain,
             row_number() OVER (ORDER BY count(*) DESC, sg.source) AS rn
      FROM sg
      WHERE sg.source NOT IN (SELECT s1 FROM w1 UNION SELECT s2 FROM w2)
        AND NOT EXISTS (SELECT 1 FROM cov2 WHERE cov2.g = sg.g)
      GROUP BY 1
    ),
    w3 AS (SELECT source AS s3, CAST(gain AS BIGINT) AS gain3 FROM r3 WHERE rn = 1)
    SELECT 1 AS step, s1 AS picked, gain1 AS gain FROM w1
    UNION ALL SELECT 2, s2, gain2 FROM w2
    UNION ALL SELECT 3, s3, gain3 FROM w3
    ORDER BY step
    """


@query(
    "greedy_set_cover_sources",
    oracle=_set_cover_oracle(),
    survey_ref="§2.10 curation: greedy maximum-coverage source selection "
    "(the (1−1/e) classic) — 3 UNROLLED stages, each an anti-join "
    "against covered grams + a count + a deterministic argmax (count "
    "desc, source asc); coverage-driven mixture design: which sources "
    "buy the most NEW vocabulary",
)
def greedy_set_cover_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pick 3 sources that together cover the most distinct 3-grams:
    the greedy algorithm unrolled stage-by-stage (the MMR pattern —
    argmax as a 1-row frame joined forward, never a collect). Each
    stage's candidate counts are an anti-join of the distinct (source,
    gram) table against the grams already covered; all counts exact."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.text import word_ngrams

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    # the (source, gram) distinct table feeds SIX branches across the three
    # greedy stages (per-stage gains, coverage builds, anti-join remainders)
    # — checkpoint once (r10; the prefix-filter 4x/8x A/B showed exchange
    # reuse degrading with corpus size, and this is the same one-tokenize-
    # pass materialization)
    sg = (
        docs.select(
            "source", F.explode(word_ngrams(F.col("text"), 3)).alias("g")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )

    def argmax(cands: DataFrame) -> DataFrame:
        w = Window.orderBy(F.col("gain").desc(), "source")
        return (
            cands.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("source", "gain")
        )

    r1 = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("gain"))
    w1 = argmax(r1)
    cov1 = sg.join(w1.select(F.col("source").alias("_s")),
                   F.col("source") == F.col("_s")).select("g")
    rest2 = sg.join(w1.select("source"), "source", "left_anti")
    r2 = (
        rest2.join(cov1, "g", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("gain"))
    )
    w2 = argmax(r2)
    cov2 = cov1.unionByName(
        sg.join(w2.select(F.col("source").alias("_s")),
                F.col("source") == F.col("_s")).select("g")
    ).distinct()
    rest3 = rest2.join(w2.select("source"), "source", "left_anti")
    r3 = (
        rest3.join(cov2, "g", "left_anti")
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("gain"))
    )
    w3 = argmax(r3)
    return (
        w1.select(F.lit(1).alias("step"), F.col("source").alias("picked"), "gain")
        .unionByName(
            w2.select(F.lit(2).alias("step"), F.col("source").alias("picked"), "gain")
        )
        .unionByName(
            w3.select(F.lit(3).alias("step"), F.col("source").alias("picked"), "gain")
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
    oracle="""
    WITH src AS (
      SELECT c_custkey AS id, c_name FROM customer
      UNION ALL
      SELECT c_custkey + 3000000, substr(c_name, 1, 17) || 'x'
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
             CASE WHEN id > 3000000 OR i1 > 3000000 THEN 1 ELSE 0 END
               AS has_typo
      FROM ordered WHERE n1 IS NOT NULL
      UNION ALL
      SELECT 2, levenshtein(c_name, n2),
             CASE WHEN id > 3000000 OR i2 > 3000000 THEN 1 ELSE 0 END
      FROM ordered WHERE n2 IS NOT NULL
      UNION ALL
      SELECT 3, levenshtein(c_name, n3),
             CASE WHEN id > 3000000 OR i3 > 3000000 THEN 1 ELSE 0 END
      FROM ordered WHERE n3 IS NOT NULL
      UNION ALL
      SELECT 4, levenshtein(c_name, n4),
             CASE WHEN id > 3000000 OR i4 > 3000000 THEN 1 ELSE 0 END
      FROM ordered WHERE n4 IS NOT NULL
      UNION ALL
      SELECT 5, levenshtein(c_name, n5),
             CASE WHEN id > 3000000 OR i5 > 3000000 THEN 1 ELSE 0 END
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
    from nilm_data_framework_spark.operators.scale_windows import (
        bucketed_global_rank,
    )

    c = load_table(spark, sf_dir, "customer")
    src = c.select(F.col("c_custkey").alias("id"), "c_name").unionByName(
        c.where(F.col("c_custkey") % 25 == 0).select(
            (F.col("c_custkey") + 3000000).alias("id"),
            F.expr("concat(substr(c_name, 1, 17), 'x')").alias("c_name"),
        )
    )
    # ranked feeds both join sides — checkpoint the dimension-sized frame
    ranked = bucketed_global_rank(
        src, F.substring("c_name", 1, 15), [F.col("c_name"), F.col("id")],
        out="r",
    ).localCheckpoint(eager=True)
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
        ((F.col("id_a") > 3000000) | (F.col("id_b") > 3000000))
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
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.text import word_ngrams

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


# --- binary-segmentation changepoint ---------------------------------------------------


@query(
    "changepoint_binary_seg",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum AS (
      SELECT event_type, h, c,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    scored AS (
      SELECT event_type, h, s_l, n_l, s, n,
             CAST((s_l * n - s * n_l) * (s_l * n - s * n_l)
                  // (n_l * (n - n_l)) AS BIGINT) AS score
      FROM cum WHERE n_l < n
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY score DESC, h) AS rn
      FROM scored
    )
    SELECT event_type, CAST(h AS BIGINT) AS split_after_hour, score,
           n_l AS n_left, CAST(n - n_l AS BIGINT) AS n_right,
           s_l AS sum_left, CAST(s - s_l AS BIGINT) AS sum_right
    FROM best WHERE rn = 1
    """,
    survey_ref="§2.4 extension: binary-segmentation changepoint — the "
    "split hour maximizing the between-segment SSE reduction "
    "n_l·n_r·(mean_l−mean_r)² = (S_l·n − S·n_l)² div (n_l·(n−n_l)), "
    "kept EXACT as one BIGINT floor quotient per candidate (numerator "
    "≤ ~5e17, quotient the argmax key — no float anywhere); the "
    "structural-break detector beside CUSUM's cumulative form",
)
def changepoint_binary_seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE does each type's hourly volume break? One cumulative
    window over the hourly support gives every candidate split's
    (S_l, n_l) — the classic one-pass trick — and the variance-
    reduction score is an exact integer quotient, so the argmax is
    deterministic in both engines. First step of recursive binary
    segmentation; recursing is re-running on the two halves."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.partitionBy("event_type")
    cum = hourly.select(
        "event_type",
        "h",
        F.sum("c").over(w_cum).cast("long").alias("s_l"),
        F.row_number().over(Window.partitionBy("event_type").orderBy("h"))
        .cast("long")
        .alias("n_l"),
        F.sum("c").over(w_all).cast("long").alias("s"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
    )
    scored = cum.where(F.col("n_l") < F.col("n")).withColumn(
        "score",
        F.expr("(s_l * n - s * n_l) * (s_l * n - s * n_l)"
               " div (n_l * (n - n_l))").cast("long"),
    )
    w_best = Window.partitionBy("event_type").orderBy(
        F.col("score").desc(), "h"
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("h").alias("split_after_hour"),
            "score",
            F.col("n_l").alias("n_left"),
            (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
            F.col("s_l").alias("sum_left"),
            (F.col("s") - F.col("s_l")).cast("long").alias("sum_right"),
        )
    )


# --- recursive binary segmentation (depth 2) ---------------------------------------------


@query(
    "changepoint_recursive_3seg",
    oracle="""
    WITH hourly AS (
      SELECT event_type, epoch_us(ts) // 3600000000 AS h,
             CAST(count(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    cum1 AS (
      SELECT event_type, h, c,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best1 AS (
      SELECT event_type, h AS h1 FROM (
        SELECT event_type, h,
               row_number() OVER (PARTITION BY event_type ORDER BY
                 (s_l * n - s * n_l) * (s_l * n - s * n_l)
                   // (n_l * (n - n_l)) DESC, h) AS rn
        FROM cum1 WHERE n_l < n
      ) WHERE rn = 1
    ),
    sided AS (
      SELECT hourly.event_type,
             CASE WHEN hourly.h <= best1.h1 THEN 0 ELSE 1 END AS side,
             hourly.h, hourly.c
      FROM hourly JOIN best1 USING (event_type)
    ),
    cum2 AS (
      SELECT event_type, side, h,
             CAST(sum(c) OVER w AS BIGINT) AS s_l,
             CAST(row_number() OVER w AS BIGINT) AS n_l,
             CAST(sum(c) OVER (PARTITION BY event_type, side) AS BIGINT)
               AS s,
             CAST(count(*) OVER (PARTITION BY event_type, side) AS BIGINT)
               AS n
      FROM sided
      WINDOW w AS (PARTITION BY event_type, side ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ),
    best2 AS (
      SELECT event_type, CAST(side AS BIGINT) AS side,
             CAST(h AS BIGINT) AS split_after_hour,
             CAST(score AS BIGINT) AS score, n_l AS n_left,
             CAST(n - n_l AS BIGINT) AS n_right
      FROM (
        SELECT *,
               (s_l * n - s * n_l) * (s_l * n - s * n_l)
                 // (n_l * (n - n_l)) AS score,
               row_number() OVER (PARTITION BY event_type, side ORDER BY
                 (s_l * n - s * n_l) * (s_l * n - s * n_l)
                   // (n_l * (n - n_l)) DESC, h) AS rn
        FROM cum2 WHERE n_l < n
      ) WHERE rn = 1
    )
    SELECT * FROM best2
    """,
    survey_ref="§2.4 extension: RECURSIVE binary segmentation, depth 2 — "
    "the level-1 split (changepoint_binary_seg's argmax) partitions each "
    "series, then the identical exact-integer scoring runs per "
    "(type, side); demonstrates the unrolled-recursion composition "
    "pattern (MMR / set-cover style) on a window kernel",
)
def changepoint_recursive_3seg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-segment structural decomposition: the best split inside
    each half of the level-1 split. The level-1 winner is a 5-row frame
    joined back (never collected); level 2 is the SAME cumulative
    scoring with (type, side) keys — recursion as plan composition,
    each level one exchange over the (tiny) hourly support."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.expr("unix_micros(ts) div 3600000000").alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))

    def score_best(df: DataFrame, keys: list) -> DataFrame:
        w_cum = (
            Window.partitionBy(*keys)
            .orderBy("h")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        w_all = Window.partitionBy(*keys)
        cum = df.select(
            *keys,
            "h",
            F.sum("c").over(w_cum).cast("long").alias("s_l"),
            F.row_number().over(Window.partitionBy(*keys).orderBy("h"))
            .cast("long")
            .alias("n_l"),
            F.sum("c").over(w_all).cast("long").alias("s"),
            F.count(F.lit(1)).over(w_all).cast("long").alias("n"),
        ).where(F.col("n_l") < F.col("n"))
        scored = cum.withColumn(
            "score",
            F.expr(
                "(s_l * n - s * n_l) * (s_l * n - s * n_l)"
                " div (n_l * (n - n_l))"
            ).cast("long"),
        )
        w_best = Window.partitionBy(*keys).orderBy(F.col("score").desc(), "h")
        return scored.withColumn("rn", F.row_number().over(w_best)).where(
            F.col("rn") == 1
        )

    best1 = score_best(hourly, ["event_type"]).select(
        "event_type", F.col("h").alias("h1")
    )
    sided = hourly.join(best1, "event_type").select(
        "event_type",
        F.when(F.col("h") <= F.col("h1"), 0).otherwise(1).cast("long").alias("side"),
        "h",
        "c",
    )
    best2 = score_best(sided, ["event_type", "side"])
    return best2.select(
        "event_type",
        "side",
        F.col("h").alias("split_after_hour"),
        "score",
        F.col("n_l").alias("n_left"),
        (F.col("n") - F.col("n_l")).cast("long").alias("n_right"),
    )


# --- padding-waste audit (dynamic batching) ------------------------------------------------


def _padding_waste_oracle() -> str:
    from nilm_data_framework_spark.operators.exact_math import ratio_e4_sql
    from nilm_data_framework_spark.queries.sampling_packing import _TOKS_SQL

    return f"""
    WITH t AS (
      SELECT doc_id, CAST({_TOKS_SQL} AS BIGINT) AS n_toks FROM documents
    ),
    tagged AS (
      SELECT n_toks,
             (row_number() OVER (ORDER BY doc_id) - 1) // 32 AS b_arrival,
             (row_number() OVER (ORDER BY n_toks, doc_id) - 1) // 32
               AS b_sorted
      FROM t
    ),
    a AS (
      SELECT 'arrival' AS discipline, b_arrival AS b,
             CAST(count(*) AS BIGINT) AS cnt,
             CAST(max(n_toks) AS BIGINT) AS mx,
             CAST(sum(n_toks) AS BIGINT) AS sm
      FROM tagged GROUP BY 2
      UNION ALL
      SELECT 'length_sorted', b_sorted,
             CAST(count(*) AS BIGINT), CAST(max(n_toks) AS BIGINT),
             CAST(sum(n_toks) AS BIGINT)
      FROM tagged GROUP BY 2
    )
    SELECT discipline,
           CAST(count(*) AS BIGINT) AS n_batches,
           CAST(sum(sm) AS BIGINT) AS real_tokens,
           CAST(sum(mx * cnt) AS BIGINT) AS padded_tokens,
           CAST(sum(mx * cnt) - sum(sm) AS BIGINT) AS wasted_tokens,
           {ratio_e4_sql('(sum(mx * cnt) - sum(sm))', 'sum(mx * cnt)')}
             AS waste_share_e4
    FROM a GROUP BY 1
    """


@query(
    "padding_waste_audit",
    oracle=_padding_waste_oracle(),
    survey_ref="§2.10 training throughput: pad-to-max-in-batch waste "
    "under two batching disciplines — arrival order vs length-sorted "
    "(fully tiebroken ranks, batches of 32); wasted = Σ_b (max_b·cnt_b "
    "− Σ_b tokens) exact BIGINT, the measured argument for length-"
    "bucketed dynamic batching",
)
def padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How many pad tokens does naive batching burn, and how many does
    length-sorting save? Batch ids come from exact global ranks built the
    scale-safe way (operators/scale_windows.py, r5 verdict item 3): the
    arrival rank partitions on a doc_id range bucket, the length rank on
    n_toks itself — per-bucket row_numbers plus one support-sized
    cumulative window each, no single-partition sort of the corpus. The
    tokenized (doc_id, n_toks) frame is checkpointed once so the full-text
    tokenizing scan runs once, not once per rank branch. Oracle keeps the
    native global row_number construction — hash equality proves the swap.
    Every number is an exact integer; waste_share IS lost throughput, the
    capacity-planning input for choosing bucketed batching."""
    from nilm_data_framework_spark.operators.exact_math import ratio_e4
    from nilm_data_framework_spark.operators.scale_windows import (
        bucketed_global_rank,
    )
    from nilm_data_framework_spark.operators.text import token_count

    docs = load_table(spark, sf_dir, "documents", parallelize=True)
    t = docs.select(
        "doc_id", token_count(F.col("text")).cast("long").alias("n_toks")
    ).localCheckpoint(eager=True)

    def per_batch(bucket, order, name: str) -> DataFrame:
        ranked = bucketed_global_rank(t, bucket, order, out="r")
        return (
            ranked.select(
                "n_toks", ((F.col("r") - 1) / 32).cast("long").alias("b")
            )
            .groupBy("b")
            .agg(
                F.count(F.lit(1)).cast("long").alias("cnt"),
                F.max("n_toks").cast("long").alias("mx"),
                F.sum("n_toks").cast("long").alias("sm"),
            )
            .select(F.lit(name).alias("discipline"), "b", "cnt", "mx", "sm")
        )

    a = per_batch(
        (F.col("doc_id") / 1024).cast("long"), [F.col("doc_id")], "arrival"
    ).unionByName(
        per_batch(F.col("n_toks"), [F.col("doc_id")], "length_sorted")
    )
    return a.groupBy("discipline").agg(
        F.count(F.lit(1)).cast("long").alias("n_batches"),
        F.sum("sm").cast("long").alias("real_tokens"),
        F.sum(F.col("mx") * F.col("cnt")).cast("long").alias("padded_tokens"),
        (F.sum(F.col("mx") * F.col("cnt")) - F.sum("sm"))
        .cast("long")
        .alias("wasted_tokens"),
        ratio_e4(
            "(sum(mx * cnt) - sum(sm))", "sum(mx * cnt)"
        ).alias("waste_share_e4"),
    )
