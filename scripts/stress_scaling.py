#!/usr/bin/env python
"""Empirical scaling smoke: replicate the sf0.1 documents corpus k× in
memory (shifted ids so replicas are distinct documents, suffixed text so
replicas are not trivial near-dups of the originals) and measure how the
heavy text operators scale with corpus size.

This is the measured counterpart to SCALE.md's complexity claims: the
LSH/dedup/LM pipelines are designed linear-in-corpus (candidate generation
bucket-local, aggregations map-side combined) — a super-linear fit here
would falsify that long before a cluster does. Run:

    python scripts/stress_scaling.py [k1 k2 ...]   # default 1 2 4 8

Prints one JSON line per (query, k) with rows and wall seconds, then a
per-query log-log slope estimate (sec ~ corpus^slope; slope ≈ 1 = linear).
Results are summarized in STRESS.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from nilm_data_framework_spark.operators import dedup as D  # noqa: E402
from nilm_data_framework_spark.operators import lm as L  # noqa: E402
from nilm_data_framework_spark.operators import sketches as SK  # noqa: E402
from nilm_data_framework_spark.operators import text as T  # noqa: E402
from nilm_data_framework_spark.session import get_session  # noqa: E402
from nilm_data_framework_spark.sources.testdata import load_table  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def replicate(docs: DataFrame, k: int) -> DataFrame:
    """k distinct copies: ids shifted per replica; text of replica r > 0
    gets a replica-specific suffix token so copies are near-dups of their
    original (jaccard just below 1) rather than exact dups — the worst
    realistic case for LSH candidate volume."""
    parts = [docs]
    for r in range(1, k):
        parts.append(
            docs.select(
                (F.col("doc_id") + 10_000_000 * r).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{r}")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # one deterministic shuffle so every k sees the same physical layout
    # shape (k=1 unshuffled vs k=8 unioned would confound the comparison)
    return out.repartition(32, "doc_id").localCheckpoint(eager=True)


def workloads(docs: DataFrame) -> dict:
    return {
        "exact_dup_groups": lambda: D.exact_dup_groups(docs).count(),
        "minhash_lsh_pairs": lambda: D.minhash_lsh_pairs(docs).count(),
        "neardup_clusters": lambda: D.connected_components(
            docs.select("doc_id"), D.minhash_lsh_pairs(docs), id_col="doc_id"
        ).count(),
        "bigram_surprisal": lambda: L.bigram_surprisal(docs).count(),
        "oov_rate": lambda: L.oov_rate(docs, vocab_size=20).count(),
        "repetition_scores": lambda: T.repetition_scores(docs).count(),
        "dsir_importance": lambda: L.dsir_importance(
            docs, F.col("source") == "src0"
        ).count(),
        "bloom_probe": lambda: _bloom_probe(docs),
        # r5 post-freeze: posting lists grow linearly with corpus (term
        # count saturates on replicated text, but posting/tf volume is the
        # cost driver); top-k cut is fixed
        "inverted_index": lambda: T.inverted_index(docs, top_terms=50).count(),
    }


def replicate_embeddings(emb: DataFrame, k: int) -> DataFrame:
    parts = [emb.select("vec_id", "embedding")]
    for r in range(1, k):
        parts.append(
            emb.select(
                (F.col("vec_id") + 10_000_000 * r).alias("vec_id"), "embedding"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "vec_id").localCheckpoint(eager=True)


def replicate_embeddings_perturbed(emb: DataFrame, k: int) -> DataFrame:
    """k DISTINCT copies for the k-center sweep: ids shifted AND component 0
    offset per replica — identical replicas would sit at distance 0 from
    their originals and the farthest-first argmax would tie on duplicates
    (the kernel's documented k ≪ distinct-vectors precondition)."""
    parts = [emb.select("vec_id", "embedding")]
    for r in range(1, k):
        parts.append(
            emb.select(
                (F.col("vec_id") + 10_000_000 * r).alias("vec_id"),
                F.expr(
                    f"transform(embedding, (x, i) -> IF(i = 0,"
                    f" CAST(x + {r} * 0.001 AS FLOAT), x))"
                ).alias("embedding"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "vec_id").localCheckpoint(eager=True)


def replicate_orders_rev(orders: DataFrame, k: int) -> DataFrame:
    """k copies of (o_orderdate, o_totalprice) — holt aggregates by date,
    so replicas scale the per-day sums ×k while the day DOMAIN (and with
    it the fold length) stays fixed: the linear claim is the agg."""
    parts = [orders]
    for _ in range(1, k):
        parts.append(orders)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.localCheckpoint(eager=True)


def replicate_part_edges(part: DataFrame, k: int) -> DataFrame:
    """k disjoint copies of the part containment forest (keys shifted):
    closure size grows exactly k× (disjoint components)."""
    from nilm_data_framework_spark.queries.extra_ops import part_edges

    SHIFT = 100_000_000
    e = part_edges(part)
    parts = [e]
    for r in range(1, k):
        parts.append(
            e.select(
                (F.col("child") + SHIFT * r).alias("child"),
                (F.col("parent") + SHIFT * r).alias("parent"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "child").localCheckpoint(eager=True)


def replicate_events_us(ev: DataFrame, k: int) -> DataFrame:
    """k replicas with distinct users AND per-replica-shifted microsecond
    timestamps, so the embargo split's VALUE SUPPORT (distinct times — the
    input of its one ordered pass) grows k× along with the row count."""
    parts = [ev]
    for r in range(1, k):
        parts.append(
            ev.select(
                (F.col("us") + r).alias("us"),
                (F.col("user_id") + 1_000_000 * r).alias("user_id"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "user_id").localCheckpoint(eager=True)


def extras_workloads(emb: DataFrame, edges: DataFrame, ev: DataFrame) -> dict:
    """r5 post-freeze operators (queries/extra_ops.py constructions)."""
    from nilm_data_framework_spark.operators import embed_stats as ES
    from nilm_data_framework_spark.operators import splits as SP
    from nilm_data_framework_spark.operators.graph import transitive_closure

    return {
        # d fixed → output fixed at d(d+1)/2 rows; cost is the linear scan
        "gram_matrix": lambda: ES.gram_matrix_u6(emb).count(),
        # closure rows grow k× (disjoint forests); rounds fixed at 3
        "transitive_closure": lambda: transitive_closure(edges, rounds=3).count(),
        # support and rows both grow k×; the ordered pass is over support
        "embargo_split": lambda: SP.temporal_embargo_split(
            ev, "us", "user_id"
        ).count(),
    }


def replicate_events_full(ev: DataFrame, k: int) -> DataFrame:
    """k replicas of the full event rows: users/event-ids shifted so the
    per-type windows, per-user lifetimes, and rank windows all see k×
    rows (types fixed — group COUNT stays 5 while group SIZE grows, which
    is the claim for the per-key window family)."""
    parts = [ev]
    for r in range(1, k):
        parts.append(
            ev.select(
                "event_type",
                (F.col("us") + r).alias("us"),
                (F.col("user_id") + 1_000_000 * r).alias("user_id"),
                (F.col("event_id") + 100_000_000 * r).alias("event_id"),
                "v6",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "event_id").localCheckpoint(eager=True)


def replicate_orders_cust(orders: DataFrame, k: int) -> DataFrame:
    """k replicas with shifted custkeys: the Gini rank window's input (one
    row per key) grows k×."""
    parts = [orders]
    for r in range(1, k):
        parts.append(
            orders.select(
                (F.col("o_custkey") + 10_000_000 * r).alias("o_custkey"),
                "o_orderpriority",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "o_custkey").localCheckpoint(eager=True)


def retrieval_workloads(docs: DataFrame, ev: DataFrame, orders: DataFrame) -> dict:
    """r5 retrieval/robustness batch (queries/extra_ops.py constructions)."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators import robust as RB
    from nilm_data_framework_spark.operators.exact_math import ratio_scaled

    def _simpson():
        t = docs.select(
            "source", F.explode(T.tokens(F.col("text"))).alias("tok")
        )
        cnt = t.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("n_i"))
        return cnt.groupBy("source").agg(
            F.sum(F.col("n_i") * (F.col("n_i") - 1)).alias("ssum")
        ).count()

    def _km():
        per = ev.groupBy("user_id").agg(
            F.min("us").alias("first_us"), F.max("us").alias("last_us")
        )
        bound = per.agg(F.max("last_us").alias("end_us"))
        life = per.crossJoin(F.broadcast(bound)).select(
            F.expr("(last_us - first_us) div 3600000000").alias("t_h"),
            F.when(F.col("end_us") - F.col("last_us") < 86_400_000_000, 1)
            .otherwise(0)
            .alias("censored"),
        )
        support = life.groupBy("t_h").agg(
            F.count(F.lit(1)).alias("cnt_all"),
            F.sum(F.lit(1) - F.col("censored")).alias("d"),
        )
        w_desc = (
            Window.orderBy(F.col("t_h").desc())
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return support.select(
            "t_h", "d", F.sum("cnt_all").over(w_desc).alias("n_risk")
        ).where(F.col("d") > 0).count()

    def _footrule():
        w_ts = Window.partitionBy("event_type").orderBy("us", "event_id")
        w_id = Window.partitionBy("event_type").orderBy("event_id")
        ranked = ev.select(
            "event_type",
            F.row_number().over(w_ts).cast("long").alias("rank_ts"),
            F.row_number().over(w_id).cast("long").alias("rank_arrival"),
        )
        return ranked.groupBy("event_type").agg(
            F.sum(F.abs(F.col("rank_ts") - F.col("rank_arrival"))).alias("f")
        ).count()

    def _gini():
        cnt = orders.groupBy(
            F.col("o_orderpriority").alias("priority"), "o_custkey"
        ).agg(F.count(F.lit(1)).cast("long").alias("x"))
        w = Window.partitionBy("priority").orderBy("x", "o_custkey")
        ranked = cnt.select(
            "priority", "x", F.row_number().over(w).cast("long").alias("i")
        )
        return ranked.groupBy("priority").agg(
            ratio_scaled(
                "2 * sum(i * x) - (max(i) + 1) * sum(x)",
                "max(i) * sum(x)",
            ).alias("g")
        ).count()

    def _sax():
        from nilm_data_framework_spark.operators.exact_math import u6_mean_e4
        from nilm_data_framework_spark.operators.scale_windows import (
            bucketed_ntile,
        )

        seg = ev.groupBy(
            "user_id", F.expr("us div 21600000000").alias("seg")
        ).agg(F.sum("v6").alias("s6"), F.count(F.lit(1)).alias("cnt"))
        # mirror the shipped query's r7 shape: bucketed_ntile over the
        # mean_e4 value support (the global-ntile form the window guard
        # now rejects), input checkpointed because the tile build
        # references it thrice
        means = seg.select(
            "user_id", "seg", u6_mean_e4("s6", "cnt").alias("m")
        ).localCheckpoint(eager=True)
        sym = bucketed_ntile(
            means, F.col("m"), [F.col("user_id"), F.col("seg")], 4, out="_t"
        ).select(
            "user_id", "seg",
            F.substring(F.lit("abcd"), F.col("_t").cast("int"), 1).alias("s"),
        )
        w_u = Window.partitionBy("user_id").orderBy("seg")
        words = sym.select(
            F.concat(F.col("s"), F.lead("s", 1).over(w_u),
                     F.lead("s", 2).over(w_u), F.lead("s", 3).over(w_u)
                     ).alias("word")
        ).where(F.col("word").isNotNull())
        return words.groupBy("word").count().count()

    def _coact():
        w_lag = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
        flagged = ev.select(
            "user_id", "event_type", "us",
            F.when(F.lag("us").over(w_lag).isNull()
                   | (F.col("us") - F.lag("us").over(w_lag) > 1_800_000_000), 1)
            .otherwise(0).alias("new_s"),
        )
        w_run = (Window.partitionBy("user_id", "event_type").orderBy("us")
                 .rowsBetween(Window.unboundedPreceding, 0))
        iv = (flagged.withColumn("sid", F.sum("new_s").over(w_run))
              .groupBy("user_id", "event_type", "sid")
              .agg(F.min("us").alias("s"), F.max("us").alias("e")))
        a = iv.select("user_id", F.col("event_type").alias("ta"),
                      F.col("s").alias("sa"), F.col("e").alias("ea"))
        b = iv.select("user_id", F.col("event_type").alias("tb"),
                      F.col("s").alias("sb"), F.col("e").alias("eb"))
        ol = a.join(b, (a["user_id"] == b["user_id"]) & (F.col("ta") < F.col("tb"))
                    & (F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
        return ol.groupBy("ta", "tb").count().count()

    def _rfm():
        from nilm_data_framework_spark.operators.scale_windows import (
            bucketed_ntile,
        )

        # mirror the shipped r6 shape (bucketed_ntile over the freq value
        # support, checkpointed input) — the old global-ntile closure no
        # longer matched the query after the scale-safety rewrite
        per = orders.groupBy("o_custkey").agg(
            F.count(F.lit(1)).cast("long").alias("freq")
        ).localCheckpoint(eager=True)
        scored = bucketed_ntile(
            per,
            F.col("freq"),
            [F.col("freq").desc(), F.col("o_custkey")],
            5,
            descending=True,
            out="f_q",
        )
        return scored.groupBy("f_q").count().count()

    def _vocab_jaccard():
        v = docs.select(
            "source", F.explode(T.tokens(F.col("text"))).alias("tok")
        ).distinct()
        a = v.select(F.col("source").alias("sa"), "tok")
        b = v.select(F.col("source").alias("sb"), "tok")
        return (a.join(b, "tok").where(F.col("sa") < F.col("sb"))
                .groupBy("sa", "sb").count().count())

    return {
        # one ntile support sort + per-user lead windows, then a tiny agg
        "sax_motifs": _sax,
        # gaps-and-islands + user-local interval overlap join
        "pairwise_coactivation": _coact,
        # global quintile sort over |keys| (the documented single-reducer
        # form; rank-from-histogram is the 100 TB swap)
        "rfm_quintile_sort": _rfm,
        # distinct (source, token) reduction + token-keyed pair join
        "source_vocab_jaccard": _vocab_jaccard,
        # per-type windows: group size grows k x (types fixed) -> n log n sort
        "mad_outlier_audit": lambda: RB.mad_outliers(
            ev, ["event_type"], "v6", "event_id"
        ).count(),
        # map-side-combined token aggs, source count fixed
        "simpson_diversity": _simpson,
        # map-only scoring + one count-sized agg
        "bm25_topk": lambda: T.bm25_scores(
            docs, ["vector", "join", "stream"]
        ).count(),
        # user agg + support-sized window (support grows with shifted us)
        "kaplan_meier": _km,
        # two rank windows per type + one agg
        "stream_disorder": _footrule,
        # per-key counts -> per-group rank window over k x keys
        "gini_key_skew": _gini,
    }


def batch17_workloads(docs: DataFrame, ev: DataFrame) -> dict:
    """r5 batch 17-18 shapes (queries/extra_ops.py): exact burst z-test
    (two aggs + a tiny-dim join), p99 lateness (two per-type windows —
    type count FIXED at 5, so group size grows k× and the per-type sort
    is the scaling term), kappa cells (map-only scoring + one agg)."""
    from pyspark.sql import Window

    from nilm_data_framework_spark.operators.text import (
        quality_classifier_score,
        token_count,
    )

    def _burst():
        hourly = ev.groupBy(
            "event_type", F.expr("us div 3600000000").alias("h")
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
            & (
                dev * dev
                > 9 * (F.col("n") * F.col("ss") - F.col("s") * F.col("s"))
            )
        ).count()

    def _late_p99():
        e = ev.select(
            "event_type",
            "us",
            F.expr("us div 600000000").alias("w"),
            (F.col("user_id") % 8).alias("producer"),
            "event_id",
        )
        w_arr = (
            Window.partitionBy("event_type")
            .orderBy("w", "producer", "us", "event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        seq = e.withColumn("seen_max", F.max("us").over(w_arr))
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
        return ranked.groupBy("event_type", "n").agg(
            F.max(
                F.when(F.col("rk") * 100 <= F.col("n") * 99, F.col("late_us"))
            ).alias("p99")
        ).count()

    def _kappa():
        clf = quality_classifier_score(docs).select(
            "doc_id", F.col("keep").cast("int").alias("keep_clf")
        )
        lens = docs.select(
            "doc_id",
            (token_count(F.col("text")) >= 30).cast("int").alias("keep_len"),
        )
        return (
            clf.join(lens, "doc_id")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    (
                        (F.col("keep_clf") == 1) & (F.col("keep_len") == 1)
                    ).cast("long")
                ).alias("n11"),
            )
            .count()
        )

    return {
        # hourly agg (keys grow with time span, fixed here) + 5-row stats join
        "count_burst_hours": _burst,
        # running-max + rank windows over 5 fixed types -> n/5 sort per task
        "late_arrival_p99": _late_p99,
        # map-only classifier + doc_id-keyed join + one global agg
        "kappa_cells": _kappa,
    }


def batch18_workloads(docs: DataFrame, ev: DataFrame, li: DataFrame) -> dict:
    """r5 batch 18-19 shapes (queries/extra_ops.py). Replication keeps the
    hour/value/grid SUPPORTS fixed while row counts grow k×, so each shape's
    claimed scaling term (the one fact-table agg) is what's measured. The
    prefix-filter near-dup joins are deliberately NOT swept: replicas are
    true near-dups of their originals, so the CORRECT output is Θ(k²·n) —
    any lossless join must emit it and the slope would measure the answer,
    not the algorithm (see STRESS.md caveats)."""
    from pyspark.sql import Window

    def _mwu():
        # tag via parity (plan shape of mwu_drift_stat: the split constant
        # is data-config in the registered query)
        tagged = ev.select(
            "event_type", F.col("v6").alias("v"),
            (F.col("us") % 2 == 0).cast("long").alias("ref"),
        )
        pv = tagged.groupBy("event_type", "v").agg(
            F.sum("ref").cast("long").alias("ca"),
            F.sum(F.lit(1) - F.col("ref")).cast("long").alias("cb"),
        )
        w_cum = (
            Window.partitionBy("event_type").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cum = pv.withColumn("cumb", F.sum("cb").over(w_cum).cast("long"))
        return cum.groupBy("event_type").agg(
            F.sum(F.col("ca") * (2 * F.col("cumb") - F.col("cb"))).alias("u2")
        ).count()

    def _emd():
        binned = docs.select("source", F.expr("n_chars div 100").alias("bin"))
        tot = binned.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("c_all"))
        w_all = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
        tot2 = tot.select(
            "bin",
            F.sum("c_all").over(w_all).cast("long").alias("cum_all"),
            F.sum("c_all").over(Window.partitionBy()).cast("long").alias("n_total"),
        )
        srcn = binned.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("ns"))
        per = binned.groupBy("source", "bin").agg(F.count(F.lit(1)).cast("long").alias("c"))
        grid = (
            srcn.crossJoin(tot2)
            .join(per, ["source", "bin"], "left")
            .withColumn("c", F.coalesce(F.col("c"), F.lit(0)))
        )
        w_src = (
            Window.partitionBy("source").orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cums = grid.select(
            "source", "ns", "bin", "cum_all", "n_total",
            F.sum("c").over(w_src).cast("long").alias("cum_s"),
            F.lead("bin").over(Window.partitionBy("source").orderBy("bin")).alias("nxt"),
        )
        term = F.abs(
            F.col("cum_s") * F.col("n_total") - F.col("cum_all") * F.col("ns")
        ) * F.coalesce(F.col("nxt") - F.col("bin"), F.lit(0))
        return cums.groupBy("source").agg(F.sum(term).alias("emd_num")).count()

    def _xcorr():
        hourly = ev.groupBy(
            "event_type", F.expr("us div 3600000000").alias("h")
        ).agg(F.count(F.lit(1)).cast("long").alias("c"))
        lags = hourly.sparkSession.range(0, 13).select(F.col("id").alias("lag"))
        a = hourly.select(
            F.col("event_type").alias("ta"), F.col("h").alias("ha"),
            F.col("c").alias("ca"),
        )
        b = hourly.select(
            F.col("event_type").alias("tb"), F.col("h").alias("hb"),
            F.col("c").alias("cb"),
        )
        x = (
            a.crossJoin(lags)
            .join(b, (F.col("tb") != F.col("ta"))
                  & (F.col("hb") == F.col("ha") + F.col("lag")))
            .groupBy("ta", "tb", "lag")
            .agg(F.sum(F.col("ca") * F.col("cb")).cast("long").alias("xc"))
        )
        w = Window.partitionBy("ta", "tb").orderBy(F.col("xc").desc(), "lag")
        return x.withColumn("rn", F.row_number().over(w)).where(
            F.col("rn") == 1
        ).count()

    def _grid():
        spark = ev.sparkSession
        cells = ev.select(
            (F.col("user_id") % 32).alias("x"),
            F.expr("(us div 3600000000) % 168").alias("y"),
        ).groupBy("x", "y").agg(F.count(F.lit(1)).cast("long").alias("c"))
        xs = spark.range(0, 32).select(F.col("id").alias("x"))
        ys = spark.range(0, 168).select(F.col("id").alias("y"))
        grid = (
            xs.crossJoin(ys).join(cells, ["x", "y"], "left")
            .withColumn("c", F.coalesce(F.col("c"), F.lit(0).cast("long")))
        )
        w_row = Window.partitionBy("y").orderBy("x").rangeBetween(-1, 1)
        w_col = Window.partitionBy("x").orderBy("y").rangeBetween(-1, 1)
        box = grid.withColumn("sx", F.sum("c").over(w_row)).withColumn(
            "box", F.sum("sx").over(w_col).cast("long")
        )
        return box.orderBy(F.col("box").desc(), "x", "y").limit(20).count()

    def _itemsets():
        parts = (
            li.select("l_orderkey", "l_partkey")
            .groupBy("l_orderkey")
            .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps"))
        )
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
        return (
            triples.groupBy("a", "b", "c")
            .agg(F.count(F.lit(1)).cast("long").alias("sup"))
            .groupBy("sup").agg(F.count(F.lit(1)).alias("n"))
            .count()
        )

    def _novelty():
        sg = docs.select(
            "source", F.explode(T.word_ngrams(F.col("text"), 3)).alias("g")
        ).distinct()
        gs = sg.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("ns"))
        return (
            sg.join(gs, "g")
            .groupBy("source")
            .agg(F.sum((F.col("ns") == 1).cast("long")).alias("u"))
            .count()
        )

    return {
        # (type, value)-grouped counts + cumulative window over fixed support
        "mwu_drift": _mwu,
        # two histogram aggs + support-sized cumulative windows
        "emd_length_drift": _emd,
        # one fact hourly agg; lag join fixed at types^2 * hours
        "xcorr_best_lag": _xcorr,
        # one fact cell agg; dense 32x168 grid windows are constant-sized
        "grid_hotspots": _grid,
        # basket agg + HOF triple explosion (baskets grow k x, size bounded)
        "itemset_census": _itemsets,
        # distinct (source, gram) + gram-keyed count (vocab saturates)
        "source_ngram_novelty": _novelty,
    }


def batch26_workloads(ev: DataFrame) -> dict:
    """r5 batch 23-26 shapes: all events-keyed window/agg kernels whose
    claimed scaling term is the per-key sort (keys FIXED at 5 types or
    |users| while group size grows k×) or a linear agg."""
    from pyspark.sql import Window

    def _steady():
        w = Window.partitionBy("user_id", "event_type").orderBy("us", "event_id")
        prev = F.lag("v6").over(w)
        d = ev.withColumn(
            "b",
            F.when(prev.isNull() | (F.abs(F.col("v6") - prev) > 30_000_000), 1)
            .otherwise(0),
        )
        s = d.withColumn(
            "sid",
            F.sum("b").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
        )
        return (
            s.groupBy("user_id", "event_type", "sid")
            .agg(F.count(F.lit(1)).alias("n"))
            .where(F.col("n") >= 3)
            .count()
        )

    def _tukey():
        w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
        w_all = Window.partitionBy("event_type")
        ranked = ev.select(
            "event_type", "v6",
            F.row_number().over(w_rk).alias("rk"),
            F.count(F.lit(1)).over(w_all).alias("n"),
        )
        q = ranked.select(
            "event_type", "v6", "n",
            F.max(F.when(F.col("rk") == F.expr("(n + 3) div 4"), F.col("v6")))
            .over(w_all).alias("q1"),
            F.max(F.when(F.col("rk") == F.expr("(3 * n + 3) div 4"), F.col("v6")))
            .over(w_all).alias("q3"),
        )
        iqr = F.col("q3") - F.col("q1")
        return q.groupBy("event_type").agg(
            F.sum((2 * F.col("v6") < 2 * F.col("q1") - 3 * iqr).cast("long")).alias("lo")
        ).count()

    def _runs():
        w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
        w_n = Window.partitionBy("event_type")
        tagged = ev.select(
            "event_type", "us", "event_id",
            F.when(
                2 * F.row_number().over(w_rk) <= F.count(F.lit(1)).over(w_n), 0
            ).otherwise(1).alias("hi"),
        )
        w_t = Window.partitionBy("event_type").orderBy("us", "event_id")
        prev = F.lag("hi").over(w_t)
        return tagged.select(
            "event_type",
            F.when(prev.isNull() | (prev != F.col("hi")), 1).otherwise(0).alias("nr"),
        ).groupBy("event_type").agg(F.sum("nr").alias("r")).count()

    def _matmul():
        w = Window.partitionBy("user_id").orderBy("us", "event_id")
        seq = ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type").over(w).alias("t2"),
        ).where(F.col("t2").isNotNull())
        trans = seq.groupBy("t1", "t2").agg(F.count(F.lit(1)).alias("tc"))
        um = ev.groupBy("user_id", F.col("event_type").alias("t1")).agg(
            F.count(F.lit(1)).alias("uc")
        )
        return (
            um.join(trans, "t1")
            .groupBy("user_id", "t2")
            .agg(F.sum(F.col("uc") * F.col("tc")).alias("m"))
            .count()
        )

    def _habitual():
        uh = ev.groupBy(
            "user_id", F.expr("(us div 3600000000) % 24").alias("hod")
        ).agg(F.countDistinct(F.expr("us div 86400000000")).alias("n_days"))
        return uh.where(F.col("n_days") >= 5).groupBy("hod").agg(
            F.count(F.lit(1)).alias("u")
        ).count()

    return {
        # channel-keyed lag + running sum + segment agg on one exchange
        "steady_segments": _steady,
        # rank + conditional-max windows + fence agg, one type exchange
        "tukey_fences": _tukey,
        # two windows (rank by value, lag by time) on the same type key
        "runs_test": _runs,
        # lead window + two aggs + inner-dim join (5-key broadcast side)
        "coo_matmul": _matmul,
        # two hash aggs with countDistinct Expand on the first
        "habitual_hours": _habitual,
    }


def replicate_facts(li: DataFrame, orders: DataFrame, k: int):
    """k disjoint copies of the (lineitem, orders) fact pair: ALL keys
    (order, part, supplier) are shifted per replica, so the co-occurrence /
    supplier→part graphs gain k disjoint isomorphic components and the
    sweep-line gains k× intervals — vertex, edge, and interval counts all
    scale linearly with k, which is exactly the claim under test."""
    SHIFT = 100_000_000
    li_parts, o_parts = [li], [orders]
    for r in range(1, k):
        li_parts.append(
            li.select(
                (F.col("l_orderkey") + SHIFT * r).alias("l_orderkey"),
                (F.col("l_partkey") + SHIFT * r).alias("l_partkey"),
                (F.col("l_suppkey") + SHIFT * r).alias("l_suppkey"),
            )
        )
        o_parts.append(
            orders.select(
                (F.col("o_orderkey") + SHIFT * r).alias("o_orderkey"),
                "o_orderpriority", "o_orderdate",
            )
        )
    li_out, o_out = li_parts[0].select("l_orderkey", "l_partkey", "l_suppkey"), (
        o_parts[0].select("o_orderkey", "o_orderpriority", "o_orderdate")
    )
    for p in li_parts[1:]:
        li_out = li_out.unionByName(p)
    for p in o_parts[1:]:
        o_out = o_out.unionByName(p)
    return (
        li_out.repartition(32, "l_orderkey").localCheckpoint(eager=True),
        o_out.repartition(32, "o_orderkey").localCheckpoint(eager=True),
    )


def fact_workloads(li: DataFrame, orders: DataFrame) -> dict:
    """Round-4 families over the replicated facts (mirrors the registered
    queries' constructions: triangle_count_parts / pagerank_step /
    association_rules / concurrency_peaks)."""
    from nilm_data_framework_spark.operators import graph as G
    from nilm_data_framework_spark.operators import windows as W
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )

    def _pair_edges():
        # the SAME kernel the registered queries run (shared impl — the
        # slice arithmetic lives once, in advanced_analytics.py)
        return _copurchase_edges(li)

    def _triangles():
        return G.triangle_count(_pair_edges()).count()

    def _pagerank():
        edges = li.select(
            (F.col("l_suppkey") * 2).alias("src"),
            (F.col("l_partkey") * 2 + 1).alias("dst"),
        ).distinct().localCheckpoint(eager=True)
        return G.pagerank_iteration(edges).count()

    def _assoc_rules():
        return _copurchase_edges(li, support_col="sup").count()

    def _sweepline():
        iv = orders.select(
            "o_orderpriority",
            F.expr("unix_timestamp(o_orderdate) div 86400").alias("s"),
            (
                F.expr("unix_timestamp(o_orderdate) div 86400")
                + (F.col("o_orderkey") % 28) + 1
            ).alias("e"),
        )
        return W.sweepline_concurrency(
            iv, ["o_orderpriority"], start="s", end="e"
        ).count()

    def _common_neighbors():
        return G.common_neighbors_topk(_pair_edges(), k=15).count()

    return {
        "triangle_count_parts": _triangles,
        "pagerank_step": _pagerank,
        "association_rules": _assoc_rules,
        "concurrency_peaks": _sweepline,
        # r5: wedge-join link prediction — replicas add DISJOINT graph
        # components, so wedge volume (Σ deg²) grows linearly with k and
        # the measured slope tests that the self-join cost tracks wedge
        # volume, not |V|²
        "common_neighbors": _common_neighbors,
        # r5 post-freeze: peeling is rounds × linear-in-|E| (disjoint
        # replicas → edge volume grows k×, rounds fixed)
        "kcore_parts": lambda: G.kcore_peel(_pair_edges(), k=2, rounds=3).count(),
    }


def composition_workloads(docs: DataFrame, emb: DataFrame, cust: DataFrame) -> dict:
    """r6 sweep (VERDICT r5 item 7): the retrieval/composition batch plus
    the rewritten scale-safe rank builds. What grows under replication and
    what must stay flat:

    - rrf_fusion: the two corpus passes (token scan, rank reconstruction)
      grow linearly; shortlists stay 128+128. This kernel is ALSO the
      growing stage of rag_retrieval_pipeline — its other stages (fusion,
      MMR) are shortlist-sized by construction (localCheckpoint'd ≤256-row
      frames), so the composed pipeline's slope is bounded by this one plus
      bm25_topk (swept r5, slope ≈ 0).
    - mmr_compose: the per-query shortlist scan (corpus-linear) + the
      shortlist² pair stage + one greedy stage (both fixed-size).
    - set_cover_stages: distinct (source, gram) saturates under replication
      — the anti-join chain must go FLAT, not grow.
    - prefix_audit: posting-mass aggregates are linear in postings even
      though the candidate-mass VALUE they report grows ~k² (the audit
      counts pairs, it never materializes them).
    - padding_waste / lorenz_deciles: the bucketed-rank rewrites — two
      support windows + partitioned row_numbers, linear by design.
    - snm_banded: sorted-neighborhood via bucketed rank + banded self-join;
      replicas get a distinct name PREFIX so they occupy disjoint sort
      regions (rows and bands both grow k×, neighbors stay W=5).
    """
    from nilm_data_framework_spark.operators.embed_stats import u6_components
    from nilm_data_framework_spark.operators.scale_windows import (
        bucketed_global_rank,
        bucketed_ntile,
        exact_ranks_for_candidates,
    )
    from pyspark.sql import Window

    def _rrf():
        base = docs.select(
            "doc_id", "n_chars", T.token_count(F.col("text")).cast("long").alias("n_tok")
        ).localCheckpoint(eager=True)
        cands = (
            base.orderBy(F.col("n_chars").desc(), "doc_id").limit(128)
            .unionByName(base.orderBy(F.col("n_tok").desc(), "doc_id").limit(128))
            .distinct().coalesce(1).localCheckpoint(eager=True)
        )
        rc = exact_ranks_for_candidates(base, cands, "n_chars", "doc_id", out="r1")
        rt = exact_ranks_for_candidates(base, cands, "n_tok", "doc_id", out="r2")
        fused = (
            cands.select("doc_id")
            .join(rc.select("doc_id", "r1"), "doc_id")
            .join(rt.select("doc_id", "r2"), "doc_id")
            .withColumn("rrf", F.expr("1000000 div (60 + r1) + 1000000 div (60 + r2)"))
        )
        w = Window.orderBy(F.col("rrf").desc(), "doc_id")
        return (
            fused.coalesce(1).withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20).count()
        )

    def _mmr():
        c = emb.select(F.col("vec_id").alias("match_id"),
                       u6_components("embedding").alias("c6"))
        q = emb.where(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"), u6_components("embedding").alias("q6"))
        dot_qc = F.aggregate(F.zip_with("q6", "c6", lambda a, b: a * b),
                             F.lit(0).cast("long"), lambda acc, x: acc + x)
        w = Window.partitionBy("query_id").orderBy(F.col("rel").desc(), "match_id")
        short = (
            c.join(F.broadcast(q), F.col("match_id") != F.col("query_id"))
            .withColumn("rel", dot_qc)
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 20)
            .select("query_id", "match_id", "rel", "c6")
            .localCheckpoint(eager=True)
        )
        s_i = short.select("query_id", F.col("match_id").alias("id_i"),
                           F.col("c6").alias("v_i"))
        s_j = short.select("query_id", F.col("match_id").alias("id_j"),
                           F.col("c6").alias("v_j"))
        dot_ij = F.aggregate(F.zip_with("v_i", "v_j", lambda a, b: a * b),
                             F.lit(0).cast("long"), lambda acc, x: acc + x)
        pairs = (s_i.join(s_j, ["query_id"]).where(F.col("id_i") != F.col("id_j"))
                 .withColumn("sim", dot_ij))
        sel = short.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") == 1)
        stage2 = (
            short.join(sel.select("query_id", F.col("match_id").alias("id_j")),
                       "query_id")
            .join(pairs.withColumnRenamed("id_i", "match_id"),
                  ["query_id", "match_id", "id_j"])
            .groupBy("query_id", "match_id").agg(F.max("sim").alias("msim"))
        )
        return stage2.count()

    def _set_cover():
        sg = docs.select(
            "source", F.explode(T.word_ngrams(F.col("text"), 3)).alias("g")
        ).distinct().localCheckpoint(eager=True)
        w = Window.orderBy(F.col("gain").desc(), "source")
        r1 = sg.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("gain"))
        w1 = r1.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
        cov1 = sg.join(w1.select(F.col("source").alias("_s")),
                       F.col("source") == F.col("_s")).select("g")
        r2 = (sg.join(w1.select("source"), "source", "left_anti")
              .join(cov1, "g", "left_anti")
              .groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("gain")))
        return r2.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).count()

    def _padding():
        t = docs.select(
            "doc_id", T.token_count(F.col("text")).cast("long").alias("n_toks")
        ).localCheckpoint(eager=True)
        out = None
        for bucket, order, name in [
            ((F.col("doc_id") / 1024).cast("long"), [F.col("doc_id")], "arrival"),
            (F.col("n_toks"), [F.col("doc_id")], "sorted"),
        ]:
            ranked = bucketed_global_rank(t, bucket, order, out="r")
            b = (ranked.select("n_toks", ((F.col("r") - 1) / 32).cast("long").alias("b"))
                 .groupBy("b").agg(F.max("n_toks").alias("mx"), F.sum("n_toks").alias("sm"),
                                   F.count(F.lit(1)).alias("cnt"))
                 .agg(F.lit(name).alias("d"), F.sum(F.col("mx") * F.col("cnt")).alias("p"),
                      F.sum("sm").alias("s")))
            out = b if out is None else out.unionByName(b)
        return out.count()

    def _lorenz():
        ranked = bucketed_ntile(
            docs.select("n_chars", "doc_id"), F.col("n_chars"),
            [F.col("doc_id")], 10, out="decile")
        return ranked.groupBy("decile").agg(
            F.sum("n_chars").alias("chars"), F.count(F.lit(1)).alias("n")).count()

    def _snm():
        ranked = bucketed_global_rank(
            cust, F.substring("c_name", 1, 15), [F.col("c_name"), F.col("id")],
            out="r").localCheckpoint(eager=True)
        band = ((F.col("r") - 1) / 256).cast("long")
        a = ranked.select(F.col("c_name").alias("na"), F.col("r").alias("ra"),
                          band.alias("band"))
        b_own = ranked.select(F.col("c_name").alias("nb"), F.col("r").alias("rb"),
                              band.alias("band"))
        b_keyed = b_own.unionByName(b_own.withColumn("band", F.col("band") - 1))
        pairs = a.join(b_keyed, "band").where((F.col("rb") - F.col("ra")).between(1, 5))
        return (pairs.select((F.col("rb") - F.col("ra")).alias("w"),
                             F.levenshtein("na", "nb").alias("dist"))
                .groupBy("w").agg(F.sum((F.col("dist") <= 2).cast("long")).alias("m"))
                .count())

    def _prefix_audit():
        # posting-mass audit: grams ranked by rarity, prefix postings only
        toks = docs.select(
            "doc_id", F.explode(T.word_ngrams(F.col("text"), 2)).alias("g"))
        df_ = toks.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("df"))
        posting = toks.join(df_, "g")
        # mass = sum over grams of df*(df-1)/2 for full vs rarest-prefix
        full = posting.groupBy("g").agg(F.max("df").alias("df")).agg(
            F.sum(F.expr("df * (df - 1) div 2")).alias("mass"))
        w = Window.partitionBy("doc_id").orderBy("df", "g")
        pref = (posting.withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= 3)
                .groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("pdf"))
                .agg(F.sum(F.expr("pdf * (pdf - 1) div 2")).alias("mass")))
        return full.unionByName(pref).count()

    return {
        "rrf_shortlist_fusion": _rrf,
        "mmr_compose": _mmr,
        "set_cover_stages": _set_cover,
        "padding_waste_ranks": _padding,
        "lorenz_bucketed_ntile": _lorenz,
        "snm_banded": _snm,
        "prefix_mass_audit": _prefix_audit,
    }


def r6_workloads(docs: DataFrame, ev_full: DataFrame, li: DataFrame,
                 emb: DataFrame) -> dict:
    """r6 query-batch sweep. Growth expectations: winsorized rides one
    keyed exchange (5 fixed types — per-type sort is the n/5 log n term);
    the Q16 census is distinct + anti-join + census aggregates (linear,
    map-side partials); context audit is one scan × a 4-row dim; zipf's
    vocabulary saturates under replication (support fixed, counts grow);
    norm drift is one array-fold + join + agg. The cluster-diameter audit
    is EXCLUDED for the same reason as the near-dup joins (replicas are
    true near-dups — output is Θ(k²n) by definition)."""
    from nilm_data_framework_spark.operators.embed_stats import u6_components
    from nilm_data_framework_spark.operators.scale_windows import (
        bucketed_global_rank,
    )
    from pyspark.sql import Window

    def _winsorized():
        w_rk = Window.partitionBy("event_type").orderBy("v6", "event_id")
        w_all = Window.partitionBy("event_type")
        ranked = ev_full.select(
            "event_type", "v6",
            F.row_number().over(w_rk).alias("rk"),
            F.count(F.lit(1)).over(w_all).alias("n"))
        q = ranked.select(
            "event_type", "v6", "n",
            F.max(F.when(F.col("rk") == F.expr("(5 * n + 99) div 100"),
                         F.col("v6"))).over(w_all).alias("p05"),
            F.max(F.when(F.col("rk") == F.expr("(95 * n + 99) div 100"),
                         F.col("v6"))).over(w_all).alias("p95"))
        return q.groupBy("event_type").agg(
            F.sum(F.least(F.greatest(F.col("v6"), F.col("p05")),
                          F.col("p95"))).alias("s")).count()

    def _census():
        ps = li.select(F.col("l_partkey").alias("pk"),
                       F.col("l_suppkey").alias("sk")).distinct()
        r = li.groupBy(F.col("l_suppkey").alias("sk")).agg(
            F.count(F.lit(1)).cast("long").alias("cr"))
        tot = r.agg(F.sum("cr").alias("t"), F.count(F.lit(1)).alias("ns"))
        bad = (r.crossJoin(F.broadcast(tot))
               .filter(F.col("cr") * F.col("ns") * 10 > F.col("t") * 11)
               .select("sk"))
        return (ps.join(bad, "sk", "left_anti")
                .groupBy((F.col("pk") % 25).alias("b"))
                .agg(F.countDistinct("sk").alias("c")).count())

    def _context():
        t = docs.select(T.token_count(F.col("text")).cast("long").alias("n_toks"))
        ctx = t.sparkSession.createDataFrame([(32,), (48,), (64,), (96,)],
                                             "ctx_len long")
        return t.crossJoin(F.broadcast(ctx)).groupBy("ctx_len").agg(
            F.sum(F.greatest(F.col("n_toks") - F.col("ctx_len"),
                             F.lit(0))).alias("tr")).count()

    def _zipf():
        vocab = (docs.select(F.explode(T.tokens(F.col("text"))).alias("tok"))
                 .groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("c")))
        ranked = bucketed_global_rank(vocab, F.col("c"), [F.col("tok")],
                                      descending=True, out="rank")
        return ranked.filter(F.col("rank") <= 100).count()

    def _norms():
        norm2 = F.aggregate(u6_components("embedding"), F.lit(0).cast("long"),
                            lambda acc, x: acc + x * x)
        return (emb.select(norm2.alias("n2"), (F.col("vec_id") % 20).alias("src"))
                .groupBy("src").agg(F.sum("n2").alias("s")).count())

    return {
        "winsorized_mean": _winsorized,
        "q16_census": _census,
        "context_overflow": _context,
        "zipf_rank": _zipf,
        "norm_drift": _norms,
    }


def replicate_customers(cust: DataFrame, k: int) -> DataFrame:
    """k distinct name regions: replica r gets a 2-digit name prefix, so the
    sort order gains k disjoint segments (rows and bands grow, neighborhood
    width stays 5)."""
    parts = [cust.select(F.col("c_custkey").alias("id"), "c_name")]
    for r in range(1, k):
        parts.append(cust.select(
            (F.col("c_custkey") + 3_000_000 * r).alias("id"),
            F.concat(F.lit(f"{r:02d}-"), F.col("c_name")).alias("c_name")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(32, "id").localCheckpoint(eager=True)


def r8c_workloads(
    docs: DataFrame, li: DataFrame, emb: DataFrame, ev_full: DataFrame
) -> dict:
    """r8 third-batch kernels. The winnowing PAIR stage is deliberately
    NOT swept on replicas: replicas are true near-dups of their originals,
    so the correct pair output is Θ(k²·dup-groups) and the slope would
    measure the ANSWER, not the algorithm (the r5 lossless-join lesson);
    pair correctness is proven by oracle equality instead. The fingerprint
    SELECTION stage (per-row HOFs + one explode) is the linear claim.
    Spearman is not swept separately — it is two invocations of the
    already-swept bucketed_global_rank kernel (rfm/lorenz entries)."""
    from nilm_data_framework_spark.operators import graph as G
    from nilm_data_framework_spark.operators import similarity as S
    from nilm_data_framework_spark.queries.advanced_analytics import (
        _copurchase_edges,
    )
    from pyspark.sql import Window

    def _apriori():
        # the registered query's kernel: join-based wedges + the
        # PAIR-LEVEL Apriori semi-join prune (see apriori_triples' inline
        # note), over the replicated order baskets
        opx = li.select("l_orderkey", "l_partkey").distinct()
        a = opx.select(F.col("l_orderkey").alias("bk"), F.col("l_partkey").alias("p1"))
        b = opx.select(F.col("l_orderkey").alias("_bk2"), F.col("l_partkey").alias("p2"))
        c = opx.select(F.col("l_orderkey").alias("_bk3"), F.col("l_partkey").alias("p3"))
        wedges = a.join(
            b, (F.col("bk") == F.col("_bk2")) & (F.col("p1") < F.col("p2"))
        )
        fp2 = (
            wedges.groupBy("p1", "p2")
            .agg(F.count(F.lit(1)).alias("_c"))
            .where(F.col("_c") >= 2)
            .select("p1", "p2")
        )
        return (
            wedges.join(fp2, ["p1", "p2"], "left_semi")
            .join(c, (F.col("bk") == F.col("_bk3")) & (F.col("p2") < F.col("p3")))
            .groupBy("p1", "p2", "p3")
            .agg(F.count(F.lit(1)).alias("c"))
            .where(F.col("c") >= 2)
            .count()
        )

    def _maxsim():
        q = emb.where(F.col("vec_id") < 6).select(
            F.expr("vec_id div 3").alias("query_id"),
            (F.col("vec_id") % 3).alias("tok"),
            F.col("embedding").alias("qv"),
        )
        d = emb.select(
            F.expr("vec_id div 4").alias("mdoc_id"),
            F.col("embedding").alias("dv"),
        )
        dots = (
            d.crossJoin(F.broadcast(q))
            .select(
                "query_id", "tok", "mdoc_id",
                S.dot(F.col("qv"), F.col("dv")).alias("dp"),
            )
            .groupBy("query_id", "tok", "mdoc_id")
            .agg(F.max("dp").alias("mx"))
        )
        sc = dots.groupBy("query_id", "mdoc_id").agg(
            (
                F.max(F.when(F.col("tok") == 0, F.col("mx")))
                + F.max(F.when(F.col("tok") == 1, F.col("mx")))
                + F.max(F.when(F.col("tok") == 2, F.col("mx")))
            ).alias("score")
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), "mdoc_id"
        )
        return (
            sc.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .count()
        )

    def _bitemporal():
        ev = ev_full.select(
            "user_id", "event_id", F.col("us").alias("tt_us"),
            (F.col("us") - (F.col("event_id") % 5) * F.lit(3_600_000_000))
            .alias("vt_us"),
            "v6",
        )
        bounds = ev.agg(
            F.min("tt_us").alias("t0"), F.max("tt_us").alias("t1")
        ).select(
            "t0", "t1", F.expr("t0 + ((t1 - t0) * 3) div 5").alias("tx_cut")
        )
        probes = bounds.select(
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3)])).alias("f"),
            "t0", "t1",
        ).select(
            F.col("f").alias("probe_idx"),
            F.expr("t0 + ((t1 - t0) * f) div 4").alias("vt_probe_us"),
        )
        known = ev.crossJoin(F.broadcast(bounds.select("tx_cut"))).where(
            F.col("tt_us") <= F.col("tx_cut")
        )
        cand = known.join(
            F.broadcast(probes), F.col("vt_us") <= F.col("vt_probe_us")
        )
        w = Window.partitionBy("user_id", "probe_idx").orderBy(
            F.col("vt_us").desc(), F.col("tt_us").desc(),
            F.col("event_id").desc(),
        )
        return (
            cand.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .count()
        )

    def _iv_frame():
        return ev_full.select(
            "user_id",
            "event_id",
            F.col("us").alias("s"),
            (F.col("us") + (F.col("event_id") % 7 + 1) * F.lit(60_000_000))
            .alias("e"),
        )

    def _coalesce_recompute():
        from nilm_data_framework_spark.operators.windows import (
            interval_coalesce,
        )

        return interval_coalesce(_iv_frame(), ["user_id"]).count()

    # fold seeds built + checkpointed OUTSIDE the timed thunk (they are
    # the persisted state, paid once per history); the timed fold is
    # (weighted seed islands ∪ fixed ~25% batch) through the same kernel.
    # Compared against interval_recompute, this is the per-ingest claim:
    # the fold's window input is islands + batch, never the event history
    # (at this fixture's ~3:1 events:islands ratio the win is the
    # constant; at 100 TB histories it is the point).
    from nilm_data_framework_spark.operators.windows import interval_coalesce

    _iv_all = _iv_frame()
    _fold_seeds = interval_coalesce(
        _iv_all.where(F.col("event_id") % 4 != 0), ["user_id"]
    ).select(
        "user_id",
        (-F.col("island")).cast("long").alias("event_id"),
        F.col("island_s").alias("s"),
        F.col("island_e").alias("e"),
        F.col("n_raw_in").alias("w"),
    ).localCheckpoint(eager=True)
    _fold_batch = _iv_all.where(F.col("event_id") % 4 == 0).select(
        "user_id", "event_id", "s", "e", F.lit(1).cast("long").alias("w")
    ).localCheckpoint(eager=True)

    def _coalesce_fold():
        return interval_coalesce(
            _fold_seeds.unionByName(_fold_batch), ["user_id"], weight="w"
        ).count()

    return {
        "winnowing_fps": lambda: D.winnowing_fingerprints(docs).count(),
        "ra_linkpred": lambda: G.resource_allocation_topk(
            _copurchase_edges(li), k=15
        ).count(),
        "apriori_triples": _apriori,
        "maxsim_score": _maxsim,
        "bitemporal_pit": _bitemporal,
        "interval_recompute": _coalesce_recompute,
        "interval_fold": _coalesce_fold,
    }


def screen_workloads(docs: DataFrame, spark) -> dict:
    """Incremental near-dup screen of a FIXED batch against a k×-growing
    reference corpus, both ways. The claim under test: the on-the-fly
    screen re-shingles the whole corpus per ingest (cost grows with k),
    while the persisted layout pays corpus-sized work ONCE at write time
    and the per-batch screen then touches only the batch + matching
    buckets (cost ~flat in k). The write is excluded from the screen
    timing — it is the amortized once-per-corpus cost."""
    # batch = a fixed slice of the ORIGINAL replica only (ids < 10M), so it
    # does not grow with k; the reference is everything else (grows ~k×)
    batch = docs.filter(
        (F.col("doc_id") < 10_000_000) & (F.col("doc_id") % 97 == 0)
    ).localCheckpoint(eager=True)
    ref = docs.filter(
        (F.col("doc_id") >= 10_000_000) | (F.col("doc_id") % 97 != 0)
    )
    prefix = "stress_lsh_ref"
    # new k => new reference corpus: invalidate the commit marker so the
    # screen can never run against a PREVIOUS k's persisted layout (matters
    # under --only filtering, where the write workload itself is skipped)
    spark.sql(f"DROP TABLE IF EXISTS {prefix}_meta")

    def _write_ref():
        import shutil
        import tempfile

        from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

        # pid-keyed + dead-owner reaping (concurrency-safe, unlike a fixed
        # shared dir) and cleared before each write — mkdtemp-per-call
        # would orphan the previous corpus-sized external tables every
        # time overwrite re-points the catalog entry (3 calls per k)
        path = pid_scratch_dir(
            os.path.join(tempfile.gettempdir(), "stress_lsh_ref_data"), "ref_"
        )
        shutil.rmtree(path, ignore_errors=True)
        D.write_lsh_reference(ref, prefix, buckets=16, path=path)
        return 0

    def _persisted():
        # self-healing under --only filtering: the screen depends on the
        # write having run at the CURRENT k's corpus (the write is its own
        # timed workload when unfiltered)
        if not spark.catalog.tableExists(f"{prefix}_meta"):
            _write_ref()
        return D.minhash_lsh_join_reference(batch, prefix).count()

    def _onthefly():
        return D.minhash_lsh_join(batch, ref).count()

    return {
        "incremental_screen_onthefly": _onthefly,
        "_lsh_ref_write": _write_ref,  # timed but reported for context only
        "incremental_screen_persisted": _persisted,
    }


def _bloom_probe(docs: DataFrame) -> int:
    """Bloom decontamination shape: build on the 1-in-40 eval slice's
    3-grams, probe the train slice. The probe side grows with k (linear
    claim); the bit table is capped at m rows by construction."""
    grams = docs.filter(F.col("doc_id") % 40 != 0).select(
        "doc_id", F.explode(T.word_ngrams(F.col("text"), 3)).alias("g")
    )
    eval_grams = (
        docs.filter(F.col("doc_id") % 40 == 0)
        .select(F.explode(T.word_ngrams(F.col("text"), 3)).alias("g"))
        .distinct()
    )
    bits = SK.bloom_build(eval_grams, "g", m=4096, k=3)
    # word_ngrams is per-doc distinct, so (doc_id, g) rows are unique by
    # construction — take the fast path (the countDistinct default is ~2x
    # slower and would skew comparison against the r4 baselines)
    return SK.bloom_probe_docs(
        grams, bits, ["doc_id"], "g", m=4096, k=3, distinct_grams=True
    ).count()


def main() -> None:
    # args: replication factors (ints) and/or --only=name1,name2
    only: set[str] | None = None
    ks = []
    for a in sys.argv[1:]:
        if a.startswith("--only="):
            only = set(a.split("=", 1)[1].split(","))
        else:
            ks.append(int(a))
    ks = ks or [1, 2, 4, 8]
    spark = get_session(app_name="stress-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    base = load_table(spark, SF_DIR, "documents", parallelize=True)
    base.count()  # warm scan

    li_base = load_table(spark, SF_DIR, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    orders_base = load_table(spark, SF_DIR, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    emb_base = load_table(spark, SF_DIR, "embeddings", parallelize=True)
    part_base = load_table(spark, SF_DIR, "part").select("p_partkey")
    ev_base = load_table(spark, SF_DIR, "events").select(
        F.unix_micros("ts").alias("us"), "user_id"
    )
    ev_full_base = load_table(spark, SF_DIR, "events").select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        "user_id",
        "event_id",
        F.floor(F.col("value").cast("double") * 1000000).cast("long").alias("v6"),
    )
    orders_cust_base = load_table(spark, SF_DIR, "orders").select(
        "o_custkey", "o_orderpriority"
    )

    results: dict[str, list[tuple[int, float]]] = {}
    for k in ks:
        ev_full = None
        docs = replicate(base, k)
        n = docs.count()
        li, orders = replicate_facts(li_base, orders_base, k)
        n_li = li.count()
        sized = [
            (workloads(docs), n),
            (fact_workloads(li, orders), n_li),
            (screen_workloads(docs, spark), n),
        ]
        retrieval_names = {
            "mad_outlier_audit", "simpson_diversity", "bm25_topk",
            "kaplan_meier", "stream_disorder", "gini_key_skew",
            "sax_motifs", "pairwise_coactivation", "rfm_quintile_sort",
            "source_vocab_jaccard",
        }
        if only is None or only & retrieval_names:
            ev_full = replicate_events_full(ev_full_base, k)
            orders_cust = replicate_orders_cust(orders_cust_base, k)
            rw = retrieval_workloads(docs, ev_full, orders_cust)
            n_ev = ev_full.count()
            n_oc = orders_cust.count()
            for name, rows_in in (
                ("mad_outlier_audit", n_ev),
                ("simpson_diversity", n),
                ("bm25_topk", n),
                ("kaplan_meier", n_ev),
                ("stream_disorder", n_ev),
                ("gini_key_skew", n_oc),
                ("sax_motifs", n_ev),
                ("pairwise_coactivation", n_ev),
                ("rfm_quintile_sort", n_oc),
                ("source_vocab_jaccard", n),
            ):
                sized.append(({name: rw[name]}, rows_in))
        b17_names = {"count_burst_hours", "late_arrival_p99", "kappa_cells"}
        if only is None or only & b17_names:
            # reuse the retrieval block's checkpointed replica when present
            if ev_full is None:
                ev_full = replicate_events_full(ev_full_base, k)
            b17 = batch17_workloads(docs, ev_full)
            n_ev17 = ev_full.count()
            for name, rows_in in (
                ("count_burst_hours", n_ev17),
                ("late_arrival_p99", n_ev17),
                ("kappa_cells", n),
            ):
                sized.append(({name: b17[name]}, rows_in))
        b18_names = {
            "mwu_drift", "emd_length_drift", "xcorr_best_lag",
            "grid_hotspots", "itemset_census", "source_ngram_novelty",
        }
        if only is None or only & b18_names:
            if ev_full is None:
                ev_full = replicate_events_full(ev_full_base, k)
            b18 = batch18_workloads(docs, ev_full, li)
            n_ev18 = ev_full.count()
            for name, rows_in in (
                ("mwu_drift", n_ev18),
                ("emd_length_drift", n),
                ("xcorr_best_lag", n_ev18),
                ("grid_hotspots", n_ev18),
                ("itemset_census", n_li),
                ("source_ngram_novelty", n),
            ):
                sized.append(({name: b18[name]}, rows_in))
        b26_names = {
            "steady_segments", "tukey_fences", "runs_test",
            "coo_matmul", "habitual_hours",
        }
        if only is None or only & b26_names:
            if ev_full is None:
                ev_full = replicate_events_full(ev_full_base, k)
            b26 = batch26_workloads(ev_full)
            n_ev26 = ev_full.count()
            for name in (
                "steady_segments", "tukey_fences", "runs_test",
                "coo_matmul", "habitual_hours",
            ):
                sized.append(({name: b26[name]}, n_ev26))
        comp_names = {
            "rrf_shortlist_fusion", "mmr_compose", "set_cover_stages",
            "padding_waste_ranks", "lorenz_bucketed_ntile", "snm_banded",
            "prefix_mass_audit",
        }
        if only is None or only & comp_names:
            emb_c = replicate_embeddings(emb_base, k)
            cust_c = replicate_customers(
                load_table(spark, SF_DIR, "customer").select("c_custkey", "c_name"),
                k,
            )
            comp = composition_workloads(docs, emb_c, cust_c)
            n_emb = emb_c.count()
            n_cust = cust_c.count()
            for name, rows_in in (
                ("rrf_shortlist_fusion", n),
                ("mmr_compose", n_emb),
                ("set_cover_stages", n),
                ("padding_waste_ranks", n),
                ("lorenz_bucketed_ntile", n),
                ("snm_banded", n_cust),
                ("prefix_mass_audit", n),
            ):
                sized.append(({name: comp[name]}, rows_in))
        r6_names = {
            "winsorized_mean", "q16_census", "context_overflow",
            "zipf_rank", "norm_drift",
        }
        if only is None or only & r6_names:
            if ev_full is None:
                ev_full = replicate_events_full(ev_full_base, k)
            emb_r6 = replicate_embeddings(emb_base, k)
            r6 = r6_workloads(docs, ev_full, li, emb_r6)
            n_ev_r6 = ev_full.count()
            for name, rows_in in (
                ("winsorized_mean", n_ev_r6),
                ("q16_census", n_li),
                ("context_overflow", n),
                ("zipf_rank", n),
                ("norm_drift", emb_r6.count()),
            ):
                sized.append(({name: r6[name]}, rows_in))
        r8c_names = {
            "winnowing_fps", "ra_linkpred", "apriori_triples",
            "maxsim_score", "bitemporal_pit",
            "interval_recompute", "interval_fold",
        }
        if only is None or only & r8c_names:
            if ev_full is None:
                ev_full = replicate_events_full(ev_full_base, k)
            emb_r8c = replicate_embeddings(emb_base, k)
            r8c = r8c_workloads(docs, li, emb_r8c, ev_full)
            n_ev_r8c = ev_full.count()
            for name, rows_in in (
                ("winnowing_fps", n),
                ("ra_linkpred", n_li),
                ("apriori_triples", n_li),
                ("maxsim_score", emb_r8c.count()),
                ("bitemporal_pit", n_ev_r8c),
                ("interval_recompute", n_ev_r8c),
                ("interval_fold", n_ev_r8c),
            ):
                sized.append(({name: r8c[name]}, rows_in))
        r9b_names = {"kcenter_rounds", "bpe_train", "best_passage", "holt_fold"}
        if only is None or only & r9b_names:
            from nilm_data_framework_spark.queries import extra_ops_r9b as R9B

            emb_pert = replicate_embeddings_perturbed(emb_base, k)
            orders_rep = replicate_orders_rev(
                load_table(spark, SF_DIR, "orders").select(
                    "o_orderdate", "o_totalprice"
                ),
                k,
            )
            n_embp = emb_pert.count()
            n_or = orders_rep.count()
            r9b = {
                # kernels are shared with the registered queries (frame-level
                # entry points); the eager checkpoints inside kcenter/bpe
                # mean construction itself does the work — the lambda times
                # the whole loop
                "kcenter_rounds": lambda: R9B._kcenter_kernel(emb_pert).count(),
                "bpe_train": lambda: R9B._bpe_train_frames(docs)[1].count(),
                "best_passage": lambda: R9B._passage_kernel(docs).count(),
                "holt_fold": lambda: R9B._holt_kernel(orders_rep).count(),
            }
            for name, rows_in in (
                ("kcenter_rounds", n_embp),
                ("bpe_train", n),
                ("best_passage", n),
                ("holt_fold", n_or),
            ):
                sized.append(({name: r9b[name]}, rows_in))
        bm25_idx_names = {
            "bm25_index_write", "bm25_index_probe",
            "bm25_index_append_fixed", "bm25_index_append_kbatch",
        }
        if only is None or only & bm25_idx_names:
            # r6 verdict item 6: the persisted BM25 index family, swept the
            # way the r5 retrieval batch was. Claims under test:
            #   write  ~ corpus (one tokenize+agg pass, slope ~1)
            #   probe  ~ flat   (partition pruning: only the 3 query-term
            #                    dirs read; their postings grow with corpus
            #                    but stay a sliver of it)
            #   append(fixed batch) ~ flat in EXISTING corpus size (append
            #                    never reads existing postings — only the
            #                    1-row stats table)
            #   append(k-scaled batch) ~ batch size (slope ~1)
            # plus the file-count audit of the PINNED repartition(n, "term")
            # writer claim (one file per term dir per write).
            import glob
            import tempfile

            from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

            terms = ["vector", "join", "stream"]
            fixed_batch = base.select(
                (F.col("doc_id") + 90_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars",
            ).filter(F.col("doc_id") % 10 == 7).localCheckpoint(eager=True)
            # +200M keeps kbatch ids disjoint from fixed_batch's +90M for
            # every replica shift (+10M·r, r<8) — append_bm25_batch's
            # disjoint-doc_id precondition, which +80M violated at k>=2
            # (base+10M+80M collided with base+90M)
            kbatch = docs.select(
                (F.col("doc_id") + 200_000_000).alias("doc_id"), "text",
                "lang", "source", "n_chars",
            ).filter(F.col("doc_id") % 10 == 7).localCheckpoint(eager=True)
            n_fixed = fixed_batch.count()
            n_kb = kbatch.count()
            stage_secs: dict[str, list[float]] = {}
            audit = {}
            for rep in (0, 1):
                p = pid_scratch_dir(
                    os.path.join(tempfile.gettempdir(), "nilm_spark_bm25_sweep"),
                    f"idx_k{k}_r{rep}_",
                )
                t0 = time.perf_counter()
                T.write_bm25_index(docs, p)
                stage_secs.setdefault("bm25_index_write", []).append(
                    time.perf_counter() - t0
                )
                if rep == 0:
                    dirs = glob.glob(os.path.join(p, "postings", "term=*"))
                    per_dir = [
                        len(glob.glob(os.path.join(d, "*.parquet")))
                        for d in dirs
                    ]
                    audit["write"] = {
                        "term_dirs": len(dirs),
                        "files": sum(per_dir),
                        "max_files_per_dir": max(per_dir) if per_dir else 0,
                    }
                t0 = time.perf_counter()
                T.append_bm25_batch(fixed_batch, p)
                stage_secs.setdefault("bm25_index_append_fixed", []).append(
                    time.perf_counter() - t0
                )
                t0 = time.perf_counter()
                T.append_bm25_batch(kbatch, p)
                stage_secs.setdefault("bm25_index_append_kbatch", []).append(
                    time.perf_counter() - t0
                )
                if rep == 0:
                    dirs = glob.glob(os.path.join(p, "postings", "term=*"))
                    per_dir = [
                        len(glob.glob(os.path.join(d, "*.parquet")))
                        for d in dirs
                    ]
                    audit["after_appends"] = {
                        "term_dirs": len(dirs),
                        "files": sum(per_dir),
                        "max_files_per_dir": max(per_dir) if per_dir else 0,
                    }
                probe = lambda: T.bm25_topk_indexed(spark, p, terms, 20).count()  # noqa: E731
                probe()  # warm
                for _ in range(2):
                    t0 = time.perf_counter()
                    probe()
                    stage_secs.setdefault("bm25_index_probe", []).append(
                        time.perf_counter() - t0
                    )
                # bound /tmp to one layout at a time: a full default sweep
                # otherwise parks 8 replicated-corpus indexes that
                # pid_scratch_dir only reaps on a later byte-identical
                # prefix call
                import shutil

                shutil.rmtree(p, ignore_errors=True)
            for name, rows_in in (
                ("bm25_index_write", n),
                ("bm25_index_probe", n),
                ("bm25_index_append_fixed", n),  # x = EXISTING corpus
                ("bm25_index_append_kbatch", n_kb),  # x = batch size
            ):
                sec = min(stage_secs[name])
                results.setdefault(name, []).append((rows_in, sec))
                print(json.dumps({
                    "query": name, "k": k, "corpus_rows": rows_in,
                    "result_rows": (n_fixed if "fixed" in name
                                    else n_kb if "kbatch" in name else 20),
                    "sec": round(sec, 3),
                }))
            print(json.dumps({"query": "bm25_index_files", "k": k, **audit}))

        rag_p_names = {"rag_persisted_build", "rag_persisted_serve"}
        if only is None or only & rag_p_names:
            # r7: the composed RAG pipeline over the persisted indexes, in
            # its two phases. build = quality gate + BOTH index writes +
            # first serve (the cost the registered query pays); serve =
            # probe-only against the existing layouts (production: writes
            # amortize). Expected: serve ~linear with a small constant —
            # the pruned probes are flat, but the id-only zero-fill and
            # the exact-rel layout pass are (narrow) corpus passes demanded
            # by the exact fusion-rank contract (see
            # queries/extra_ops_r7.py's 100 TB note).
            from nilm_data_framework_spark.queries.extra_ops_r7 import (
                build_rag_indexes,
                rag_persisted_pipeline,
            )

            emb_rp = replicate_embeddings(emb_base, k)
            t0 = time.perf_counter()
            index = build_rag_indexes(spark, docs, emb_rp)
            rag_persisted_pipeline(spark, emb_rp, **index)["result"].count()
            build_sec = time.perf_counter() - t0
            serve = lambda: rag_persisted_pipeline(  # noqa: E731
                spark, emb_rp, **index
            )["result"].count()
            serve()  # warm
            times = []
            for _ in range(2):
                t0 = time.perf_counter()
                rows = serve()
                times.append(time.perf_counter() - t0)
            for name, sec, rr in (
                ("rag_persisted_build", build_sec, 5),
                ("rag_persisted_serve", min(times), rows),
            ):
                results.setdefault(name, []).append((n, sec))
                print(json.dumps({"query": name, "k": k, "corpus_rows": n,
                                  "result_rows": rr, "sec": round(sec, 3)}))
            import shutil

            shutil.rmtree(index["bm_path"], ignore_errors=True)
            shutil.rmtree(index["ivf_path"], ignore_errors=True)

        lc_names = {
            "bm25_delete_fixed", "bm25_rebuild_survivors", "bm25_compact",
            "ivf_delete_onelist", "ivf_rebuild_survivors",
        }
        if only is None or only & lc_names:
            # r8b: persisted-index lifecycle maintenance. Claims under test:
            #   bm25_delete_fixed — copy-on-write delete of a FIXED erasure
            #     batch: one locating scan + rewrite of affected term
            #     partitions. Common terms' partitions grow with the corpus,
            #     so the honest claim is NOT flatness — it is that delete
            #     costs materially less than the from-scratch rebuild
            #     (bm25_rebuild_survivors) at every k; compare the two rows.
            #   bm25_compact — full keyed rewrite by design: slope ~1.
            #   ivf_delete_onelist — erasing every vector of ONE of 16
            #     lists rewrites nothing (the emptied dir is dropped), vs
            #     ivf_rebuild_survivors re-assigning and re-writing all 15.
            # Deletes MUTATE the layout, so each rep rebuilds it; secs are
            # min over 2 full cycles.
            import shutil
            import tempfile

            from nilm_data_framework_spark.operators import similarity as SIM
            from nilm_data_framework_spark.operators.index_maintenance import (
                compact_bm25_postings,
                delete_bm25_docs,
                delete_ivf_vecs,
            )
            from nilm_data_framework_spark.tmpdirs import pid_scratch_dir

            # fixed 1-in-50 erasure set from the BASE ids only, so the batch
            # stays constant while the corpus replicates
            del_ids = (
                base.filter(F.col("doc_id") % 50 == 3)
                .select("doc_id")
                .localCheckpoint(eager=True)
            )
            surv = docs.join(
                F.broadcast(del_ids), "doc_id", "anti"
            ).localCheckpoint(eager=True)
            lc_secs: dict[str, list[float]] = {}
            for rep in (0, 1):
                p = pid_scratch_dir(
                    os.path.join(tempfile.gettempdir(), "nilm_spark_lc_sweep"),
                    f"idx_k{k}_r{rep}_",
                )
                T.write_bm25_index(docs, p)
                t0 = time.perf_counter()
                delete_bm25_docs(spark, p, del_ids)
                lc_secs.setdefault("bm25_delete_fixed", []).append(
                    time.perf_counter() - t0
                )
                t0 = time.perf_counter()
                compact_bm25_postings(spark, p)
                lc_secs.setdefault("bm25_compact", []).append(
                    time.perf_counter() - t0
                )
                shutil.rmtree(p, ignore_errors=True)
                p2 = pid_scratch_dir(
                    os.path.join(tempfile.gettempdir(), "nilm_spark_lc_sweep"),
                    f"reb_k{k}_r{rep}_",
                )
                t0 = time.perf_counter()
                T.write_bm25_index(surv, p2)
                lc_secs.setdefault("bm25_rebuild_survivors", []).append(
                    time.perf_counter() - t0
                )
                shutil.rmtree(p2, ignore_errors=True)
            emb_lc = replicate_embeddings(emb_base, k)
            n_emb_lc = emb_lc.count()
            cents_lc = SIM.sample_centroids(emb_lc, 16)
            onelist = (
                SIM.assign_centroids(emb_lc, cents_lc)
                .filter(F.col("cid") == 0)
                .select("vec_id")
                .localCheckpoint(eager=True)
            )
            surv_emb = emb_lc.join(
                F.broadcast(onelist), "vec_id", "anti"
            ).localCheckpoint(eager=True)
            for rep in (0, 1):
                pv = pid_scratch_dir(
                    os.path.join(tempfile.gettempdir(), "nilm_spark_lc_sweep"),
                    f"ivf_k{k}_r{rep}_",
                )
                SIM.write_ivf_corpus(emb_lc, pv, cents_lc)
                t0 = time.perf_counter()
                delete_ivf_vecs(spark, pv, onelist)
                lc_secs.setdefault("ivf_delete_onelist", []).append(
                    time.perf_counter() - t0
                )
                shutil.rmtree(pv, ignore_errors=True)
                pv2 = pid_scratch_dir(
                    os.path.join(tempfile.gettempdir(), "nilm_spark_lc_sweep"),
                    f"ivfreb_k{k}_r{rep}_",
                )
                t0 = time.perf_counter()
                SIM.write_ivf_corpus(surv_emb, pv2, cents_lc)
                lc_secs.setdefault("ivf_rebuild_survivors", []).append(
                    time.perf_counter() - t0
                )
                shutil.rmtree(pv2, ignore_errors=True)
            for name, rows_in in (
                ("bm25_delete_fixed", n),
                ("bm25_compact", n),
                ("bm25_rebuild_survivors", n),
                ("ivf_delete_onelist", n_emb_lc),
                ("ivf_rebuild_survivors", n_emb_lc),
            ):
                sec = min(lc_secs[name])
                results.setdefault(name, []).append((rows_in, sec))
                print(json.dumps({
                    "query": name, "k": k, "corpus_rows": rows_in,
                    "sec": round(sec, 3),
                }))

        r8_names = {"pagerank_iters", "entity_clusters", "stratified_split"}
        if only is None or only & r8_names:
            # r8 kernels. pagerank: k disjoint copies of the bipartite
            # supplier-part graph (keys shifted per replica) — edges and
            # vertices both grow kx, rounds fixed at 4, so the claim is
            # ~linear in edges. entity_clusters: k disjoint replicas of the
            # sf-base linkage pairs (both endpoint ids shifted) — CC rounds
            # iterate over the pair subgraph only. stratified_split: the
            # replicated docs (same frame as the dedup sweeps) — one bucket
            # shuffle + one agg, support fixed at langs x 62.
            from nilm_data_framework_spark.queries.extra_ops import (
                record_linkage_pairs,
            )
            from nilm_data_framework_spark.queries.extra_ops_r8 import (
                entity_clusters_from_pairs,
                pagerank_power,
                stratified_split_frame,
            )

            li_parts = [li_base]
            for r in range(1, k):
                li_parts.append(
                    li_base.select(
                        "l_orderkey",
                        (F.col("l_partkey") + 1_000_000 * r).alias("l_partkey"),
                        (F.col("l_suppkey") + 1_000_000 * r).alias("l_suppkey"),
                    )
                )
            li_k = li_parts[0]
            for p in li_parts[1:]:
                li_k = li_k.unionByName(p)
            # tagged-long keys, matching the registered kernel since the r9
            # re-key (labels are built only in the query's final projection,
            # which the kernel sweep doesn't need)
            pr_edges = (
                li_k.select(
                    (F.col("l_suppkey").cast("long") * 2).alias("src"),
                    (F.col("l_partkey").cast("long") * 2 + 1).alias("dst"),
                )
                .distinct()
                .localCheckpoint(eager=True)
            )
            pairs_base = record_linkage_pairs(spark, SF_DIR).select(
                "id_a", "id_b"
            )
            pair_parts = [pairs_base]
            for r in range(1, k):
                pair_parts.append(
                    pairs_base.select(
                        (F.col("id_a") + 100_000_000 * r).alias("id_a"),
                        (F.col("id_b") + 100_000_000 * r).alias("id_b"),
                    )
                )
            pairs_k = pair_parts[0]
            for p in pair_parts[1:]:
                pairs_k = pairs_k.unionByName(p)
            pairs_k = pairs_k.localCheckpoint(eager=True)
            for name, rows_in, fn in (
                ("pagerank_iters", pr_edges.count(),
                 lambda: pagerank_power(pr_edges).count()),
                ("entity_clusters", pairs_k.count(),
                 lambda: entity_clusters_from_pairs(pairs_k).count()),
                ("stratified_split", n,
                 lambda: stratified_split_frame(
                     docs.select("doc_id", "lang")
                 ).count()),
            ):
                sized.append(({name: fn}, rows_in))

        r9_names = {"ppr_iters", "ivf_filtered_probe", "gram_power"}
        if only is None or only & r9_names:
            # r9 kernels. ppr_iters: the same k×-disjoint bipartite graph as
            # pagerank_iters (replica key shift is a multiple of 10, so the
            # suppkey % 10 == 0 seed pattern replicates — each copy gets its
            # own seed set) — claim ~linear in edges, same as uniform.
            # ivf_filtered_probe: layout written ONCE per k (untimed), then
            # the filtered partition-pruned probe alone — probe work is the
            # probed fraction (n_probe/n_centroids) of the corpus at FIXED
            # centroid count, so the honest claim is linear-in-probed-lists
            # with pruning+pushdown constants; production scales n_centroids
            # with the corpus to hold list size. gram_power: Gram pass is
            # the linear scan (gram_matrix sweep above); the 4-round
            # iteration runs on d²-row frames — claim: indistinguishable
            # from gram_matrix alone.
            import shutil as _sh
            import tempfile as _tf

            from nilm_data_framework_spark.operators import similarity as SIM9
            from nilm_data_framework_spark.queries.extra_ops_r9 import (
                _FLT_PROBE,
                personalized_pagerank_power,
            )
            from nilm_data_framework_spark.tmpdirs import pid_scratch_dir as _psd

            if only is None or "ppr_iters" in (only or r9_names):
                li_parts9 = [li_base]
                for r in range(1, k):
                    li_parts9.append(
                        li_base.select(
                            "l_orderkey",
                            (F.col("l_partkey") + 1_000_000 * r).alias("l_partkey"),
                            (F.col("l_suppkey") + 1_000_000 * r).alias("l_suppkey"),
                        )
                    )
                li_k9 = li_parts9[0]
                for p in li_parts9[1:]:
                    li_k9 = li_k9.unionByName(p)
                ppr_edges = (
                    li_k9.select(
                        (F.col("l_suppkey").cast("long") * 2).alias("src"),
                        (F.col("l_partkey").cast("long") * 2 + 1).alias("dst"),
                    )
                    .distinct()
                    .localCheckpoint(eager=True)
                )

                def _ppr():
                    return personalized_pagerank_power(
                        ppr_edges,
                        lambda v: (v % 2 == 0) & (F.shiftright(v, 1) % 10 == 0),
                    ).count()

                sized.append(({"ppr_iters": _ppr}, ppr_edges.count()))

            emb9_parts = [emb_base.select("vec_id", "embedding", "label")]
            for r in range(1, k):
                emb9_parts.append(
                    emb_base.select(
                        (F.col("vec_id") + 10_000_000 * r).alias("vec_id"),
                        "embedding",
                        "label",
                    )
                )
            emb9 = emb9_parts[0]
            for p in emb9_parts[1:]:
                emb9 = emb9.unionByName(p)
            emb9 = emb9.repartition(32, "vec_id").localCheckpoint(eager=True)
            n_emb9 = emb9.count()
            if only is None or "ivf_filtered_probe" in (only or r9_names):
                cents9 = SIM9.sample_centroids(emb9, 16)
                p9 = _psd(
                    os.path.join(_tf.gettempdir(), "nilm_spark_fltprobe"),
                    f"k{k}_",
                )
                _sh.rmtree(p9, ignore_errors=True)
                SIM9.write_ivf_corpus(emb9, p9, cents9)
                q9 = emb9.filter(F.col("vec_id") < 8)

                def _flt_probe():
                    return SIM9.ivf_topk_partitioned(
                        spark, p9, q9, k=5, centroids=cents9,
                        n_probe=_FLT_PROBE,
                        pre_filter=F.col("label") == 3,
                    ).count()

                sized.append(({"ivf_filtered_probe": _flt_probe}, n_emb9))
            if only is None or "gram_power" in (only or r9_names):
                from nilm_data_framework_spark.queries.extra_ops_r9 import (
                    gram_power_direction,
                )

                def _gram_power():
                    # the SAME kernel the registered query runs (shared impl
                    # — the repo's grain-definitions-live-once rule)
                    return gram_power_direction(emb9).count()

                sized.append(({"gram_power": _gram_power}, n_emb9))

        knn_names = {"knn_join_fixedc", "knn_join_scaledc"}
        if only is None or only & knn_names:
            # all-pairs kNN join: candidate volume = n × (n_probe/n_lists)·n
            # — QUADRATIC at a FIXED centroid count (fixedc arm measures
            # exactly that, the honest negative), linear when the centroid
            # count scales with the corpus so list size stays constant
            # (scaledc arm — the documented 100 TB mitigation). Same kernel,
            # two quantizer policies.
            from nilm_data_framework_spark.operators import similarity as SIMK

            embk_parts = [emb_base.select("vec_id", "embedding")]
            for r in range(1, k):
                embk_parts.append(
                    emb_base.select(
                        (F.col("vec_id") + 10_000_000 * r).alias("vec_id"),
                        "embedding",
                    )
                )
            embk = embk_parts[0]
            for p in embk_parts[1:]:
                embk = embk.unionByName(p)
            embk = embk.repartition(32, "vec_id").localCheckpoint(eager=True)
            n_embk = embk.count()
            cents_fixed = SIMK.sample_centroids(embk, 16)
            cents_scaled = SIMK.sample_centroids(embk, 16 * k)

            def _knn_fixed():
                return SIMK.ivf_knn_join(
                    embk, k=3, centroids=cents_fixed, n_probe=4
                ).count()

            def _knn_scaled():
                return SIMK.ivf_knn_join(
                    embk, k=3, centroids=cents_scaled, n_probe=4
                ).count()

            sized.append(({"knn_join_fixedc": _knn_fixed}, n_embk))
            sized.append(({"knn_join_scaledc": _knn_scaled}, n_embk))

        extra_names = {"gram_matrix", "transitive_closure", "embargo_split"}
        if only is None or only & extra_names:
            emb = replicate_embeddings(emb_base, k)
            edges = replicate_part_edges(part_base, k)
            ev = replicate_events_us(ev_base, k)
            extras = extras_workloads(emb, edges, ev)
            # each extra scales a DIFFERENT input relation — pair each with
            # its own row count so the slope fit uses the right x-axis
            for name, rows_in in (
                ("gram_matrix", emb.count()),
                ("transitive_closure", edges.count()),
                ("embargo_split", ev.count()),
            ):
                sized.append(({name: extras[name]}, rows_in))
        for wl, rows_in in sized:
            for name, fn in wl.items():
                if only is not None and name not in only:
                    continue
                fn()  # warm (codegen, broadcast setup)
                times = []
                for _ in range(2):
                    t0 = time.perf_counter()
                    rows = fn()
                    times.append(time.perf_counter() - t0)
                sec = min(times)
                results.setdefault(name, []).append((rows_in, sec))
                print(json.dumps({"query": name, "k": k, "corpus_rows": rows_in,
                                  "result_rows": rows, "sec": round(sec, 3)}))

    print("\n# log-log slope (sec ~ corpus^slope); <= ~1.1 = scales linearly")
    for name, pts in results.items():
        if len(pts) >= 2:
            # least-squares over ALL points, not endpoints — sub-second flat
            # workloads are dominated by fixed job overhead and one noisy
            # endpoint would silently move the headline slope STRESS.md cites.
            xs = [math.log(n) for n, _ in pts]
            ys = [math.log(t) for _, t in pts]
            mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
            sxx = sum((x - mx) ** 2 for x in xs)
            slope = sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx
            pair_slopes = [
                round(math.log(t1 / t0) / math.log(n1 / n0), 2)
                for (n0, t0), (n1, t1) in zip(pts, pts[1:])
            ]
            (n0, t0), (n1, t1) = pts[0], pts[-1]
            print(json.dumps({"query": name, "slope": round(slope, 2),
                              "pair_slopes": pair_slopes,
                              "span": f"{n0}->{n1} rows, {t0:.2f}s->{t1:.2f}s"}))


if __name__ == "__main__":
    main()
