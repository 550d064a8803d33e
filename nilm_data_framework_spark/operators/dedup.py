"""Deduplication operators (SURVEY.md §2.10): exact, MinHash+LSH, SimHash,
n-gram Jaccard.

Scale design: every variant is blocking-based — candidate pairs only form
inside a bucket (hash value, LSH band, SimHash band), never via an O(N²)
cross join. Bucket keys shuffle once; within-bucket verification is a
self-join on the bucket key. All hashing is md5-derived (identical in Spark
and DuckDB) so the exact variants stay oracle-checkable.

Document operators read a ``(doc_id, text)`` frame; edge lists are
``(id_a, id_b)``.
"""

from __future__ import annotations

import random
from contextlib import nullcontext

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from nilm_data_framework_spark.materialize import checkpoint, pinned
from nilm_data_framework_spark.operators.text import word_ngrams

# 31-bit Mersenne prime for the universal-hash family h_i(x) = (a_i*x+b_i) mod p.
# 31 bits keeps a*x within int64 (a, x < 2^31 → product < 2^62) — no mulmod
# tricks needed JVM-side; collision rate 2^-31 per hash is ample for MinHash.
_MERSENNE_P = (1 << 31) - 1

# The one MinHash-LSH configuration: word 3-gram shingles, 16 hashes in 4
# bands of 4 rows, hash parameters drawn from seed 42. The operators, the
# persisted reference layout (its _meta row) and the DuckDB oracles all
# read these.
SHINGLE_N = 3
NUM_HASHES = 16
BANDS = 4
MINHASH_SEED = 42
ROWS_PER_BAND = NUM_HASHES // BANDS
# every hash feeds exactly one band (a trailing hash would be computed
# and never read)
assert NUM_HASHES % BANDS == 0


def _minhash_params() -> tuple[tuple[int, int], ...]:
    rng = random.Random(MINHASH_SEED)
    return tuple(
        (rng.randrange(1, _MERSENNE_P), rng.randrange(0, _MERSENNE_P))
        for _ in range(NUM_HASHES)
    )


# (a_i, b_i) of the NUM_HASHES universal hashes, drawn once
MINHASH_PARAMS = _minhash_params()


def normalized(text: Column) -> Column:
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def exact_dup_groups(df: DataFrame) -> DataFrame:
    """Exact dedup: group by md5(normalized text); emit groups with >1 doc,
    the representative (min id) and the member count."""
    h = df.select("doc_id", F.md5(normalized(F.col("text"))).alias("fp"))
    return (
        h.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min("doc_id").alias("keep_id"))
        .filter(F.col("n_dups") > 1)
    )


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact dedup keep-min-id: one row per distinct normalized text."""
    h = df.withColumn("_fp", F.md5(normalized(F.col("text"))))
    w = Window.partitionBy("_fp").orderBy("doc_id")
    return h.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop(
        "_fp", "_rn"
    )


def _md5_64(c: Column) -> Column:
    """Stable 63-bit integer hash from the md5 hex prefix (conv base16→10).

    conv() returns the value as a string in [0, 2^60); cast to long. Using 15
    hex chars keeps it under 2^63 so the cast never overflows.
    """
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def _hashed_shingles(df: DataFrame) -> DataFrame:
    """(id, hs) — distinct 60-bit hashed SHINGLE_N-gram sets of a
    (doc_id, text) frame; empty docs dropped.
    hs keeps the FULL md5 residue (the % p reduction happens inside the
    signature transform) so verify compares near-collision-free values,
    not 31-bit ones. array_distinct guards the (astronomically rare)
    within-doc hash collision so |hs| is a true set cardinality."""
    sh = df.select(
        F.col("doc_id").alias("id"), word_ngrams(F.col("text"), SHINGLE_N).alias("sh")
    ).filter(F.size("sh") > 0)
    return sh.select("id", F.array_distinct(F.transform("sh", _md5_64)).alias("hs"))


def _pinned_unless_shared(hashed: DataFrame | None, df: DataFrame):
    """A caller-shared hashed frame as it is, else ``df``'s
    :func:`_hashed_shingles` pinned for the ``with`` block."""
    if hashed is not None:
        return nullcontext(hashed)
    return pinned(_hashed_shingles(df))


def _banded(hashed: DataFrame) -> DataFrame:
    """(id, band, bucket) — LSH band buckets from the minhash signature.
    Single nested HOF over a one-call params literal: sig[i] = min over
    shingle hashes of ((x % p) * a_i + b_i) mod p ((x % p) first: x is the
    60-bit residue, (x % p) * a stays under 2^62 — no long overflow).
    Building NUM_HASHES separate transform expressions instead costs ~1 s
    of Py4J plan construction and a much larger tree for Catalyst."""
    params_lit = F.expr(
        "array(" + ",".join(f"array({a}L,{b}L)" for a, b in MINHASH_PARAMS) + ")"
    )
    sig = F.transform(
        params_lit,
        lambda ab: F.array_min(
            F.transform(
                "hs",
                lambda x: ((x % F.lit(_MERSENNE_P)) * ab[0] + ab[1])
                % F.lit(_MERSENNE_P),
            )
        ),
    )
    buckets = F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda bnd: F.struct(
            bnd.alias("band"),
            F.array_join(
                F.transform(
                    F.slice(F.col("sig"), bnd * ROWS_PER_BAND + 1, ROWS_PER_BAND),
                    lambda m: m.cast("string"),
                ),
                "_",
            ).alias("bucket"),
        ),
    )
    # sig projected as a real column (non-cheap, so CollapseProject keeps
    # it) — evaluated once per row, then sliced per band.
    return (
        hashed.select("id", sig.alias("sig"))
        .select("id", F.explode(buckets).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def _verify_pairs(
    cand: DataFrame, hs_a_src: DataFrame, hs_b_src: DataFrame, threshold: float
) -> DataFrame:
    """Exact Jaccard over the hashed shingle sets for candidate pairs only."""
    hs_a = hs_a_src.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a"))
    hs_b = hs_b_src.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b"))
    verified = cand.join(hs_a, "id_a").join(hs_b, "id_b")
    inter = F.size(F.array_intersect("hs_a", "hs_b")).cast("double")
    union = F.size(F.array_union("hs_a", "hs_b")).cast("double")
    return (
        verified.withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    jaccard_threshold: float = 0.5,
    hashed: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs of a (doc_id, text) frame: shingle →
    signature → band → bucket-join → exact-Jaccard verify.

    ``hashed`` (r9 optimization round): a caller-supplied
    :func:`_hashed_shingles` frame of the SAME df — callers composing
    several LSH operators over one corpus slice (write-reference +
    within-batch pairs, the incremental-ingest gate) shingle each slice
    ONCE and pass it here instead of paying the shingle+md5 scan per
    operator call. The caller pins it (:func:`materialize.pinned`); this
    function then leaves it alone.

    Returns (id_a, id_b, jaccard) with id_a < id_b and jaccard ≥ threshold,
    eagerly checkpointed, so a caller may feed it to several consumers
    without re-running the pipeline per branch.
    Scale shape: signatures and band buckets are pure per-row column
    arithmetic over a hashed-shingle array (no shuffle at all until the
    banded self-join), the self-join carries only (id, band, bucket), and
    the verify joins back HASHED shingle sets (8-byte longs, 60-bit md5
    prefixes — not the raw shingle strings) for the candidate pairs alone
    (AQE turns those into broadcasts when the candidate set is small). The
    candidate set is the shuffle, not N², and at 100 TB the verify shuffle
    carries ~8 B per shingle instead of the shingle text; Jaccard over the
    hashed sets equals Jaccard over the string sets absent 60-bit
    collisions (~n²/2^61 per doc — negligible at any realistic shingle
    count).
    """
    # hashed feeds the banded branch and both verify sides; pin it so the
    # shingle+hash computation isn't re-run per branch — Spark only reuses
    # identical exchange subtrees, not arbitrary common subplans. Pinning
    # the HASHED form (array<long>) instead of the raw shingle strings keeps
    # the cache footprint at 8 B/shingle. The result is checkpointed inside
    # the block, so the pin is released before returning.
    with _pinned_unless_shared(hashed, df) as hashed:
        banded = _banded(hashed)
        a = banded.alias("a")
        b = banded.alias("b")
        cand = (
            a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
            .filter(F.col("a.id") < F.col("b.id"))
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        result = _verify_pairs(cand, hashed, hashed, jaccard_threshold)
        return checkpoint(result)


def minhash_lsh_join(
    df_new: DataFrame,
    df_ref: DataFrame | None,
    jaccard_threshold: float = 0.5,
    ref_banded: DataFrame | None = None,
    ref_hashed: DataFrame | None = None,
    new_hashed: DataFrame | None = None,
) -> DataFrame:
    """INCREMENTAL near-dup screen: new-batch documents vs an existing
    reference corpus (both (doc_id, text) frames) — (new_id, ref_id,
    jaccard) for cross-corpus pairs only, never ref×ref, eagerly
    checkpointed.

    This is the shape a production ingest actually runs at 100 TB: the
    reference corpus was deduped once; each arriving batch is LSH-bucketed
    with the SAME hash parameters and joined against the stored reference
    buckets — cost O(|batch| + matching buckets), not a full corpus
    re-dedup.

    The production shape passes ``ref_banded``/``ref_hashed`` — the
    PERSISTED (id, band, bucket) and (id, hs) tables written once by
    :func:`write_lsh_reference`, bucketed by their join keys — so the
    per-batch join needs NO shuffle on the corpus side (only the small new
    batch is exchanged into the reference's bucketing). When they are None,
    both sides are derived on the fly from ``df_ref`` (the gate tables are
    plain parquet). :func:`minhash_lsh_join_reference` reads them and
    checks that the layout was written with this module's MinHash
    constants.

    No self-pairs of the new batch are emitted either (new×new dedup is
    :func:`minhash_lsh_pairs` on the batch alone); candidate generation is
    strictly (new.band, new.bucket) == (ref.band, ref.bucket).
    ``new_hashed`` is a caller-shared :func:`_hashed_shingles` frame of
    df_new (same contract as minhash_lsh_pairs' ``hashed``).
    """
    # each side's hashed shingles feed its banded branch AND its verify
    # side — pinning them (as in minhash_lsh_pairs) halves the shingling
    # work per side. A persisted reference side is NEVER re-pinned or
    # re-derived — it is already a bucketed scan.
    use_persisted_ref = ref_banded is not None and ref_hashed is not None
    if not use_persisted_ref and df_ref is None:
        raise ValueError("need df_ref or both ref_banded and ref_hashed")
    shared_ref = ref_hashed if use_persisted_ref else None
    with (
        _pinned_unless_shared(new_hashed, df_new) as hashed_new,
        _pinned_unless_shared(shared_ref, df_ref) as hashed_ref,
    ):
        banded_new = _banded(hashed_new).alias("a")
        banded_ref = (ref_banded if use_persisted_ref else _banded(hashed_ref)).alias("b")
        cand = (
            banded_new.join(
                banded_ref,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        out = _verify_pairs(cand, hashed_new, hashed_ref, jaccard_threshold)
        out = out.select(
            F.col("id_a").alias("new_id"), F.col("id_b").alias("ref_id"), "jaccard"
        )
        return checkpoint(out)


def _write_lsh_tables(
    hashed: DataFrame, table_prefix: str, buckets: int, mode: str, path: str | None
) -> None:
    """``{prefix}_buckets`` (id, band, bucket) bucketed+sorted by (band,
    bucket) and ``{prefix}_hs`` (id, hs) bucketed+sorted by id, from one
    hashed-shingle frame; ``path`` makes them EXTERNAL under
    ``{path}/{suffix}``."""
    for df, suffix, keys in (
        (_banded(hashed), "buckets", ("band", "bucket")),
        (hashed, "hs", ("id",)),
    ):
        w = df.write.mode(mode)
        if path is not None:
            w = w.option("path", f"{path}/{suffix}")
        (
            w.bucketBy(buckets, *keys)
            .sortBy(*keys)
            .format("parquet")
            .saveAsTable(f"{table_prefix}_{suffix}")
        )


def write_lsh_reference(
    df_ref: DataFrame,
    table_prefix: str,
    buckets: int = 16,
    path: str | None = None,
    hashed: DataFrame | None = None,
) -> None:
    """Persist the deduped (doc_id, text) corpus's LSH state once so
    per-ingest screens are shuffle-free on the corpus side (the 100 TB
    layout SCALE.md describes):

    - ``{prefix}_buckets``: (id, band, bucket) bucketed+sorted by
      (band, bucket) — the candidate join's key layout, pre-materialized.
    - ``{prefix}_hs``: (id, hs array<long>) bucketed+sorted by id — the
      verify join's key layout (8 B/shingle, the hashed form).
    - ``{prefix}_meta``: one row pinning (shingle_n, num_hashes, bands,
      seed, buckets). Incremental screening is only sound when every batch
      hashes with the SAME parameters; readers check the row against this
      module's constants instead of trusting that the layout was written
      by the same code.

    At 100 TB the corpus side of each batch join is then a bucketed scan
    feeding the sort-merge join directly — only the (small) batch side is
    exchanged into the reference's partitioning. Appending a screened batch
    into the reference is an INSERT of its (id, band, bucket)/(id, hs) rows
    under the same bucket spec (:func:`append_lsh_reference`), so the
    layout is maintained incrementally, never rebuilt.

    ``path`` makes the three tables EXTERNAL under ``{path}/{suffix}``
    (needed when the session's warehouse dir may not be writable, e.g. a
    driver-invoked run); None keeps them managed in the warehouse.
    ``hashed`` is a caller-shared :func:`_hashed_shingles` frame of df_ref
    (same contract as minhash_lsh_pairs' ``hashed``).

    Always writes with overwrite semantics: an append would duplicate
    every (id, band, bucket)/(id, hs) row (multiplying verify-join
    matches) and leave two meta rows for ``head()`` to pick between —
    incremental growth is a bucket-spec INSERT of NEW ids only (see the
    layout note above), not a re-run of this writer.
    """
    spark = df_ref.sparkSession
    # Torn-write protection: meta is the COMMIT MARKER. Drop any existing
    # meta BEFORE touching the data tables and rewrite it LAST, so a write
    # that dies mid-way (new bucket tables, old params) leaves no meta and
    # read_lsh_reference fails LOUDLY instead of silently screening every
    # batch against a half-written layout.
    spark.sql(f"DROP TABLE IF EXISTS {table_prefix}_meta")
    with _pinned_unless_shared(hashed, df_ref) as hashed:
        _write_lsh_tables(hashed, table_prefix, buckets, "overwrite", path)
        meta = spark.createDataFrame(
            [(SHINGLE_N, NUM_HASHES, BANDS, MINHASH_SEED, buckets)],
            "shingle_n int, num_hashes int, bands int, seed int, buckets int",
        )
        w = meta.write.mode("overwrite")
        if path is not None:
            w = w.option("path", f"{path}/meta")
        w.format("parquet").saveAsTable(f"{table_prefix}_meta")


def _reference_meta(spark, table_prefix: str) -> dict:
    """The reference's meta row, checked against this module's MinHash
    constants: a layout hashed with other settings shares almost no
    buckets with a batch, so every batch would screen clean."""
    meta = spark.table(f"{table_prefix}_meta").head().asDict()
    want = {
        "shingle_n": SHINGLE_N,
        "num_hashes": NUM_HASHES,
        "bands": BANDS,
        "seed": MINHASH_SEED,
    }
    got = {k: meta[k] for k in want}
    if got != want:
        raise ValueError(
            f"LSH reference {table_prefix} was written with MinHash settings "
            f"{got}, this code hashes with {want}"
        )
    return meta


def read_lsh_reference(
    spark, table_prefix: str
) -> tuple[DataFrame, DataFrame, dict]:
    """(buckets, hs, meta) for :func:`minhash_lsh_join`'s persisted path;
    raises when the meta row does not match the MinHash constants."""
    meta = _reference_meta(spark, table_prefix)
    return (
        spark.table(f"{table_prefix}_buckets"),
        spark.table(f"{table_prefix}_hs"),
        meta,
    )


def append_lsh_reference(batch: DataFrame, table_prefix: str) -> None:
    """The bucket-spec INSERT :func:`write_lsh_reference`'s layout note
    promises: grow the persisted reference by a SCREENED (doc_id, text)
    batch's (id, band, bucket) and (id, hs) rows, under the bucket count
    the meta table records; raises when the meta row does not match the
    MinHash constants (the same check as
    :func:`minhash_lsh_join_reference`). Spark appends per-bucket
    files under the existing bucketBy spec; the layout is maintained
    incrementally, never rebuilt.

    PRECONDITION — batch ids must be DISJOINT from every previously
    ingested batch (append-only ingest, the ``append_bm25_batch``
    contract): re-appending an id duplicates its bucket/hs rows and
    inflates verify-join matches. In the incremental ingest composition
    the batch is appended AFTER being screened against the reference, so
    the next batch's candidates cover (old ∪ this) — the endpoint
    decomposition stays exact (see streaming_neardup_ingest_equiv)."""
    meta = _reference_meta(batch.sparkSession, table_prefix)
    with pinned(_hashed_shingles(batch)) as hashed:
        _write_lsh_tables(hashed, table_prefix, meta["buckets"], "append", None)


def minhash_lsh_join_reference(
    df_new: DataFrame,
    table_prefix: str,
    jaccard_threshold: float = 0.5,
    new_hashed: DataFrame | None = None,
) -> DataFrame:
    """Per-ingest near-dup screen of a (doc_id, text) batch against a
    :func:`write_lsh_reference` corpus. The persisted meta row must match
    the MinHash constants the batch side hashes with (raises otherwise) —
    the soundness precondition of incremental LSH. ``new_hashed`` passes a
    caller-shared batch shingle frame through to :func:`minhash_lsh_join`."""
    ref_banded, ref_hashed, _meta = read_lsh_reference(df_new.sparkSession, table_prefix)
    return minhash_lsh_join(
        df_new,
        None,
        jaccard_threshold=jaccard_threshold,
        ref_banded=ref_banded,
        ref_hashed=ref_hashed,
        new_hashed=new_hashed,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    block_col: str,
    n: int = 3,
    threshold: float = 0.3,
) -> DataFrame:
    """Exact n-gram Jaccard with (block, length-bucket) blocking — the
    oracle-checkable exact twin of MinHash-LSH.

    LOSSLESS length pruning: J(A,B) >= t implies |A|/|B| and |B|/|A| >= t
    (the intersection is at most the smaller set, the union at least the
    larger), so qualifying pairs have n-gram-set sizes within a factor 1/t of
    each other. Bucketing sizes on a log_{1/t} grid therefore confines every
    qualifying pair to the same or adjacent buckets: the left side is emitted
    under (bkt, bkt+1), the right under bkt, and LEAST/GREATEST + distinct
    de-dupes the doubly-found same-bucket pairs. The output is IDENTICAL to
    the naive within-block quadratic (the DuckDB oracle), but the join is
    quadratic only within a (block, length-bucket) cell, not within a block —
    a dominant "en" block no longer implies O(N²) candidate pairs unless the
    length distribution itself is degenerate.
    """
    g = df.select(
        F.col("doc_id").alias("id"), F.col(block_col).alias("blk"), word_ngrams(F.col("text"), n).alias("g")
    ).filter(F.size("g") > 0)
    pairs = _length_blocked_candidates(g, threshold)
    inter = F.size(F.array_intersect("a.g", "b.g")).cast("double")
    union = F.size(F.array_union("a.g", "b.g")).cast("double")
    return (
        pairs.select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
            (inter / union).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .distinct()
    )


def _length_blocked_candidates(g: DataFrame, threshold: float) -> DataFrame:
    """Candidate pairs for :func:`ngram_jaccard_pairs`: same block, same or
    adjacent log_{1/t} length bucket. Exposed for the sub-quadratic
    candidate-count contract test.

    Bucketing is INTEGER-EXACT: bucket(s) = #{k >= 1 : base^k <= s},
    evaluated by comparing s against ceil(base^k) boundaries precomputed
    with exact rational arithmetic (Fraction). The previous
    floor(log(s)/log(base)) form used IEEE doubles, whose rounding at
    exact-ratio boundaries (s = 1000, t = 0.1: log10(1000)/1 evaluates
    to 2.9999999999999996 -> bucket 2 while 10000 lands in 4) put a
    QUALIFYING pair more than one bucket apart — silently breaking the
    lossless adjacency guarantee the docstring above proves. With exact
    buckets the lemma is rigorous: J >= t and s_a <= s_b imply
    s_b <= s_a·base, and base^k <= s_b <= s_a·base gives
    base^(k-1) <= s_a, so buckets differ by at most 1."""
    from fractions import Fraction

    t = Fraction(str(threshold))
    base = max(Fraction(1) / t, Fraction(11, 10))  # >=1.1: finite as t→1
    bounds: list[int] = []
    p = base
    while True:
        b = -(-p.numerator // p.denominator)  # ceil, exact
        if b > 2**62:
            break
        bounds.append(b)
        p *= base
    bounds_sql = "array(" + ",".join(f"{b}L" for b in bounds) + ")"
    bkt = F.expr(f"size(filter({bounds_sql}, b -> b <= size(g)))").cast("long")
    right = g.withColumn("jb", bkt)
    left = g.withColumn("jb", F.explode(F.array(bkt, bkt + F.lit(1))))
    a, b = left.alias("a"), right.alias("b")
    return a.join(
        b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.jb") == F.col("b.jb"))
    ).filter(F.col("a.id") != F.col("b.id"))


def _df_ranked_prefix(
    df: DataFrame, t_num: int, t_den: int
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared All-Pairs prefix construction for the Jaccard and
    containment joins (one copy — a fix to the prefix-length formula or
    the df tie-break must hit both). Returns (g, dg, prefix):
    g = (id, g: distinct word 3-gram array, s: set size); dg = exploded
    (id, s, gram) postings; prefix = the (id, s, gram) rows whose
    ascending-global-df rank (ties by gram — a total order both engines
    agree on) is within p = s − ⌈t·s⌉ + 1, with
    ⌈t_num·s/t_den⌉ = (t_num·s + t_den − 1) div t_den (s ≥ 1 so div ==
    floor in both engines)."""
    g = (
        df.select(F.col("doc_id").alias("id"), word_ngrams(F.col("text"), 3).alias("g"))
        .filter(F.size("g") > 0)
        .withColumn("s", F.size("g").cast("long"))
        # r10 OVERRIDES the r5 "exchange reuse covers the fan-out" call:
        # the table feeds four branches (df counts, rank window, both
        # verify sides), and an A/B at 4x/8x corpus replication measured
        # the checkpoint 10 %/19 % faster — the reuse does NOT survive at
        # larger inputs (OPTIMIZATION_r10.md, VERDICT r9 item 6). The
        # materialization is one tokenize pass' output (id, gram set,
        # size), the same order of storage the downstream shuffles carry
        # anyway.
        .transform(checkpoint)
    )
    dg = g.select("id", "s", F.explode("g").alias("gram"))
    dfreq = dg.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("gdf"))
    pos_w = Window.partitionBy("id").orderBy("gdf", "gram")
    ranked = dg.join(dfreq, "gram").withColumn("pos", F.row_number().over(pos_w))
    prefix = ranked.where(
        F.col("pos")
        <= F.col("s") - F.expr(f"({t_num} * s + {t_den - 1}) div {t_den}") + 1
    ).select("id", "s", "gram")
    return g, dg, prefix


def prefix_filter_jaccard_pairs(df: DataFrame) -> DataFrame:
    """All-Pairs/PPJoin-style prefix-filtered exact Jaccard join (Chaudhuri
    et al. 2006; Xiao et al. WWW'08) — the third candidate-generation
    strategy beside MinHash-LSH banding and (block, length-bucket) blocking.

    LOSSLESS prefix lemma: order every doc's n-gram set by ASCENDING global
    document frequency (rarest first, ties by gram string — a total order
    both engines agree on). With prefix length p = s − ⌈t·s⌉ + 1, any pair
    with J ≥ t = 3/10 (word 3-grams) must share a token inside both prefixes: if
    the prefixes were disjoint from the intersection, |A∩B| ≤ ⌈t·|A|⌉ − 1
    < t·|A| ≤ t·|A∪B| ≤ |A∩B| — contradiction. Candidates therefore come
    only from the INVERTED INDEX OF PREFIXES, and because the order puts
    the rarest grams first, stopword-ish shingles (huge df → huge candidate
    fan-out) never enter the index. Verification is exact set intersection
    on the candidate pairs; the threshold test is pure integer
    cross-multiplication (inter·t_den ≥ t_num·union), so the result is
    IDENTICAL to the naive all-shared-gram quadratic the oracle runs.

    Scale shape: one gram-keyed df-count agg, one doc-keyed window for
    prefix positions, one equi-join on prefix grams bounded by the rare-
    gram posting lists, then |candidates| array intersections. No global
    sort; the df order is a sort KEY, not a materialized global rank.
    The shingle table feeds FOUR branches (df counts, the rank window,
    and both verification sides) and IS checkpointed as of r10: the r5
    "Catalyst reuses the exchanges" measurement held only at sf0.1 — the
    replication A/B (4x: 28.4 vs 25.5 s, 8x: 68.1 vs 55.3 s) shows reuse
    degrading with corpus size, so the one-tokenize-pass materialization
    wins and keeps winning bigger (OPTIMIZATION_r10.md).
    """
    t_num, t_den = 3, 10
    g, _dg, prefix0 = _df_ranked_prefix(df, t_num, t_den)
    prefix = prefix0.select("id", "gram")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.gram") == F.col("b.gram")) & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = g.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"), F.col("s").alias("sa"))
    gb = g.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("long")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", inter.alias("inter"), "sa", "sb")
        .where(
            F.col("inter") * t_den >= t_num * (F.col("sa") + F.col("sb") - F.col("inter"))
        )
    )


def containment_prefix_pairs(df: DataFrame) -> DataFrame:
    """Prefix-filtered exact CONTAINMENT join: pairs where the SMALLER
    doc's word 3-gram set is ≥ t = 4/5 inside the larger's — the
    doc-in-doc / near-subset duplication Jaccard misses (a half-length
    excerpt of a doc has containment ~1 but J ~0.5, under any symmetric
    threshold).

    Same prefix lemma as :func:`prefix_filter_jaccard_pairs`, applied to
    the small side only: order each doc's grams by ascending global df
    (ties by gram); with prefix p = s − ⌈t·s⌉ + 1, any pair with
    inter ≥ t·s_small must share a gram between the SMALL doc's prefix
    and the large doc's FULL set (if not, inter ≤ s_small − p_small =
    ⌈t·s_small⌉ − 1 < t·s_small). Candidates = prefix(small) ⋈ gram
    postings(all), orientation (s_a < s_b) or (s_a = s_b and id_a <
    id_b); verification is the exact array intersection with the
    integer cross-multiplied test inter·t_den ≥ t_num·s_a. Lossless:
    identical output to the all-shared-gram quadratic.

    Scale shape: the join is bounded by Σ_g prefix_count(g)·df(g) — the
    rarest-first order keeps high-df shingles out of the probe side, so
    hot posting lists are never probed. One df agg, one doc-local rank
    window, one equi-join, |candidates| exact verifications. Shingles
    checkpointed once since r10 (the 4x/8x replication A/B overturned the
    r5 sf0.1 reuse measurement; see prefix_filter_jaccard_pairs).
    """
    t_num, t_den = 4, 5
    g, dg, prefix = _df_ranked_prefix(df, t_num, t_den)
    cand = (
        prefix.alias("a")
        .join(
            dg.alias("b"),
            (F.col("a.gram") == F.col("b.gram"))
            & (
                (F.col("a.s") < F.col("b.s"))
                | ((F.col("a.s") == F.col("b.s")) & (F.col("a.id") < F.col("b.id")))
            ),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = g.select(F.col("id").alias("id_a"), F.col("g").alias("g_a"), F.col("s").alias("sa"))
    gb = g.select(F.col("id").alias("id_b"), F.col("g").alias("g_b"), F.col("s").alias("sb"))
    inter = F.size(F.array_intersect("g_a", "g_b")).cast("long")
    return (
        cand.join(ga, "id_a")
        .join(gb, "id_b")
        .select("id_a", "id_b", inter.alias("inter"), "sa", "sb")
        .where(F.col("inter") * t_den >= t_num * F.col("sa"))
    )


def winnowing_fingerprints(df: DataFrame) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS local fingerprinting algorithm): hash every word
    ``n``-gram IN ORDER (n = 3), slide a window of ``w`` = 4 consecutive gram
    hashes,
    and select each window's MINIMUM hash. Guarantees: any shared
    substring of ≥ w+n-1 words yields at least one shared fingerprint
    (the local-selection property MinHash lacks — MinHash samples
    globally, winnowing detects LOCAL overlap), and the selected set is
    position-independent, so it survives content reordering around the
    match.

    Tie note: we keep the DISTINCT selected hash VALUES per document;
    equal-minima windows select the same value whichever position a
    robust-winnowing implementation would record, so the emitted set is
    tie-free by construction (no TIES.md hazard). Documents with fewer
    than w gram windows (but ≥ 1 gram) contribute their single global
    minimum — short docs are never silently unfingerprinted.

    Shape: pure per-row HOFs (tokenize → gram → md5-hash → sliding
    array_min) + one explode — a narrow 1→N map with NO shuffle; the
    fingerprint stream partitions downstream by fp exactly like shingle
    tables. All hashing is the repo's md5-residue idiom, bit-identical
    in DuckDB. Emits (id, fp)."""
    from nilm_data_framework_spark.operators.text import word_ngrams_all

    n, w = 3, 4
    grams = df.select(
        F.col("doc_id").alias("id"),
        word_ngrams_all(F.col("text"), n).alias("_g"),
    )
    hashed = grams.select(
        "id", F.transform("_g", lambda g: _md5_64(g)).alias("_h")
    )
    m = F.size("_h")
    window_mins = F.transform(
        F.sequence(F.lit(0), m - w),
        lambda j: F.array_min(F.slice(F.col("_h"), j + 1, w)),
    )
    fps = (
        F.when(m >= w, window_mins)
        .when(m >= 1, F.array(F.array_min("_h")))
        .otherwise(F.array().cast("array<long>"))
    )
    return hashed.select(
        "id", F.explode(F.array_distinct(fps)).alias("fp")
    )


def winnowing_shared_pairs(df: DataFrame) -> DataFrame:
    """Document pairs sharing ≥ 2 winnowing fingerprints —
    the MOSS plagiarism/copy-detection join. Fingerprints occurring in
    more than 50 documents are dropped BEFORE pairing (boilerplate
    grams — the deterministic df-cap analog of a stopword list; the cap
    is part of the declared semantics, replayed exactly by the oracle,
    not a silent recall trade). Candidate pairs form only inside a
    fingerprint bucket (≤ 50² per bucket), never via a cross join.

    Emits (id_a, id_b, n_shared, n_fp_a, n_fp_b) with id_a < id_b."""
    min_shared, max_df = 2, 50
    fps = winnowing_fingerprints(df)
    fps = checkpoint(fps)  # feeds df-cap, sizes, and pairing
    kept = fps.join(
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= max_df)
        .select("fp"),
        "fp",
    )
    sizes = kept.groupBy("id").agg(F.count(F.lit(1)).alias("n_fp"))
    a = kept.select(F.col("id").alias("id_a"), "fp")
    b = kept.select(F.col("id").alias("id_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )
    return (
        pairs.join(sizes.withColumnRenamed("id", "id_a"), "id_a")
        .withColumnRenamed("n_fp", "n_fp_a")
        .join(sizes.withColumnRenamed("id", "id_b"), "id_b")
        .withColumnRenamed("n_fp", "n_fp_b")
        .select(
            "id_a",
            "id_b",
            "n_shared",
            F.col("n_fp_a").cast("long").alias("n_fp_a"),
            F.col("n_fp_b").cast("long").alias("n_fp_b"),
        )
    )


def simhash(df: DataFrame) -> DataFrame:
    """SimHash signature: per-token md5-derived hash; each bit votes ±1;
    signature bit b = sign of the vote sum. Emits (id, simhash long).

    63 signature bits (the signature lives in a signed long and the sign
    bit stays 0); the 4-band chunking downstream simply has one
    15-informative-bit band.

    Column-expression implementation: explode tokens, aggregate per-bit
    votes with bitwise tests, re-assemble — one shuffle on id."""
    from nilm_data_framework_spark.operators.text import tokens

    toked = df.select(F.col("doc_id").alias("id"), F.explode(tokens(F.col("text"))).alias("tok"))
    hashed = toked.withColumn("h", _md5_64(F.col("tok")))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{i}")
            for i in range(63)
        ]
    )
    sig = F.lit(0).cast("long")
    for i in range(63):
        sig = sig + F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long") * (1 << i)).otherwise(0)
    return votes.select("id", sig.alias("simhash"))


def simhash_near_pairs(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into ``bands`` = 4
    16-bit chunks; by pigeonhole, any pair within hamming distance
    ``bands-1`` shares a chunk → bucket-join on (band, chunk), verify exact
    hamming ≤ max_hamming via bit_count(xor).

    The pigeonhole bound is a PRECONDITION, enforced: max_hamming >
    bands-1 would return a silently incomplete pair set (a pair whose
    differing bits hit every chunk shares no bucket yet passes the
    advertised hamming filter)."""
    bands = 4
    if max_hamming > bands - 1:
        raise ValueError(
            f"pigeonhole completeness requires max_hamming <= bands-1 "
            f"(got max_hamming={max_hamming}, bands={bands})"
        )
    s = simhash(df)
    chunk_bits = 64 // bands
    mask = (1 << chunk_bits) - 1
    banded = s.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), b * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bc"),
    ).select("id", "simhash", "bc.band", "bc.chunk")
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.chunk") == F.col("b.chunk")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .filter(F.col("hamming") <= max_hamming)
    )


def connected_components_star(nodes: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components via alternating large-star / small-star edge
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14) — the DIAMETER-SAFE escalation the hash-min
    kernel's error message points at.

    Hash-min propagates the component's min id ONE hop per round, so a
    chainy graph (propagation distance > max_iter) aborts — exactly what
    a percolating geometric graph produces (measured: the sf0.1 DBSCAN
    core graph, ~15k nodes whose within-radius components span the whole
    1M-unit plane, needs >25 hops). Star contraction instead REWRITES the
    edge set each round: large-star points every neighbor larger than u
    at u's neighborhood minimum, small-star stars the smaller neighbors
    onto it, and the edge set monotonically contracts to a star forest
    whose centers are the component minima — O(log²·n) rounds REGARDLESS
    of diameter, each round two grouped aggs + a distinct over the
    current (shrinking) edge set.

    Same contract as :func:`connected_components` (nodes ``(id)``, edges
    ``(id_a, id_b)``, at most 50 rounds): returns
    (node, cluster_id), cluster_id = min node id of the component,
    singletons labeled by themselves. Equivalence on converging inputs is
    pytest-pinned; prefer THIS form when the similarity graph can be
    long-chained (geometric/temporal adjacency), the hash-min form when
    components are shallow (near-dup clusters, entity resolution).
    """
    e = (
        edges.select(
            F.least(F.col("id_a"), F.col("id_b")).alias("_a"),
            F.greatest(F.col("id_a"), F.col("id_b")).alias("_b"),
        )
        .filter(F.col("_a") != F.col("_b"))
        .distinct()
        .transform(checkpoint)
    )

    def _sym(ed: DataFrame) -> DataFrame:
        return ed.select(F.col("_a").alias("_u"), F.col("_b").alias("_v")).unionByName(
            ed.select(F.col("_b").alias("_u"), F.col("_a").alias("_v"))
        )

    def _norm(ed: DataFrame) -> DataFrame:
        return (
            ed.select(
                F.least(F.col("_a"), F.col("_b")).alias("_a"),
                F.greatest(F.col("_a"), F.col("_b")).alias("_b"),
            )
            .filter(F.col("_a") != F.col("_b"))
            .distinct()
        )

    def _large_star(ed: DataFrame) -> DataFrame:
        # for every u: neighbors v > u re-point at m = min(N(u) ∪ {u})
        sym = _sym(ed)
        m = (
            sym.groupBy("_u")
            .agg(F.min("_v").alias("_mv"))
            .select("_u", F.least(F.col("_mv"), F.col("_u")).alias("_m"))
        )
        return _norm(
            sym.filter(F.col("_v") > F.col("_u"))
            .join(m, "_u")
            .select(F.col("_m").alias("_a"), F.col("_v").alias("_b"))
        )

    def _small_star(ed: DataFrame) -> DataFrame:
        # for every u: the strictly smaller neighbors (and u itself) star
        # onto their minimum
        le = _sym(ed).filter(F.col("_v") < F.col("_u"))
        smins = le.groupBy("_u").agg(F.min("_v").alias("_m"))
        return _norm(
            le.join(smins, "_u")
            .select(F.col("_m").alias("_a"), F.col("_v").alias("_b"))
            .unionByName(
                smins.select(F.col("_m").alias("_a"), F.col("_u").alias("_b"))
            )
        )

    max_iter = 50
    n_e = e.count()
    for _ in range(max_iter):
        # the published alternation: E ← small-star(large-star(E)); the
        # mid frame is checkpointed too (small-star reads it twice)
        e_mid = checkpoint(_large_star(e))
        # lazy checkpoint: the count below materializes e_new and yields
        # n_new in one job (was eager-checkpoint + count = two jobs per
        # round; e_mid stays eager because _small_star reads it twice)
        e_new = checkpoint(_small_star(e_mid), eager=False)
        # convergence = set equality; counts are distinct-deduped, so
        # equal counts + one-sided empty difference ⟺ equal sets. The
        # count-first guard skips the exceptAll join entirely while the
        # edge set is still shrinking (most rounds) — convergence checks
        # are pure job dispatch at small edge counts, and halving them
        # measurably cuts the toy-scale constant.
        n_new = e_new.count()
        changed = 1
        if n_new == n_e:
            changed = e_new.exceptAll(e).limit(1).count()
        e, n_e = e_new, n_new
        if changed == 0:
            # star forest: every edge is (component-min center, leaf)
            leaves = e.select(
                F.col("_b").alias("node"), F.col("_a").alias("cluster_id")
            )
            centers = e.select(F.col("_a").alias("node")).distinct().select(
                "node", F.col("node").alias("cluster_id")
            )
            labeled = leaves.unionByName(centers)
            singles = (
                nodes.select(F.col("id").alias("node"))
                .join(labeled.select("node"), "node", "left_anti")
                .select("node", F.col("node").alias("cluster_id"))
            )
            return labeled.unionByName(singles)
    raise RuntimeError(
        f"connected_components_star did not converge in max_iter={max_iter} "
        f"rounds — beyond the O(log² n) bound; the edge set is likely being "
        f"re-fed non-deterministically upstream"
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "id",
    max_iter: int = 25,
) -> DataFrame:
    """Near-dup CLUSTER assignment: hash-min connected components over the
    similarity graph ``edges`` (id_a, id_b) — (node, cluster_id) with
    cluster_id = min node id in the component; nodes (``id_col`` of
    ``nodes``) with no edges are their own singleton cluster.

    This is the step a real dedup pipeline runs between pair generation
    (minhash_lsh_pairs / simhash_near_pairs) and survivor selection: pairs
    alone over-delete (A~B, B~C transitively groups A,C even when the A-C
    pair was never emitted).

    Algorithm: iterative hash-min label propagation — each round every node
    takes min(own label, neighbor labels); converges in graph-diameter
    rounds. Near-dup components are dense and tiny (documents mutually
    similar), so diameter is small (≤ ~4 observed) and rounds stay few at
    any corpus size — the 100 TB cost model is rounds × (one edge-join
    shuffle + one aggregate), with the label frame 2 longs per node.
    Lineage is cut per round with a checkpoint; the edge list is
    checkpointed once so pair generation (the expensive part) runs exactly
    once, not per round. For adversarially chainy graphs the alternating
    large-star/small-star algorithm (Kiveris et al., "Connected Components
    in MapReduce and Beyond") halves diameter per round — documented
    escalation, not needed for dedup graphs.

    Only edge-touching nodes enter the loop: a singleton's label can never
    change (no neighbors), so the full node set joins in exactly once at the
    end (anti-join, AQE-decided strategy). At 100 TB this is the difference
    between iterating over the whole corpus and iterating over the (tiny)
    near-dup subgraph — rounds cost O(pairs), not O(corpus).
    """
    sym = (
        edges.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .transform(checkpoint)
    )
    touched = sym.select("src").distinct().withColumnRenamed("src", "node")
    labels = touched.select(
        "node", F.col("node").alias("comp")
    ).transform(checkpoint)

    def with_singletons(looped: DataFrame) -> DataFrame:
        singles = (
            nodes.select(F.col(id_col).alias("node"))
            .join(touched, on="node", how="left_anti")
            .select("node", F.col("node").alias("cluster_id"))
        )
        return looped.unionByName(singles)

    for _ in range(max_iter):
        nbr_min = (
            sym.join(labels, sym["src"] == labels["node"])
            .groupBy("dst")
            .agg(F.min("comp").alias("nbr_comp"))
            .withColumnRenamed("dst", "node")
        )
        stepped = labels.join(nbr_min, on="node", how="left").select(
            "node",
            "comp",
            F.least("comp", F.coalesce("nbr_comp", "comp")).alias("comp_new"),
        )
        # lazy checkpoint + convergence count fused into ONE action: the
        # count's scan materializes (and persists) the round's label RDD
        # and yields the changed-row count in the same job — the eager-
        # checkpoint-then-probe form paid two job dispatches per round for
        # the identical work (r9 optimization round, guide §1.2/§5: the
        # per-round constant is job-count, not data, at every scale)
        stepped = checkpoint(stepped, eager=False)
        if stepped.filter(F.col("comp_new") < F.col("comp")).count() == 0:
            return with_singletons(
                stepped.select("node", F.col("comp").alias("cluster_id"))
            )
        labels = stepped.select("node", F.col("comp_new").alias("comp"))
    # the loop converged on every iteration-count path above (the no-change
    # check returns); falling through means labels were STILL changing at
    # max_iter — returning them would silently split components (over-
    # retention downstream) and diverge from the oracle's transitive
    # closure. Propagation distance > max_iter means an adversarially
    # chainy graph: raise and point at the documented escalation.
    raise RuntimeError(
        f"connected_components did not converge in max_iter={max_iter} "
        f"rounds — component propagation distance exceeds it; raise "
        f"max_iter or switch to the alternating large-star/small-star "
        f"form (Kiveris et al.) documented above"
    )


def span_dedup(df: DataFrame, span: int = 20) -> DataFrame:
    """Span-level exact dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better", arXiv:2107.06499 — their unit is a 50-token
    window over a suffix array; here fixed ``span``-token chunks, the
    shuffle-friendly approximation): chunk every document into consecutive
    ``span``-token spans, keep only the FIRST occurrence of each distinct
    span corpus-wide (order = (doc_id, position)), and return per-doc
    accounting plus the md5 of the surviving text — so repeated boilerplate
    inside otherwise-unique documents is removed, not just whole-doc dups.

    Scale shape: explode to one row per span (linear in corpus tokens), ONE
    window over the span text (the survivor pick — same shuffle an exact
    groupBy dedup pays), one doc-keyed final agg. No joins. The window key
    is the span content: near-uniform cardinality, no skew surface. At
    100 TB the span rows are (8B id, 4B pos, ~100B text) — the reconstruction
    agg keeps only rn=1 spans, so state shrinks with dedup rate.
    """
    spans_of = lambda tk: F.transform(  # noqa: E731
        F.sequence(F.lit(0), F.ceil(F.size(tk) / span).cast("int") - 1),
        lambda i: F.array_join(F.slice(tk, i * F.lit(span) + 1, span), " "),
    )
    from nilm_data_framework_spark.operators.text import tokens

    chunked = df.select(
        F.col("doc_id"),
        F.posexplode(
            F.transform(
                F.array(tokens(F.col("text"))),
                lambda tk: F.when(F.size(tk) > 0, spans_of(tk)).otherwise(
                    F.array().cast("array<string>")
                ),
            )[0]
        ).alias("pos", "span_text"),
    )
    w = Window.partitionBy("span_text").orderBy(F.col("doc_id"), F.col("pos"))
    ranked = chunked.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(
        F.col("rn") == 1, F.struct(F.col("pos"), F.col("span_text"))
    )
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s["span_text"],
                ),
                " ",
            )
        ).alias("kept_md5"),
    )


def fuzzy_name_pairs(df: DataFrame, name_col: str) -> DataFrame:
    """Entity-resolution fuzzy matching: near-identical STRING pairs by
    cheap blocking + Levenshtein verify — the string-similarity sibling of
    the MinHash document path (same blocking discipline, different
    verifier). Returns (nm_a, nm_b, dist) with nm_a < nm_b and
    Levenshtein dist <= 2.

    Deliberately operates on DISTINCT values: identical strings are exact-
    dedup's job (:func:`dedup_exact`), and distinct-value cardinality is
    what stays sub-linear in row count at 100 TB (a vocabulary, not a
    table) — blocking the raw rows would rebuild the quadratic blowup
    inside every repeated-value block. Survivor pairs map back to rows via
    an equi-join on the string, which is how production stacks apply the
    match. Blocking key = (length bucket, first 2 chars):
    substitutions never change length and rarely the prefix; recall is
    bounded by design — production unions several cheap blockings (prefix,
    suffix, phonetic), each this same plan under a different key. The
    Levenshtein verify is a JVM built-in running codegen-side on the
    in-block candidates alone.
    """
    names = df.select(F.col(name_col).alias("nm")).distinct()
    blocked = names.select(
        "nm",
        F.concat_ws(
            "_",
            F.floor(F.length("nm") / 2).cast("string"),
            F.substring("nm", 1, 2),
        ).alias("blk"),
    )
    a = blocked.select(F.col("nm").alias("nm_a"), "blk")
    b = blocked.select(F.col("nm").alias("nm_b"), "blk")
    return (
        a.join(b, "blk")
        .filter(F.col("nm_a") < F.col("nm_b"))
        .withColumn("dist", F.levenshtein("nm_a", "nm_b"))
        .filter(F.col("dist") <= 2)
        .select("nm_a", "nm_b", "dist")
    )


def lsh_recall_audit(df: DataFrame) -> DataFrame:
    """Measured recall of the LSH BANDING stage over a (doc_id, text)
    frame: how many true near-dup pairs (exact Jaccard ≥ 0.5, the
    minhash_lsh_pairs default, over the hashed shingle sets) does
    the (band, bucket) candidate join surface? The accuracy/cost dial
    every probabilistic dedup deployment must report — the banding twin
    of similarity.py's ivf_recall_at_k.

    Ground truth uses SHARED-SHINGLE blocking, which is LOSSLESS for any
    threshold > 0 (J ≥ t > 0 implies at least one common shingle), so
    truth is exact without an N² pair scan; its cost is Σ_shingle df² —
    the same worst-case as the LSH bucket join itself.

    ``found`` is NOT verified: it is the raw banding candidate set (every
    (band, bucket) collision, false positives included), never passed
    through a Jaccard filter. n_found = |cand ∩ truth| is exact only
    because the count is anchored on the truth side — truth rows
    left-join the candidates and count a match, so a candidate outside
    truth can never be counted. Any new use of ``found`` as "verified
    pairs" (say, to report precision) must verify it first; the audit
    reports true/found/missed counts, and recall is the banding's.

    Output: ONE row (n_true_pairs, n_found_pairs, n_missed) — exact
    integers; the caller derives recall ratios. The hashed-shingle table
    feeds FIVE branches (truth candidates, banding, both verify sides ×2)
    → checkpoint once (repo lineage rule).
    """
    jaccard_threshold = 0.5
    hashed = checkpoint(_hashed_shingles(df))
    ex = hashed.select("id", F.explode("hs").alias("h"))
    a, b = ex.alias("a"), ex.alias("b")
    tcand = (
        a.join(b, (F.col("a.h") == F.col("b.h")) & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    truth = _verify_pairs(tcand, hashed, hashed, jaccard_threshold).select(
        "id_a", "id_b"
    )
    banded = _banded(hashed)
    ba, bb = banded.alias("a"), banded.alias("b")
    cand = (
        ba.join(
            bb,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    # found = cand ∩ truth, NOT a second verify pass (r10 optimization,
    # guide §1.2 step 1): truth is EVERY pair with J ≥ threshold (the
    # shared-shingle blocking is lossless), so the banding's verified
    # pairs are exactly the banding candidates that appear in truth —
    # re-running the array-intersect Jaccard over every banding candidate
    # computed the identical filter a second time. The semi-join attaches
    # the found flag off the already-verified truth frame instead.
    found = cand.select("id_a", "id_b", F.lit(1).alias("_f"))
    j = truth.join(found, ["id_a", "id_b"], "left")
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_true_pairs"),
        F.coalesce(F.sum("_f"), F.lit(0)).cast("long").alias("n_found_pairs"),
        (F.count(F.lit(1)) - F.coalesce(F.sum("_f"), F.lit(0)))
        .cast("long")
        .alias("n_missed"),
    )


def connected_components_incremental(
    labels: DataFrame, new_edges: DataFrame
) -> DataFrame:
    """Fold a batch of NEW (id_a, id_b) edges into an existing connected-components
    labeling WITHOUT re-touching the old edge set — the graph-family
    member of the repo's append-fold equivalences (append_bm25_batch,
    ivf append, scd2_incremental).

    Construction: contract every old component to its label. A new edge
    (a, b) becomes a LABEL edge (L(a), L(b)) — endpoints absent from
    ``labels`` (first-seen nodes) keep their own id as label. Hash-min CC
    over the contracted graph then yields, for every old label, its new
    component's min label; composing the two maps relabels every node.
    Because each existing cluster_id IS the min member id of its old
    component (the :func:`connected_components` invariant) and new nodes'
    labels are their own ids, the contracted minimum equals the global
    minimum member id — so the result is IDENTICAL to recomputing
    connected_components over the union edge set (gate:
    entity_clusters_incremental_equiv shares the full-recompute oracle
    verbatim).

    Scale: the increment costs O(new edges + touched labels) — the old
    edges are never read, and the contracted graph is bounded by the
    batch's endpoints, not the corpus. The CC rounds run on that
    contracted graph only.
    """
    l_a = labels.select(F.col("node").alias("_n"), F.col("cluster_id").alias("_la"))
    e = (
        new_edges.select(F.col("id_a").alias("_ea"), F.col("id_b").alias("_eb"))
        .join(l_a, F.col("_ea") == F.col("_n"), "left")
        .select(F.coalesce("_la", "_ea").alias("la"), "_eb")
        .join(
            l_a.select(F.col("_n"), F.col("_la").alias("_lb")),
            F.col("_eb") == F.col("_n"),
            "left",
        )
        .select(F.col("la").alias("id_a"), F.coalesce("_lb", "_eb").alias("id_b"))
        .filter(F.col("id_a") != F.col("id_b"))
    )
    touched = (
        e.select(F.col("id_a").alias("id"))
        .union(e.select(F.col("id_b").alias("id")))
        .distinct()
    )
    relabel = connected_components(touched, e).select(
        F.col("node").alias("_old_label"), F.col("cluster_id").alias("_new_label")
    )
    # nodes first seen in this batch enter the labeling as themselves, then
    # the relabel map (which covers every touched label) applies uniformly
    batch_nodes = (
        new_edges.select(F.col("id_a").alias("node"))
        .union(new_edges.select(F.col("id_b").alias("node")))
        .distinct()
        .join(labels.select("node"), "node", "left_anti")
        .select("node", F.col("node").alias("cluster_id"))
    )
    all_labeled = labels.unionByName(batch_nodes)
    return all_labeled.join(
        relabel, all_labeled["cluster_id"] == relabel["_old_label"], "left"
    ).select(
        "node",
        F.coalesce("_new_label", "cluster_id").alias("cluster_id"),
    )
