"""The two workloads: seeded inputs, program-side set-up, one measured
pass, and the checks run on every pass's outputs after the timed window.

Each call into the program is one *op*, timed as build (the call that
returns a frame, including any eager jobs it runs) plus exec (the action
that consumes it). Checks never run inside an op.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

import gen
import oracle


class Ctx:
    """One run's session, tracer, work directory and op log."""

    def __init__(self, work: str, seed: int):
        self.spark = None
        self.tracer = None
        self.work = work
        self.raw = os.path.join(work, "raw")
        self.seed = seed
        self.input_bytes = 0
        self.ops: list[dict] = []

    def op(self, name: str, layer: str, round_: str, build, action):
        """Run build() then action(frame) inside spans; return the action's
        result, or None after logging the exception (the op then counts as
        failed)."""
        rec = {"name": name, "round": round_, "ok": True}
        t0 = time.perf_counter()
        tr = self.tracer
        try:
            with tr.span(name, layer, round_) as sp:
                with tr.span(f"{name}.build", layer, round_, "build"):
                    df = build()
                t1 = time.perf_counter()
                with tr.span(f"{name}.exec", layer, round_, "exec"):
                    out = action(df)
                tr.plan_phases(sp, df)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            rec["ok"] = False
            out = None
            t1 = time.perf_counter()
        rec["build_s"] = t1 - t0
        rec["wall_s"] = time.perf_counter() - t0
        self.ops.append(rec)
        return out


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return path


def raw_readings_frame(spark, raw: str, mqtt: bool):
    """The three source readers over the generated raw files, unioned into
    the canonical readings shape; Shelly devices become house 1's channels."""
    from pyspark.sql import functions as F

    from nilm_data_framework_spark.sources import mqtt_json, refit, ukdale

    out = refit.read_refit(spark, f"{raw}/refit/CLEAN_House*.csv").unionByName(
        ukdale.read_ukdale(spark, f"{raw}/ukdale/house_*/channel_*.dat")
    )
    if mqtt:
        out = out.unionByName(
            mqtt_json.read_mqtt_log(spark, f"{raw}/mqtt/mqtt.log.*").select(
                F.lit("shelly").alias("dataset"),
                F.lit(1).alias("house_id"),
                F.col("device").alias("channel_id"),
                "ts",
                F.col("apower").alias("power"),
            )
        )
    return out


# ---------------------------------------------------------------------------
# nilm_etl
# ---------------------------------------------------------------------------


class NilmEtl:
    """Raw REFIT/UK-DALE/Shelly files -> canonical store -> 300 s
    aggregate and tensor windows: the paper's ConvertToH5 and
    ConvertToTensor paths in one batch pass."""

    name = "nilm_etl"
    REFIT = dict(houses=3, rows=10_000)
    UKDALE = dict(houses=2, channels=5, rows=10_000)
    MQTT = dict(days=2, lines_per_day=5_000)
    TARGETS = ["Appliance1", "Appliance2", "Appliance3"]
    SEQ_LEN, STEP, BUCKET_S = 64, 32, 300
    # no program-side set-up
    SETUP_ROUNDS = 1
    # the JIT keeps speeding passes up for about ten passes; past the third
    # the slope is small enough for a median of three passes
    WARMUP_PASSES = 3

    def generate(self, ctx: Ctx) -> None:
        gen.write_refit(f"{ctx.raw}/refit", ctx.seed, **self.REFIT)
        gen.write_ukdale(f"{ctx.raw}/ukdale", ctx.seed, **self.UKDALE)
        gen.write_mqtt(f"{ctx.raw}/mqtt", ctx.seed, **self.MQTT)

    def sizes(self) -> dict:
        r, u, m = self.REFIT, self.UKDALE, self.MQTT
        return {
            "refit_rows": r["houses"] * r["rows"],
            "ukdale_rows": u["houses"] * u["channels"] * u["rows"],
            "mqtt_lines": m["days"] * m["lines_per_day"],
        }

    def index_files(self) -> dict:
        return {}

    def setup(self, ctx: Ctx, round_: str) -> None:
        """No program-side set-up: every write belongs to the pass."""

    def run_pass(self, ctx: Ctx, round_: str) -> dict:
        from pyspark.sql import functions as F

        from nilm_data_framework_spark.operators import aggregates, tensorize
        from nilm_data_framework_spark.sources import canonical

        spark = ctx.spark
        store = _fresh(f"{ctx.work}/out/{round_}/store")
        windows = _fresh(f"{ctx.work}/out/{round_}/windows")
        ctx.op(
            "ingest", "sources.canonical", round_,
            lambda: raw_readings_frame(spark, ctx.raw, mqtt=True),
            lambda df: canonical.write_readings(df, store),
        )

        def agg_frame():
            back = canonical.read_readings(spark, store)
            appl = back.filter(~F.col("channel_id").isin(*oracle.AGGREGATE_CHANNELS))
            return aggregates.aggregate_from_appliances(
                appl, ["dataset", "house_id"], seconds=self.BUCKET_S
            )

        agg = ctx.op("aggregate", "operators.aggregates", round_, agg_frame, lambda df: df.toPandas())

        def tensor_frame():
            back = canonical.read_readings(spark, store).filter(F.col("dataset") == "refit")
            return tensorize.tensorize(
                back, "house_id", "channel_id", "ts", "power", "Aggregate",
                self.TARGETS, self.SEQ_LEN, self.STEP,
            )

        ctx.op(
            "tensorize", "operators.tensorize", round_, tensor_frame,
            lambda df: df.write.mode("overwrite").parquet(windows),
        )
        return {"store": store, "windows": windows, "agg": agg, "stored": [store, windows]}

    def answers(self, ctx: Ctx) -> dict:
        con = duckdb.connect()
        oracle.raw_readings(con, ctx.raw, mqtt=True)
        return {
            "counts": oracle.reading_counts(con),
            "sums": oracle.bucket_sums(con, self.BUCKET_S),
            "windows": oracle.window_counts(con, "Aggregate", self.TARGETS, self.SEQ_LEN, self.STEP),
        }

    def check(self, ans: dict, out: dict) -> list[str]:
        """Names of the outputs of one pass that disagree with the oracle."""
        bad = []
        if not _safe(lambda: oracle.store_counts(out["store"]) == ans["counts"]):
            bad.append("ingest")
        if not check_sums(out["agg"], ans["sums"]):
            bad.append("aggregate")
        if not _safe(lambda: window_counts(out["windows"], self.SEQ_LEN) == ans["windows"]):
            bad.append("tensorize")
        return bad


def _safe(check) -> bool:
    """A check that cannot read the output (missing or unreadable files)
    fails instead of aborting the run."""
    try:
        return bool(check())
    except (duckdb.Error, OSError):
        return False


def check_sums(agg: pd.DataFrame | None, want: dict) -> bool:
    if agg is None:
        return False
    secs = agg["bucket_ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
    got = {
        (d, int(h), int(b)): v
        for d, h, b, v in zip(agg["dataset"], agg["house_id"], secs, agg["aggregate_computed"])
    }
    return oracle.same_map(got, want)


def window_counts(path: str, seq_len: int) -> dict:
    """Windows per house in a written tensor export; a window whose x or y
    has the wrong length poisons its house's count."""
    rows = duckdb.sql(
        f"""SELECT house_id, count(*),
                   sum(CASE WHEN len(x) = {seq_len} AND len(y) = {seq_len} THEN 0 ELSE 1 END)
            FROM read_parquet('{path}/*.parquet') GROUP BY house_id"""
    ).fetchall()
    return {int(h): (n if bad == 0 else -1) for h, n, bad in rows}


# ---------------------------------------------------------------------------
# interactive
# ---------------------------------------------------------------------------

CHANNEL_KEY = "dataset || '/' || house_id || '/' || channel_id"
LABELS = [
    "fridge", "freezer", "washing machine", "dishwasher", "television",
    "kettle", "microwave", "toaster", "computer",
]


class Interactive:
    """One closed-loop client: query-API calls over the canonical store and
    retrieval probes over persisted BM25 and IVF layouts, one request after
    another. Every write sits in set-up, so a change that makes requests
    faster by writing more shows as a worse set-up time."""

    name = "interactive"
    REFIT = dict(houses=3, rows=4_000)
    UKDALE = dict(houses=2, channels=4, rows=4_000)
    N_DOCS = 800
    N_VECS, DIM, CLUSTERS, N_CENTROIDS, N_PROBE = 2_000, 32, 8, 16, 2
    TOP_K = 10
    # setup_s counts the median (here: the mean) of the set-up rounds; the
    # first round pays the write paths' first-use cost
    SETUP_ROUNDS = 2
    # set-up has already run most of the code paths once
    WARMUP_PASSES = 1
    KINDS = ["label", "power_type", "bm25", "ivf"]

    def generate(self, ctx: Ctx) -> None:
        gen.write_refit(f"{ctx.raw}/refit", ctx.seed, **self.REFIT)
        gen.write_ukdale(f"{ctx.raw}/ukdale", ctx.seed, **self.UKDALE)
        os.makedirs(f"{ctx.raw}/tables", exist_ok=True)
        gen.write_parquet(self.channels(), f"{ctx.raw}/tables/channels.parquet")
        gen.write_parquet(
            gen.documents_frame(ctx.seed, self.N_DOCS),
            f"{ctx.raw}/tables/documents.parquet",
        )
        gen.write_parquet(
            gen.embeddings_frame(ctx.seed, self.N_VECS, self.DIM, self.CLUSTERS),
            f"{ctx.raw}/tables/embeddings.parquet",
        )
        self.rng = gen.rng_for(ctx.seed, "requests")

    def channels(self) -> pd.DataFrame:
        """Channel dimension: REFIT Aggregate + Appliance1..9, UK-DALE mains
        (apparent power) + appliance channels."""
        rows = []
        for h in range(1, self.REFIT["houses"] + 1):
            rows.append(("refit", h, "Aggregate", "aggregate", "active"))
            for i in range(1, 10):
                rows.append(("refit", h, f"Appliance{i}", LABELS[(i - 1 + h) % 9], "active"))
        for h in range(1, self.UKDALE["houses"] + 1):
            rows.append(("ukdale", h, "channel_1", "aggregate", "apparent"))
            for c in range(2, self.UKDALE["channels"] + 1):
                rows.append(("ukdale", h, f"channel_{c}", LABELS[(c + h) % 9], "active"))
        return pd.DataFrame(
            rows, columns=["dataset", "house_id", "channel_id", "universal_label", "data_type"]
        ).astype({"house_id": np.int32})

    def setup(self, ctx: Ctx, round_: str) -> dict:
        """Write the canonical store and the BM25 and IVF layouts the
        requests read, into fresh directories."""
        from nilm_data_framework_spark.operators import similarity, text
        from nilm_data_framework_spark.sources import canonical

        spark = ctx.spark
        tables = f"{ctx.raw}/tables"
        base = f"{ctx.work}/out/{round_}"
        self.store, self.bm25, self.ivf = (
            _fresh(f"{base}/store"), _fresh(f"{base}/bm25"), _fresh(f"{base}/ivf")
        )
        ctx.op(
            "setup.store", "sources.canonical", round_,
            lambda: raw_readings_frame(spark, ctx.raw, mqtt=False),
            lambda df: canonical.write_readings(df, self.store),
        )
        ctx.op(
            "setup.bm25", "operators.text", round_,
            lambda: spark.read.parquet(f"{tables}/documents.parquet"),
            lambda df: text.write_bm25_index(df, self.bm25),
        )

        def ivf_frame():
            corpus = spark.read.parquet(f"{tables}/embeddings.parquet")
            self.centroids = similarity.sample_centroids(corpus, self.N_CENTROIDS, method="hash")
            return corpus

        ctx.op(
            "setup.ivf", "operators.similarity", round_, ivf_frame,
            lambda df: similarity.write_ivf_corpus(df, self.ivf, self.centroids),
        )
        return {"store": self.store, "stored": [self.store, self.bm25, self.ivf]}

    def sizes(self) -> dict:
        r, u = self.REFIT, self.UKDALE
        return {
            "refit_rows": r["houses"] * r["rows"],
            "ukdale_rows": u["houses"] * u["channels"] * u["rows"],
            "documents": self.N_DOCS,
            "vectors": self.N_VECS,
        }

    def index_files(self) -> dict:
        """Files in each probed layout, for the probes' prune ratio."""
        return {"req.bm25": gen.tree_bytes(self.bm25)[0], "req.ivf": gen.tree_bytes(self.ivf)[0]}

    def _requests(self) -> list[dict]:
        """One request of each kind in a seeded order, with seeded
        parameters. A fixed mix gives every kind the same number of samples
        on every seed; only the order and the parameters vary."""
        rng = self.rng
        t_lo = gen.REFIT_T0 + 3600
        reqs = []
        for i in rng.permutation(len(self.KINDS)).tolist():
            kind = self.KINDS[i]
            start = t_lo + int(rng.integers(0, 30_000))
            r = {"kind": kind, "start": start, "end": start + int(rng.integers(3_600, 14_400))}
            if kind == "label":
                r["label"] = LABELS[int(rng.integers(0, len(LABELS)))]
            elif kind == "power_type":
                r["house"] = int(rng.integers(1, self.REFIT["houses"] + 1))
            elif kind == "bm25":
                terms = rng.choice(gen.DOC_VOCAB // 3, 2, replace=False)
                r["terms"] = [f"w{int(t)}" for t in sorted(terms.tolist())]
            else:
                r["qid"] = -1 - int(rng.integers(0, 1_000_000))
                r["vec"] = rng.normal(0, 1, self.DIM).astype(np.float32).tolist()
            reqs.append(r)
        return reqs

    def run_pass(self, ctx: Ctx, round_: str) -> dict:
        reqs = self._requests()
        return {"requests": [(r, self.request(ctx, r, round_)) for r in reqs]}

    def request(self, ctx: Ctx, r: dict, round_: str):
        from pyspark.sql import functions as F

        from nilm_data_framework_spark.operators import aggregates, resample, selectors, similarity, text
        from nilm_data_framework_spark.sources import canonical

        spark = ctx.spark
        ts = lambda t: pd.Timestamp(t, unit="s").strftime("%Y-%m-%d %H:%M:%S")  # noqa: E731
        keys = ["dataset", "house_id", "channel_id"]

        def readings_for(ch):
            rd = canonical.read_readings(spark, self.store)
            rd = rd.join(ch.select(*keys), on=keys, how="left_semi")
            return selectors.time_range(rd, start=ts(r["start"]), end=ts(r["end"]))

        def channels():
            return spark.read.parquet(f"{ctx.raw}/tables/channels.parquet")

        kind = r["kind"]
        if kind == "label":
            def build():
                ch = selectors.by_label(channels(), r["label"])
                return resample.resample_mean(readings_for(ch), keys, 60)
            layer = "operators.selectors"
        elif kind == "power_type":
            def build():
                ch = selectors.by_power_type(channels(), "active").filter(
                    (F.col("house_id") == r["house"]) & (F.col("universal_label") != "aggregate")
                )
                return aggregates.aggregate_from_appliances(readings_for(ch), ["dataset", "house_id"], seconds=300)
            layer = "operators.selectors"
        elif kind == "bm25":
            def build():
                return text.bm25_topk_indexed(spark, self.bm25, r["terms"], self.TOP_K)
            layer = "probe"
        else:
            def build():
                q = spark.createDataFrame([(r["qid"], r["vec"])], "vec_id long, embedding array<float>")
                return similarity.ivf_topk_partitioned(
                    spark, self.ivf, q, self.TOP_K, self.centroids, n_probe=self.N_PROBE
                )
            layer = "probe"
        return ctx.op(f"req.{kind}", layer, round_, build, lambda df: df.toPandas())

    def answers(self, ctx: Ctx) -> dict:
        tables = f"{ctx.raw}/tables"
        con = duckdb.connect()
        oracle.raw_readings(con, ctx.raw, mqtt=False)
        con.execute(f"CREATE TABLE channels AS SELECT * FROM read_parquet('{tables}/channels.parquet')")
        docs = pd.read_parquet(f"{tables}/documents.parquet")
        emb = pd.read_parquet(f"{tables}/embeddings.parquet")
        return {
            "con": con,
            "counts": oracle.reading_counts(con),
            "docs": [t.lower().split() for t in docs["text"]],
            "doc_ids": docs["doc_id"].to_numpy(),
            "vecs": np.stack(emb["embedding"].to_numpy()).astype(np.float64),
            "vec_ids": emb["vec_id"].to_numpy(),
            "centroids": np.asarray(self.centroids, dtype=np.float64),
        }

    def check(self, ans: dict, out: dict) -> list[str]:
        """Names of the wrong outputs of one set-up round or one pass."""
        if "requests" in out:
            return [f"req.{r['kind']}" for r, got in out["requests"] if not self.check_request(ans, r, got)]
        ok = _safe(lambda: oracle.store_counts(out["store"]) == ans["counts"])
        return [] if ok else ["setup.store"]

    def check_request(self, ans: dict, r: dict, got: pd.DataFrame | None) -> bool:
        if got is None:
            return False
        con = ans["con"]
        span = f"ts_us BETWEEN {r['start'] * 1_000_000} AND {r['end'] * 1_000_000}"
        if r["kind"] == "label":
            lab = r["label"].replace("'", "''")
            want = oracle.channel_means(
                con, 60,
                f"""{span} AND {CHANNEL_KEY} IN (
                      SELECT {CHANNEL_KEY} FROM channels
                      WHERE lower(universal_label) = '{lab}')""",
            )
            secs = got["bucket_ts"].to_numpy().astype("datetime64[s]").astype(np.int64)
            have = {
                (d, int(h), c, int(b)): v
                for d, h, c, b, v in zip(got["dataset"], got["house_id"], got["channel_id"], secs, got["power"])
            }
            return oracle.same_map(have, want)
        if r["kind"] == "power_type":
            want = oracle.bucket_sums(
                con, 300,
                f"""{span} AND {CHANNEL_KEY} IN (
                      SELECT {CHANNEL_KEY} FROM channels
                      WHERE data_type = 'active' AND house_id = {r['house']}
                        AND universal_label <> 'aggregate')""",
            )
            return check_sums(got, want)
        if r["kind"] == "bm25":
            ranked = oracle.bm25_ranked(ans["docs"], ans["doc_ids"], r["terms"])
            have = list(zip(got["doc_id"].tolist(), got["bm25"].tolist()))
            ranked = [(i, round(s, 4)) for i, s in ranked]
            return oracle.topk_ok(have, ranked, self.TOP_K, 1e-4) and got["rk"].tolist() == list(range(1, len(got) + 1))
        ranked = oracle.ivf_ranked(
            ans["vecs"], ans["vec_ids"], ans["centroids"],
            np.asarray(r["vec"], dtype=np.float64), r["qid"], self.N_PROBE,
        )
        got = got.sort_values("rk")
        have = list(zip(got["match_id"].tolist(), got["cosine"].tolist()))
        return oracle.topk_ok(have, ranked, self.TOP_K, 1e-9)


WORKLOADS = {w.name: w for w in (NilmEtl, Interactive)}
