"""The benchmark's workloads.

Each workload is a fixed list of steps run as one *pass* by a single
client, one step at a time (a closed loop). Steps marked as the
workload's unit operation are timed individually for ``op_p50_s`` /
``op_tail_s``. Outputs are checked after the pass, outside every timed
region; a failed check counts as a failed operation.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import pickle
import shutil
import threading
import time

import numpy as np
import pyarrow.parquet as pq

import gen

# One query per kind the mix stands for: TPC-H scan/aggregate and
# multi-way join, and the persisted IVF index's build and refresh
# (ann_index). Three, because the run budget (README.md) holds no more
# beside the dedup chain.
QUERY_MIX = ("q1_pricing_summary", "q9_nation_year_profit", "ivf_index_lifecycle_report")
QUERY_TABLES = (
    "region nation customer supplier part orders lineitem embeddings".split()
)


class OpFailed(Exception):
    """An operation did not complete in time."""


class Pass:
    """One pass: its directory, its unit-operation timings and failures."""

    def __init__(self, ctx, index: int) -> None:
        self.ctx = ctx
        self.index = index
        self.dir = os.path.join(ctx.work, f"pass_{index}")
        os.makedirs(self.dir, exist_ok=True)
        self.ops: list[tuple[str, float]] = []
        self.attempted = 0
        self.errors: list[str] = []
        self.out: dict = {}

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    @contextlib.contextmanager
    def step(self, name: str, layer: str | None, op: bool = False):
        """A top-level step; ``op=True`` times it as a unit operation."""
        tr = self.ctx.tracer
        self.attempted += 1
        t0 = time.perf_counter()
        with tr.span(name, layer):
            yield
        if op:
            self.ops.append((name, time.perf_counter() - t0))
        tr.step_done()


def _quiet():
    """CLI verbs print progress lines; keep stdout for the result line."""
    return contextlib.redirect_stdout(io.StringIO())


def _conf(p: Pass, name: str, conf: dict) -> list[str]:
    path = p.path(f"{name}.json")
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(conf, fh)
    return ["--conf", path]


def _rows(path: str) -> int:
    return pq.read_table(path).num_rows


# --------------------------------------------------------------------------
# etl_score: the reference's own surface
# --------------------------------------------------------------------------
class EtlScore:
    name = "etl_score"
    inputs = ("features",)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        inp = ctx.inputs
        r = inp["rows"]
        # rows read per pass: mover, pipeline, trainer, scorer and both
        # datadiffs read `features` (datadiffs also `features_b`), the
        # validator reads `features_dirty`
        self.input_rows = 6 * r["features"] + 2 * r["features_b"] + r["features_dirty"]

    def prepare(self) -> None:
        from spark_pipeline_spark.models import LinearModel
        from spark_pipeline_spark.operators.training import save_model

        self.model = LinearModel(gen.TRUE_COEF, gen.TRUE_INTERCEPT)
        self.model_path = os.path.join(self.ctx.work, "linear_model.pkl")
        save_model(self.model, self.model_path)
        feats = pq.read_table(self.ctx.path("features")).to_pandas()
        self.features = feats
        kept = feats[feats["status"] != "closed"]
        self.expect_by_segment = kept.groupby("segment").size().to_dict()
        self.expect_wide = int((kept["f3"] > 0).sum())
        self.expect_pred = self.model.predict(feats)

    def run_pass(self, p: Pass) -> None:
        from spark_pipeline_spark import cli
        from spark_pipeline_spark.io import sources
        from spark_pipeline_spark.operators import datadiff

        src = {"path": self.ctx.path("features")}
        feat_cols = list(gen.TRUE_COEF)
        with p.step("mover", "cli", op=True), _quiet() as out:
            cli.main_mover(_conf(p, "mover", {
                "source": {**src, "transform-sql": (
                    "SELECT uid, f1, f2, segment FROM dataset_temp "
                    "WHERE segment = 'A' AND f1 > 0")},
                "target": {"path": p.path("mover")},
                "log-count": True,
            }))
        p.out["mover_log"] = out.getvalue()
        with p.step("pipeline", "cli", op=True), _quiet():
            cli.main_pipeline(_conf(p, "pipeline", {"steps": [
                {"name": "raw", "source": src},
                {"name": "clean", "sql": "SELECT * FROM raw WHERE status <> 'closed'",
                 "cache": True},
                {"name": "by_segment", "sql": (
                    "SELECT segment, count(*) AS n, round(avg(f1), 6) AS avg_f1 "
                    "FROM clean GROUP BY segment"),
                 "target": {"path": p.path("by_segment")}},
                {"name": "wide", "sql": (
                    "SELECT uid, f1 + f2 AS s12, segment FROM clean WHERE f3 > 0"),
                 "target": {"path": p.path("wide")}},
            ]}))
        with p.step("validator", "cli", op=True), _quiet() as out:
            p.out["validator_rc"] = cli.main_validator(_conf(p, "validator", {
                "source": {"path": self.ctx.path("features_dirty")},
                "rules": [
                    {"kind": "not_null", "column": "uid"},
                    {"kind": "in_range", "column": "f1", "lo": -10, "hi": 10},
                    {"kind": "accepted_values", "column": "status",
                     "values": gen.STATUSES},
                    {"kind": "unique", "columns": ["uid"]},
                ],
            }))
        p.out["validator_log"] = out.getvalue()
        with p.step("trainer", "cli", op=True), _quiet():
            cli.main_trainer(_conf(p, "trainer", {"model-definition": {
                "factory": "spark_pipeline_spark.models:new_ols",
                "dataset": {**src, "transform-sql": (
                    "SELECT f1, f2, f3, f4, true_target FROM dataset_temp")},
                "target-column": "true_target",
                "path": p.path("ols.pkl"),
            }}))
        with p.step("scorer", "cli", op=True), _quiet():
            cli.main_scorer(_conf(p, "scorer", {
                "source": src,
                "model": {"path": self.model_path, "name": "linear",
                          "cols-to-save": ["uid", "true_target", "business_dt"],
                          "feature-columns": feat_cols},
                "target": {"path": p.path("scored")},
            }))
        a = {"path": self.ctx.path("features")}
        b = {"path": self.ctx.path("features_b")}
        with p.step("datadiff_continuous", "operators.datadiff", op=True):
            p.out["cont"] = datadiff.diff_datasets_continuous(
                sources.load(self.ctx.spark, a), sources.load(self.ctx.spark, b),
                columns=feat_cols,
            )
        with p.step("datadiff_discrete", "operators.datadiff", op=True):
            p.out["disc"] = datadiff.diff_datasets_discrete(
                sources.load(self.ctx.spark, a), sources.load(self.ctx.spark, b),
                columns=["segment", "status"],
            )
        self.ctx.spark.catalog.clearCache()  # the verbs leave their caches

    def check_pass(self, p: Pass) -> list[str]:
        errs = []
        want = self.ctx.inputs["planted"]
        if _rows(p.path("mover")) != want["mover_rows"]:
            errs.append(f"mover rows {_rows(p.path('mover'))} != {want['mover_rows']}")
        if f"moved rows: {want['mover_rows']}" not in p.out["mover_log"]:
            errs.append("mover log-count line missing or wrong")
        seg = pq.read_table(p.path("by_segment")).to_pandas()
        got = dict(zip(seg["segment"], seg["n"]))
        if got != self.expect_by_segment:
            errs.append(f"pipeline by_segment {got} != {self.expect_by_segment}")
        if _rows(p.path("wide")) != self.expect_wide:
            errs.append("pipeline wide sink row count")
        if p.out["validator_rc"] != 1:
            errs.append(f"validator exit {p.out['validator_rc']} != 1")
        found = {}
        for line in p.out["validator_log"].splitlines():
            if line.startswith(("PASS ", "FAIL ")):
                _, rule, viol = line.split(" ")
                found[rule] = int(viol.split("=")[1])
        if found != want["validator"]:
            errs.append(f"validator violations {found} != {want['validator']}")
        with open(p.path("ols.pkl"), "rb") as fh:
            ols = pickle.load(fh)  # written by the trainer verb of this pass
        coef = dict(zip(ols.feature_cols, ols.coef_))
        if any(abs(coef[c] - w) > 0.01 for c, w in gen.TRUE_COEF.items()) or abs(
            ols.intercept_ - gen.TRUE_INTERCEPT
        ) > 0.01:
            errs.append(f"trainer coefficients {coef} off the planted model")
        scored = pq.read_table(p.path("scored")).to_pandas()
        scored = scored.assign(uid=scored["uid"].astype("int64")).sort_values("uid")
        if len(scored) != len(self.features) or not np.array_equal(
            scored["pred"].to_numpy(), self.expect_pred
        ):
            errs.append("scorer output differs from the model applied in pandas")
        for key in ("cont", "disc"):
            vals = list(p.out[key].values())
            if not vals or any(not 0.0 < v <= 1.0 for v in vals):
                errs.append(f"datadiff {key} distances {p.out[key]} not in (0, 1]")
        return errs

    def final_check(self, last: Pass) -> list[str]:
        from spark_pipeline_spark.io import sources
        from spark_pipeline_spark.operators import datadiff

        x = sources.load(self.ctx.spark, {"path": self.ctx.path("features")})
        cont = datadiff.diff_datasets_continuous(x, x, columns=list(gen.TRUE_COEF))
        if any(cont.values()):
            return [f"datadiff(X, X) != 0: {cont}"]
        return []


# --------------------------------------------------------------------------
# query_mix: registry queries by name
# --------------------------------------------------------------------------
def frame_digest(pdf) -> str:
    """Order-insensitive digest under the oracle's normalization rules."""
    import hashlib

    import pandas as pd
    from tests.oracle import _normalize

    norm = _normalize(pdf)
    h = hashlib.sha256(json.dumps(list(norm.columns)).encode())
    h.update(str(len(norm)).encode())
    if len(norm):
        h.update(pd.util.hash_pandas_object(norm, index=False).to_numpy().tobytes())
    return h.hexdigest()


def dtype_families(pdf) -> dict[str, str]:
    from tests.oracle import _dtype_family

    return {c: _dtype_family(pdf[c]) for c in pdf.columns}


class QueryMix:
    """The registry queries, then the batch half of a ``dedup_corpus``
    pass and the start of its stream, whose first micro-batch indexes the
    survivors. That measures the text, dedup, graph and streaming layers,
    which no registry query reaches through its spans."""

    name = "query_mix"
    inputs = ("relational", "documents", "embeddings")

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.dedup = DedupCorpus(ctx, n_batches=0)
        self.input_rows = (
            sum(ctx.inputs["rows"][t] for t in QUERY_TABLES) + self.dedup.input_rows
        )

    def prepare(self) -> None:
        import duckdb

        from spark_pipeline_spark.queries import REGISTRY

        self.want = {}
        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.ctx.path(t)}')"
                )
            for name in QUERY_MIX:
                pdf = con.execute(REGISTRY[name].oracle).fetchdf()
                self.want[name] = (frame_digest(pdf), dtype_families(pdf))
        finally:
            con.close()

    def run_pass(self, p: Pass) -> None:
        from spark_pipeline_spark.queries import REGISTRY
        from spark_pipeline_spark.session import release_query_caches

        build = 0.0
        got = {}
        for name in QUERY_MIX:
            with p.step(name, "queries", op=True):
                t0 = time.perf_counter()
                df = REGISTRY[name].fn(self.ctx.spark, self.ctx.inputs["root"])
                build += time.perf_counter() - t0
                got[name] = df.toPandas()
            release_query_caches()
        p.out["got"] = got
        p.out["queries.build_s"] = build
        self.dedup.run_pass(p)

    def check_pass(self, p: Pass) -> list[str]:
        errs = []
        for name, pdf in p.out.pop("got").items():
            digest, fams = self.want[name]
            if frame_digest(pdf) != digest or dtype_families(pdf) != fams:
                errs.append(f"{name}: result differs from the DuckDB oracle")
        return errs + self.dedup.check_pass(p)

    def trace_extras(self) -> dict[str, float]:
        return self.dedup.trace_extras()

    def final_check(self, last: Pass) -> list[str]:
        return []


# --------------------------------------------------------------------------
# ann_lifecycle: persisted IVF index writes beside index reads
# --------------------------------------------------------------------------
ANN_K = 10
ANN_SEARCHES = 6
RECALL_FLOOR = 0.9


class AnnLifecycle:
    name = "ann_lifecycle"
    inputs = ("embeddings",)

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.n = ctx.inputs["rows"]["embeddings"]
        self.input_rows = self.n
        self.n_base = int(self.n * 0.8)
        self.n_delta = int(self.n * 0.1)

    def _frames(self):
        from pyspark.sql import functions as F

        e = self.ctx.spark.read.parquet(self.ctx.path("embeddings")).select(
            "vec_id", "embedding"
        )
        lo, hi = self.n_base, self.n_base + self.n_delta
        base = e.filter(F.col("vec_id") < lo)
        delta = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        queries = [
            e.filter(F.col("vec_id") >= hi).filter(
                F.pmod("vec_id", F.lit(ANN_SEARCHES // 2)) == i
            )
            for i in range(ANN_SEARCHES // 2)
        ]
        purge = e.filter((F.col("vec_id") < lo) & (F.pmod("vec_id", F.lit(80)) == 7))
        return e, base, delta, queries, purge

    def prepare(self) -> None:
        from pyspark.sql import functions as F

        from spark_pipeline_spark.operators.similarity import cosine_topk

        e, base, delta, queries, purge = self._frames()
        self.frames = (base, delta, queries, purge)
        corpus = e.filter(F.col("vec_id") < self.n_base + self.n_delta)
        allq = e.filter(F.col("vec_id") >= self.n_base + self.n_delta)
        truth = cosine_topk(corpus, allq, ANN_K).toPandas()
        self.truth = truth.groupby("query_id")["neighbor_id"].apply(set).to_dict()
        self.purged = {r[0] for r in purge.select("vec_id").collect()}
        self.final_corpus = corpus.filter(~F.col("vec_id").isin(list(self.purged)))
        self.all_queries = allq

    def run_pass(self, p: Pass) -> None:
        from spark_pipeline_spark import ann_index

        spark = self.ctx.spark
        base, delta, queries, purge = self.frames
        idx = p.path("ivf")
        sizes = {}
        with p.step("build", "ann_index"):
            ann_index.build_ivf_index(
                spark, base, idx, k_cells=gen.N_CLUSTERS, pq_m=4, pq_k=16
            )
        sizes["build"] = _du_mb(idx)
        with p.step("refresh", "ann_index"):
            ann_index.refresh_ivf_index(spark, delta, idx).collect()
        sizes["refresh"] = _du_mb(idx)
        results = []
        for s in range(ANN_SEARCHES):
            kind = "search" if s % 2 == 0 else "search_pq"
            fn = ann_index.ivf_index_search if s % 2 == 0 else ann_index.ivf_index_search_pq
            with p.step(kind, "ann_index", op=True):
                results.append((kind, fn(
                    spark, idx, queries[s // 2], k=ANN_K, nprobe=gen.NPROBE
                ).toPandas()))
        with p.step("purge", "ann_index"):
            ann_index.purge_ids_from_ivf_index(spark, idx, purge.select("vec_id"))
        sizes["purge"] = _du_mb(idx)
        with p.step("rebuild", "ann_index"):
            ann_index.rebuild_ivf_index(spark, idx)
        sizes["rebuild"] = _du_mb(idx)
        p.out.update(results=results, index=idx)
        p.out.update({f"ann_index.index_mb.{k}": v for k, v in sizes.items()})

    def check_pass(self, p: Pass) -> list[str]:
        """The floor holds for the float search. PQ search recall is
        recorded, not checked: at pq_m=4, pq_k=16 it reads about 0.16 on
        these clusters, a property of the program's PQ, not of this run."""
        hits = {"search": 0, "search_pq": 0}
        total = dict.fromkeys(hits, 0)
        for kind, res in p.out.pop("results"):
            for q, grp in res.groupby("query_id"):
                hits[kind] += len(set(grp["neighbor_id"]) & self.truth[q])
                total[kind] += ANN_K
        recall = {k: hits[k] / total[k] if total[k] else 0.0 for k in hits}
        p.out["ann_index.recall_at_k"] = recall["search"]
        p.out["recall_pq"] = recall["search_pq"]
        p.out["ann_index.index_mb"] = p.out["ann_index.index_mb.rebuild"]
        if recall["search"] < RECALL_FLOOR:
            return [f"recall@{ANN_K} {recall['search']:.3f} below floor {RECALL_FLOOR}"]
        return []

    def final_check(self, last: Pass) -> list[str]:
        """Search with every cell probed equals exact search."""
        from spark_pipeline_spark import ann_index
        from spark_pipeline_spark.operators.similarity import cosine_topk

        spark = self.ctx.spark
        got = ann_index.ivf_index_search(
            spark, last.out["index"], self.all_queries, k=ANN_K, nprobe=gen.N_CLUSTERS
        ).toPandas()
        want = cosine_topk(self.final_corpus, self.all_queries, ANN_K).toPandas()
        key = ["query_id", "neighbor_id", "rank"]
        g = sorted(map(tuple, got[key].astype("int64").to_numpy().tolist()))
        w = sorted(map(tuple, want[key].astype("int64").to_numpy().tolist()))
        if g != w:
            return ["ivf search with nprobe = all cells differs from exact cosine_topk"]
        return []


def _du_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / (1024.0 * 1024.0)


# --------------------------------------------------------------------------
# dedup_corpus: batch near-dup dedup, then incremental micro-batches
# --------------------------------------------------------------------------
DEDUP_THRESHOLD = 0.8
QUALITY_MIN = 0.35
BATCH_TIMEOUT_S = 60.0


class DedupCorpus:
    name = "dedup_corpus"
    inputs = ("documents",)

    def __init__(self, ctx, n_batches: int | None = None) -> None:
        self.ctx = ctx
        d = os.path.join(ctx.inputs["root"], "stream_batches")
        self.batches = [os.path.join(d, f) for f in sorted(os.listdir(d))][:n_batches]
        self.input_rows = ctx.inputs["rows"]["documents"] + sum(
            pq.read_metadata(f).num_rows for f in self.batches
        )

    def prepare(self) -> None:
        pass

    def run_pass(self, p: Pass) -> None:
        from pyspark.sql import functions as F

        from spark_pipeline_spark import streaming
        from spark_pipeline_spark.io import sinks, sources
        from spark_pipeline_spark.operators import dedup, graph, text

        spark = self.ctx.spark
        docs = sources.load(spark, {"path": self.ctx.path("documents")})
        with p.step("text_filter", "operators.text"):
            kept = docs.filter(text.quality_score("text") >= QUALITY_MIN).withColumn(
                "text_norm", text.normalize_text("text")
            ).persist()
            p.out["kept"] = kept.count()
        with p.step("near_dup_pairs", "operators.dedup"):
            pairs = dedup.minhash_near_dup_pairs(
                kept, "doc_id", "text_norm", threshold=DEDUP_THRESHOLD
            ).persist()
            p.out["pairs"] = pairs.count()
        with p.step("components", "operators.graph"):
            comps = graph.connected_components(
                pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
            )
            survivors = graph.dedup_representatives(kept, comps, "doc_id")
        src_dir = p.path("stream_src")
        with p.step("save", "io.sinks"):
            sinks.save(survivors.select("doc_id", "text"), {"path": src_dir})
        kept.unpersist()
        pairs.unpersist()

        # Incremental half: a running stream over `src_dir`; its first
        # micro-batch indexes the survivors, then each unit operation lands
        # one batch file and waits for the sink to report it.
        done: dict[int, int] = {}
        cond = threading.Condition()

        def on_batch(bid: int, n: int) -> None:
            with cond:
                done[bid] = n
                cond.notify_all()

        def wait_for(bid: int) -> None:
            with cond:
                if not cond.wait_for(lambda: bid in done, timeout=BATCH_TIMEOUT_S):
                    raise OpFailed(f"micro-batch {bid} not processed in time")

        index, accepted = p.path("lsh_index"), p.path("accepted")
        with p.step("stream_start", "streaming"):
            stream = streaming.read_parquet_stream(
                spark, src_dir, "doc_id bigint, text string"
            )
            q = streaming.stream_dedup_lsh_sink(
                stream, index, accepted, "doc_id", "text",
                threshold=DEDUP_THRESHOLD, available_now=False,
                checkpoint=p.path("ckpt"), on_batch=on_batch,
            )
            wait_for(0)
        try:
            for b, f in enumerate(self.batches, start=1):
                staged = p.path(f"incoming_{b}.parquet")
                shutil.copyfile(f, staged)
                with p.step("micro_batch", "streaming", op=True):
                    os.replace(staged, os.path.join(src_dir, f"batch_{b:03d}.parquet"))
                    wait_for(b)
        finally:
            q.stop()
        p.out.update(done=dict(done), index=index, accepted=accepted,
                     ckpt=p.path("ckpt"), src=src_dir)
        self.verified = p.out["pairs"]

    def trace_extras(self) -> dict[str, float]:
        """Verified near-dup pairs per LSH candidate pair, counted with the
        public band-key function over the same filtered corpus."""
        from pyspark.sql import functions as F

        from spark_pipeline_spark.operators import dedup, text

        docs = self.ctx.spark.read.parquet(self.ctx.path("documents"))
        kept = docs.filter(text.quality_score("text") >= QUALITY_MIN).select(
            "doc_id", text.normalize_text("text").alias("text_norm")
        )
        # shingle_table has the fast plan shape; explode_outer keeps the
        # band-key expression out of a pushed-down filter
        sh = dedup.shingle_table(kept, "doc_id", "text_norm")
        keys = sh.select(
            "__id", F.posexplode_outer(dedup.minhash_band_keys("__sh")).alias("band", "key")
        ).persist()
        a, b = keys.alias("a"), keys.alias("b")
        cand = a.join(b, (F.col("a.band") == F.col("b.band"))
                      & (F.col("a.key") == F.col("b.key"))
                      & (F.col("a.__id") < F.col("b.__id")))
        n = cand.select("a.__id", "b.__id").distinct().count()
        keys.unpersist()
        return {"operators.dedup.verified_per_candidate": self.verified / n if n else 0.0}

    def check_pass(self, p: Pass) -> list[str]:
        want = self.ctx.inputs["planted"]
        errs = []
        n_docs = self.ctx.inputs["rows"]["documents"]
        if p.out["kept"] != n_docs - want["doc_junk"]:
            errs.append(f"text filter kept {p.out['kept']}, want {n_docs - want['doc_junk']}")
        if p.out["done"].get(0) != want["doc_survivors"]:
            errs.append(
                f"survivors {p.out['done'].get(0)} != planted {want['doc_survivors']}"
            )
        n = len(self.batches)
        got = [p.out["done"].get(b) for b in range(1, n + 1)]
        if got != want["stream_accepted"][:n]:
            errs.append(f"micro-batch accepted {got} != {want['stream_accepted'][:n]}")
        return errs

    def final_check(self, last: Pass) -> list[str]:
        """Replaying the last micro-batch leaves the accepted set unchanged."""
        from spark_pipeline_spark import streaming

        spark = self.ctx.spark
        out = last.out
        before = sorted(r[0] for r in spark.read.parquet(out["accepted"]).select("doc_id").collect())
        last_id = max(out["done"])
        # the at-least-once case: the batch ran, its commit is lost (the
        # pass may have stopped the query before the commit was written)
        for name in (str(last_id), f".{last_id}.crc"):
            commit = os.path.join(out["ckpt"], "commits", name)
            if os.path.exists(commit):
                os.remove(commit)
        replayed: dict[int, int] = {}
        q = streaming.stream_dedup_lsh_sink(
            streaming.read_parquet_stream(spark, out["src"], "doc_id bigint, text string"),
            out["index"], out["accepted"], "doc_id", "text",
            threshold=DEDUP_THRESHOLD, available_now=True, checkpoint=out["ckpt"],
            on_batch=lambda bid, n: replayed.__setitem__(bid, n),
        )
        q.awaitTermination(BATCH_TIMEOUT_S)
        after = sorted(r[0] for r in spark.read.parquet(out["accepted"]).select("doc_id").collect())
        errs = []
        if list(replayed) != [last_id]:
            errs.append(f"replay ran batches {sorted(replayed)}, want [{last_id}]")
        if before != after:
            errs.append("replaying a micro-batch changed the accepted set")
        return errs


WORKLOADS = {w.name: w for w in (EtlScore, DedupCorpus, AnnLifecycle, QueryMix)}
