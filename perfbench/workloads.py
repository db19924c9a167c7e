"""The benchmark workloads: each runs a fixed script of operations through
the engine's public entry points, verifies every output, and (traced)
breaks the operations down by layer.

A workload's ``run`` records one top-level span per operation and per
check; ``trace_layers`` runs only in traced runs, after the checks, so
the untraced part of a traced run does the same work as an untraced run.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import time

import pyarrow.parquet as pq

from perfbench import gen, oracle
from perfbench.stats import StatusStore

ZOOMS = list(range(0, 6))
_SPREAD_EXCHANGE = re.compile(
    r"^Exchange hashpartitioning\((doc_id|lon)#\d+L?, \d+\), REPARTITION_BY_NUM")
_ENCODE_EXCHANGE = re.compile(
    r"^Exchange hashpartitioning\((_bucket#|z#\d+, x#\d+L?, y#)")

# volume gates this host cannot reach at these sizes (recorded, not
# forced: inputs are never resized to reach a gate)
UNREACHABLE = {
    "variant.fused_low": "FUSED_LOW_MIN_CORES=24 > 4 cores",
    "variant.stream_encode": "STREAM_ENCODE_MIN_ROWS=1M fan-out rows",
    "variant.url_dict": "URL_DICT_MIN_ROWS=1M pages",
    "variant.cap_first": "needs stream encode (1M fan-out rows)",
    "variant.fused_anchor": "needs max zoom >= anchor + 3 (z0-5: anchor 4)",
}

LAYER_METRICS = [
    # (name, unit, better)
    ("session.start_s", "s", "lower"), ("warmup_s", "s", "lower"),
    ("corpus.geocode_s", "s", "lower"), ("corpus.geocode_python_s", "s", "lower"),
    ("corpus.spread_exchanges", "count", "lower"), ("corpus.spread_shuffle_bytes", "B", "lower"),
    ("corpus.extract_s", "s", "lower"), ("corpus.extract_python_s", "s", "lower"),
    ("tiling.fanout_rows", "count", "lower"), ("tiling.fanout_s", "s", "lower"),
    ("pipeline.plan_s", "s", "lower"), ("pipeline.jobs", "count", "lower"),
    ("pipeline.exchanges", "count", "lower"), ("pipeline.encode_exchange_bytes", "B", "lower"),
    ("pipeline.encode_python_s", "s", "lower"), ("pipeline.python_share", "ratio", "lower"),
    ("pipeline.executor_cpu_s", "s", "lower"),
    ("pipeline.encode_rows_in", "count", "lower"), ("pipeline.features_encoded", "count", "higher"),
    ("pipeline.cap_dropped", "count", "lower"), ("pipeline.encode_useful_ratio", "ratio", "higher"),
    ("pipeline.encode_task_skew", "ratio", "lower"),
    ("mvt.kernel_features_per_s", "1/s", "higher"),
    ("cli.seed_s", "s", "lower"),
    ("sinks.write_s", "s", "lower"), ("sinks.bytes_written", "B", "lower"),
    ("sinks.files_written", "count", "lower"),
    ("spatial_join.cover_rows", "count", "lower"), ("spatial_join.cover_s", "s", "lower"),
    ("spatial_join.candidates", "count", "lower"), ("spatial_join.matches", "count", "higher"),
    ("spatial_join.pip_useful_ratio", "ratio", "higher"),
    ("spatial_join.pip_python_s", "s", "lower"),
    ("knn.passes", "count", "lower"), ("knn.candidate_rows", "count", "lower"),
    ("dedup.signatures_s", "s", "lower"), ("dedup.signature_python_s", "s", "lower"),
    ("dedup.band_rows", "count", "lower"), ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.pairs", "count", "higher"), ("dedup.exchanges", "count", "lower"),
    ("dedup.shuffle_bytes", "B", "lower"),
    ("live.affected_tiles", "count", "lower"), ("live.rebuilt_share", "ratio", "lower"),
    ("live.rebuild_s", "s", "lower"), ("live.read_current_s", "s", "lower"),
    ("variant.fused_anchor", "count", "lower"), ("variant.stream_encode", "count", "lower"),
    ("variant.cap_window", "count", "lower"), ("variant.cap_first", "count", "lower"),
    ("variant.url_dict", "count", "lower"), ("variant.spread", "count", "lower"),
    ("variant.fused_low", "count", "lower"),
    ("op.tiles_per_s", "1/s", "higher"), ("op.update_p50_s", "s", "lower"),
    ("op.update_waves", "count", "lower"),
    ("op.join_points_per_s", "1/s", "higher"), ("op.knn_s", "s", "lower"),
    ("op.minhash_docs_per_s", "1/s", "higher"), ("op.extract_docs_per_s", "1/s", "higher"),
    ("op.shuffle_bytes_per_tile", "B", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("trace.wall_s", "s", "lower"), ("trace.overhead_s", "s", "lower"),
    ("trace.span_coverage", "ratio", "higher"),
]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _tile_digest(df) -> dict:
    """(z, x, y) -> (md5 of tile_bytes, n_features, byte length)."""
    return {(r[0], r[1], r[2]): (r[3], r[4], r[5])
            for r in df.selectExpr(*oracle.TILE_DIGEST_SQL).collect()}


def _python_s(execs, desc_has: str = "") -> float:
    return sum(n.metrics.get("time to run Python workers", 0.0)
               for e in execs for n in e.nodes if desc_has in n.desc)


def _spread(execs) -> tuple[int, float]:
    ex = [n for e in execs for n in e.nodes if _SPREAD_EXCHANGE.match(n.desc)]
    return len(ex), sum(n.metrics.get("shuffle bytes written", 0.0) for n in ex)


def _shuffle_exchanges(execs) -> list:
    return [n for e in execs for n in e.nodes
            if n.name == "Exchange" and n.desc.startswith("Exchange ")]


class Workload:
    """Set-ups, a timed round of checked operations and, traced, a
    per-layer breakdown of that round."""

    def __init__(self, spark_factory, tracer, work_dir: str, seed: int,
                 traced: bool):
        self.spark_factory = spark_factory
        self.tracer = tracer
        self.work = work_dir
        self.seed = seed
        self.traced = traced
        self.spark = None
        self.store = None
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.layer: dict[str, float] = {}
        self.op_s: dict[str, float] = {}
        self._pending: list = []

    # -- helpers ---------------------------------------------------------
    def check(self, ok: bool, what: str, n_ops: int = 1) -> None:
        self.attempted += n_ops
        if not ok:
            self.failed += n_ops
            self.notes.append(f"CHECK FAILED: {what}")

    def op(self, name: str):
        """Top-level span around one operation. Its seconds land in
        ``op_s``; the status-store marks taken inside the span delimit
        the stages, jobs and SQL executions it ran, which ``collect``
        reads after the round so no reading falls inside a timed span."""
        wl = self

        class _Op:
            def __enter__(self):
                self.span = wl.tracer.span(name, kind="op")
                self.span.__enter__()
                self.begin = wl.store.mark()
                return self

            def __exit__(self, *exc):
                self.end = wl.store.mark()
                self.span.__exit__(*exc)
                rec = self.span.rec
                wl.op_s[name] = wl.op_s.get(name, 0.0) + rec["end"] - rec["start"]
                wl._pending.append(self)
                return False

            def collect(self):
                self.stages = wl.store.stages_between(self.begin, self.end)
                self.jobs = self.end[2] - self.begin[2]
                self.execs = wl.store.executions_between(self.begin, self.end) \
                    if wl.traced else []
        return _Op()

    def collect(self) -> None:
        """Read what the finished operations ran from the status stores."""
        for o in self._pending:
            o.collect()
        self._pending = []

    def setup(self, i: int) -> None:
        """One set-up: a fresh engine session and this seed's inputs."""
        with self.tracer.span("setup", kind="setup"):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup.session") as s:
                self.spark = self.spark_factory()
            self.layer.setdefault("session.start_s", s["end"] - s["start"])
            self.store = StatusStore(self.spark)
            with self.tracer.span("setup.inputs"):
                self.make_inputs(os.path.join(self.work, f"setup{i}"))


    def warm_up(self) -> None:
        """Start the session's Python workers, so the first measured
        Python stage does not pay for their start: a few hundred of
        this seed's pages through the engine's geocode UDF on every
        core."""
        from tegola_spark.sources import corpus

        docs = pq.read_table(self.warm_docs).slice(0, 400).to_pandas()
        cores = self.spark.sparkContext.defaultParallelism
        df = self.spark.createDataFrame(docs).repartition(cores)
        corpus.geocoded_points(df).collect()


class SeedUpdate(Workload):
    """tile_update + seed_small: the shipped sf0.1 pages stream in as
    wave 0 of ``streaming.live`` (pinned output), a seeded wave of new
    pages follows, and a batch build of all pages must equal the
    maintained tile set byte for byte."""

    WAVES = 1
    WAVE_PAGES = 300

    def make_inputs(self, d: str) -> None:
        self.inp = gen.seed_update(d, self.seed, self.WAVES, self.WAVE_PAGES)
        self.inp_dir = d
        self.warm_docs = os.path.join(self.inp.total_dir, "documents.parquet")

    def warm_up(self) -> None:
        """Also start Spark's streaming machinery (query threads, the
        Python callback server) with an empty file-source stream."""
        super().warm_up()
        d = os.path.join(self.inp_dir, "warm_stream")
        os.makedirs(d)
        schema = self.spark.read.parquet(self.warm_docs).schema
        (self.spark.readStream.schema(schema).parquet(d).writeStream
         .foreachBatch(lambda df, i: None)
         .option("checkpointLocation", os.path.join(d, "_ckpt"))
         .trigger(availableNow=True).start().awaitTermination())

    def run(self, round_no: int) -> None:
        from tegola_spark.plans import pipeline
        from tegola_spark.streaming import live

        spark = self.spark
        self.op_s = {}
        self.dir = os.path.join(self.inp_dir, f"round{round_no}")
        layers_dir = self.inp.layers_dir

        # incremental maintenance: each wave's file lands in the input
        # directory and is streamed in, timed from landing until
        # read_current has returned
        in_dir = os.path.join(self.dir, "landing")
        usink = os.path.join(self.dir, "live")
        ckpt = os.path.join(self.dir, "ckpt")
        os.makedirs(in_dir)      # also creates this round's directory
        self.wave_s, self.rebuild_s, self.read_s, self.wave_tiles = [], [], [], []
        self.landed = []
        for w, table in enumerate(self.inp.waves):
            staged = os.path.join(self.dir, f"w{w:03d}.parquet")
            pq.write_table(table, staged)
            self.landed.append(os.path.join(in_dir, f"w{w:03d}.parquet"))
            os.rename(staged, self.landed[-1])
            with self.op(f"update.wave{w}"):
                t0 = time.perf_counter()
                live.stream_tiles(spark, in_dir, layers_dir, usink, ZOOMS, ckpt)
                t1 = time.perf_counter()
                current = _tile_digest(live.read_current(spark, usink))
                t2 = time.perf_counter()
            self.wave_tiles.append(len(current))
            if w == 0:
                with self.tracer.span("check.wave0", kind="check"):
                    got = {"tiles": len(current),
                           "features": sum(v[1] for v in current.values()),
                           "bytes": sum(v[2] for v in current.values())}
                    self.check(got == oracle.PINNED_SEED,
                               f"sf0.1 tiles {got} != pinned {oracle.PINNED_SEED}")
            else:
                self.wave_s.append(t2 - t0)
                self.rebuild_s.append(t1 - t0)
                self.read_s.append(t2 - t1)

        # the batch seed build (what the CLI seed runs) over all pages,
        # in one file like sf0.1
        with self.op("seed") as o:
            _, tiles = pipeline.build_tiles_hierarchical(
                spark, self.inp.total_dir, ZOOMS)
            seeded = _tile_digest(tiles)
        self.seed_op = o
        self.n_tiles = len(seeded)
        with self.tracer.span("check.update", kind="check"):
            self.check(seeded == current,
                       f"live tiles differ from the batch build on "
                       f"{len(set(seeded.items()) ^ set(current.items()))} tiles",
                       n_ops=len(self.inp.waves))

    def e2e(self) -> dict:
        seed_s = self.op_s["seed"]
        self.seed_bytes = sum(s.shuffle_write for s in self.seed_op.stages)
        return {"items_per_s": self.n_tiles / seed_s,
                "shuffle_bytes_per_item": self.seed_bytes / self.n_tiles}

    def trace_layers(self) -> None:
        from pyspark.sql import Observation, functions as F

        from tegola_spark import cli
        from tegola_spark.operators import tiling
        from tegola_spark.plans import pipeline
        from tegola_spark.sources import corpus, sinks
        from tegola_spark.streaming import live

        spark, L, d = self.spark, self.layer, self.inp.total_dir
        o = self.seed_op
        stage_run = sum(s.run_s for s in o.stages)
        L["pipeline.python_share"] = _python_s(o.execs) / stage_run if stage_run else 0.0
        L["pipeline.executor_cpu_s"] = sum(s.cpu_s for s in o.stages)
        heavy = max(o.stages, key=lambda s: s.run_s)
        L["pipeline.encode_task_skew"] = self.store.task_skew(heavy)
        plan = "\n".join(e.plan for e in o.execs)
        names = [(n.name, n.desc) for e in o.execs for n in e.nodes]
        L["variant.fused_anchor"] = float(any(
            n == "FlatMapGroupsInPandas" and "tile_len" in s for n, s in names))
        L["variant.stream_encode"] = float(any(
            n == "MapInPandas" and "tile_len" not in s for n, s in names))
        L["variant.fused_low"] = float(any(
            n == "MapInPandas" and "tile_len" in s for n, s in names))
        L["variant.cap_window"] = float("_cap_dropped#" in plan)
        L["variant.cap_first"] = float("_thr#" in plan)
        L["variant.url_dict"] = float("_upid#" in plan)
        n_spread, b_spread = _spread(o.execs)
        L["variant.spread"] = float(n_spread > 0)
        L["corpus.spread_exchanges"] = n_spread
        L["corpus.spread_shuffle_bytes"] = b_spread

        # prefix costs: a lazy layer's public output materialized to the
        # noop sink. Blocks the operations left cached would shorten them.
        spark.catalog.clearCache()
        docs = corpus.documents(spark, d)
        with self.op("trace.geocode") as g:
            _noop(corpus.geocoded_points(docs))
        # the fan-out over already geocoded points: its own cost, with no
        # difference of two noisy prefixes
        pts = pipeline.point_features(spark, d).localCheckpoint()
        fan = tiling.assign_point_tiles(pts, ZOOMS)
        obs = Observation()
        with self.op("trace.fanout"):
            _noop(fan.observe(obs, F.count("*").alias("n")))
        self.collect()
        L["corpus.geocode_s"] = self.op_s["trace.geocode"]
        L["corpus.geocode_python_s"] = _python_s(g.execs)
        L["tiling.fanout_rows"] = obs.get["n"]
        L["tiling.fanout_s"] = self.op_s["trace.fanout"]

        with self.op("trace.plan") as p:
            metrics, tiles = pipeline.build_tiles_hierarchical(spark, d, ZOOMS)
        L["pipeline.plan_s"] = self.op_s["trace.plan"]
        metrics, tiles = metrics.cache(), tiles.cache()
        with self.op("trace.build") as b:
            metrics.count()
            tiles.count()
        self.collect()
        feats, dropped = metrics.agg(F.sum("n_features"), F.sum("n_dropped")).first()
        L["pipeline.features_encoded"] = feats
        L["pipeline.cap_dropped"] = dropped
        L["pipeline.jobs"] = p.jobs + b.jobs
        enc = [n for e in b.execs for n in e.nodes
               if n.name == "Exchange" and _ENCODE_EXCHANGE.match(n.desc)]
        L["pipeline.exchanges"] = len(_shuffle_exchanges(b.execs))
        L["pipeline.encode_exchange_bytes"] = sum(
            n.metrics.get("shuffle bytes written", 0.0) for n in enc)
        L["pipeline.encode_rows_in"] = sum(
            n.metrics.get("shuffle records written", 0.0) for n in enc)
        L["pipeline.encode_python_s"] = sum(
            n.metrics.get("time to run Python workers", 0.0)
            for e in b.execs for n in e.nodes
            if n.name in ("FlatMapGroupsInPandas", "MapInPandas"))
        L["pipeline.encode_useful_ratio"] = (
            feats / L["pipeline.encode_rows_in"]
            if L["pipeline.encode_rows_in"] else 0.0)

        out2 = os.path.join(self.dir, "trace_sink")
        with self.op("trace.sink"):
            sinks.write_tiles(tiles, metrics, out2)
        L["sinks.write_s"] = self.op_s["trace.sink"]
        files = [os.path.join(r, f) for r, _, fs in os.walk(out2) for f in fs
                 if not f.startswith(".") and not f.startswith("_SUCCESS")]
        L["sinks.files_written"] = len(files)
        L["sinks.bytes_written"] = sum(os.path.getsize(f) for f in files)
        metrics.unpersist()
        tiles.unpersist()

        # the CLI seed entry point: the same build plus the sink writes
        out = io.StringIO()
        with self.op("trace.cli"), contextlib.redirect_stdout(out):
            rc = cli.main(["seed", "--input", d, "--out",
                           os.path.join(self.dir, "cli_sink"),
                           "--min-zoom", str(ZOOMS[0]),
                           "--max-zoom", str(ZOOMS[-1]),
                           "--batch-zooms", str(len(ZOOMS)),
                           "--hierarchical", "--overwrite"], spark=spark)
        rec = json.loads(out.getvalue().strip().splitlines()[-1])
        self.check(rc == 0 and rec["records"][0]["n_tiles"] == self.n_tiles,
                   f"CLI seed exit {rc}, manifest {rec}")
        L["cli.seed_s"] = self.op_s["trace.cli"]

        # MVT kernel alone: one process, a fixed pandas sample of the
        # point fan-out (its deepest zoom), no Spark scheduling in the
        # timing; best of two
        sample = fan.where(F.col("z") == ZOOMS[-1]).select(
            *pipeline.POINT_STREAM_COLS).toPandas()
        with self.tracer.span("trace.kernel", kind="trace"):
            reps = []
            for _ in range(2):
                t0 = time.perf_counter()
                enc_out = pipeline.encode_bucket(sample, const_layer="pages")
                reps.append(time.perf_counter() - t0)
        L["mvt.kernel_features_per_s"] = (
            float(enc_out["n_features"].sum()) / min(reps))

        with self.tracer.span("trace.affected", kind="trace"):
            affected = [live.affected_tiles(spark, spark.read.parquet(f),
                                            self.inp.layers_dir, ZOOMS).count()
                        for f in self.landed[1:]]
        L["live.affected_tiles"] = statistics.mean(affected)
        L["live.rebuilt_share"] = statistics.mean(
            a / n for a, n in zip(affected, self.wave_tiles[1:]))
        L["live.rebuild_s"] = statistics.median(self.rebuild_s)
        L["live.read_current_s"] = statistics.median(self.read_s)
        L["op.tiles_per_s"] = self.n_tiles / self.op_s["seed"]
        L["op.update_p50_s"] = statistics.median(self.wave_s)
        L["op.update_waves"] = len(self.wave_s)
        L["op.shuffle_bytes_per_tile"] = self.seed_bytes / self.n_tiles

    def summary(self) -> dict:
        return {"tiles_per_s": self.n_tiles / self.op_s["seed"],
                "update_p50_s": statistics.median(self.wave_s),
                "update_waves": len(self.wave_s),
                "shuffle_bytes_per_tile": self.seed_bytes / self.n_tiles}


class JoinDedup(Workload):
    """Spatial joins, cell-ring kNN, MinHash LSH and html extraction over
    one generated corpus file."""

    N_DOCS = 10_000
    HOT_SHARE = 0.2
    DUP_SHARE = 0.05
    K = 10

    def make_inputs(self, d: str) -> None:
        self.inp = gen.join_dedup(d, self.seed, self.N_DOCS, self.HOT_SHARE,
                                  self.DUP_SHARE)
        self.warm_docs = os.path.join(self.inp.corpus_dir, "documents.parquet")

    def run(self, round_no: int) -> None:
        from pyspark.sql import functions as F

        from tegola_spark.operators import dedup, spatial_join as sj
        from tegola_spark.sources import corpus, layers

        spark, d = self.spark, self.inp.corpus_dir
        self.op_s = {}
        docs = corpus.documents(spark, d)
        points = docs.select(
            "doc_id", corpus.col_lon(F.col("doc_id")).alias("lon"),
            corpus.col_lat(F.col("doc_id")).alias("lat"))
        self.ops = {}
        joins = {}
        for name, layer, res in (("join_nations", layers.nation_layer, 6),
                                 ("join_regions", layers.region_layer, 2)):
            with self.op(name) as o:
                joins[name] = {(r[0], r[1]) for r in sj.spatial_join(
                    points, layer(spark, d), res).select(
                        "doc_id", "feature_id").collect()}
            self.ops[name] = o
        with self.op("knn") as o:
            knn = sorted(tuple(r) for r in sj.knn_cell_ring(
                points, self.inp.queries, k=self.K).collect())
        self.ops["knn"] = o
        with self.op("minhash") as o:
            pairs = {(r[0], r[1]): r[2] for r in dedup.minhash_lsh_pairs(
                docs, threshold=0.8).collect()}
        self.ops["minhash"] = o
        self.n_pairs = len(pairs)
        with self.op("extract") as o:
            pages = corpus.pages(spark, d)
            row = pages.select(
                (corpus.extract_text("html").eqNullSafe(F.col("text")))
                .alias("same")).agg(
                    F.count("*"), F.sum(F.when(~F.col("same"), 1).otherwise(0))
                ).first()
        self.ops["extract"] = o
        self.matches = sum(len(v) for v in joins.values())

        with self.tracer.span("check.join", kind="check"):
            ids = self.inp.doc_ids
            lon, lat = gen.lonlat(ids)
            for name, layer in (("join_nations", layers.nation_layer),
                                ("join_regions", layers.region_layer)):
                polys = [(r[0], r[1]) for r in layer(spark, d).select(
                    "feature_id", "geom").collect()]
                want = oracle.pip_pairs(ids, lon, lat, polys)
                self.check(joins[name] == want,
                           f"{name}: {len(joins[name] ^ want)} pairs differ "
                           f"from brute-force point-in-polygon")
        with self.tracer.span("check.knn", kind="check"):
            want = sorted(tuple(r) for r in sj.knn_bruteforce(
                points, self.inp.queries, k=self.K).collect())
            self.check(knn == want, "knn_cell_ring != knn_bruteforce")
        with self.tracer.span("check.minhash", kind="check"):
            cand = set(pairs) | self.inp.planted_pairs
            need = {i for p in cand for i in p}
            tbl = pq.read_table(os.path.join(d, "documents.parquet"),
                                columns=["doc_id", "text"])
            texts = {i: t for i, t in zip(tbl.column("doc_id").to_pylist(),
                                          tbl.column("text").to_pylist())
                     if i in need}
            want = oracle.expected_lsh_pairs(texts, cand)
            self.check(pairs == want and all(v >= 0.8 for v in pairs.values()),
                       f"minhash pairs: {len(set(pairs) ^ set(want))} differ "
                       f"from the reference LSH")
        self.check(row[0] == self.N_DOCS and row[1] == 0,
                   f"extract_text: {row[1]} of {row[0]} pages differ from text")

    def e2e(self) -> dict:
        query_s = sum(self.op_s[k] for k in self.ops)
        shuffle = sum(s.shuffle_write for o in self.ops.values() for s in o.stages)
        return {"items_per_s": len(self.ops) * self.N_DOCS / query_s,
                "shuffle_bytes_per_item": shuffle / self.N_DOCS}

    def summary(self) -> dict:
        return {"join_points_per_s": 2 * self.N_DOCS / (
                    self.op_s["join_nations"] + self.op_s["join_regions"]),
                "knn_s": self.op_s["knn"],
                "minhash_docs_per_s": self.N_DOCS / self.op_s["minhash"],
                "extract_docs_per_s": self.N_DOCS / self.op_s["extract"]}

    def trace_layers(self) -> None:
        from pyspark.sql import Observation, functions as F

        from tegola_spark.operators import dedup, spatial_join as sj
        from tegola_spark.sources import corpus, layers

        spark, L, d = self.spark, self.layer, self.inp.corpus_dir
        jx = self.ops["join_nations"].execs + self.ops["join_regions"].execs
        cand = sum(n.metrics.get("number of output rows", 0.0)
                   for e in jx for n in e.nodes if n.name == "BroadcastHashJoin")
        L["spatial_join.candidates"] = cand
        L["spatial_join.matches"] = self.matches
        L["spatial_join.pip_useful_ratio"] = self.matches / cand if cand else 0.0
        L["spatial_join.pip_python_s"] = _python_s(jx, "pip(")
        obs = Observation("cover")
        cover = sj.polygon_cover(layers.nation_layer(spark, d), 6).unionByName(
            sj.polygon_cover(layers.region_layer(spark, d), 2))
        with self.op("trace.cover"):
            _noop(cover.observe(obs, F.count("*").alias("n")))
        L["spatial_join.cover_rows"] = obs.get["n"]
        L["spatial_join.cover_s"] = self.op_s["trace.cover"]

        kx = [e for e in self.ops["knn"].execs if "dist_sq" in e.plan]
        L["knn.passes"] = len(kx)
        L["knn.candidate_rows"] = sum(
            n.metrics.get("number of output rows", 0.0)
            for e in kx for n in e.nodes if n.name == "BroadcastHashJoin")

        m = self.ops["minhash"]
        L["dedup.signature_python_s"] = _python_s(m.execs, "sig(")
        L["dedup.band_rows"] = max((n.metrics.get("number of output rows", 0.0)
                                    for e in m.execs for n in e.nodes
                                    if n.name == "Generate"), default=0.0)
        L["dedup.candidate_pairs"] = sum(
            n.metrics.get("number of output rows", 0.0)
            for e in m.execs for n in e.nodes
            if n.name.endswith("Join") and "band#" in n.desc)
        L["dedup.pairs"] = self.n_pairs
        L["dedup.exchanges"] = len(_shuffle_exchanges(m.execs))
        L["dedup.shuffle_bytes"] = sum(s.shuffle_write for s in m.stages)
        # prefixes; blocks the operations left cached would shorten them
        spark.catalog.clearCache()
        docs = corpus.documents(spark, d)
        with self.op("trace.scan"):
            _noop(docs)
        with self.op("trace.signatures"):
            _noop(dedup.minhash_signatures(docs))
        L["dedup.signatures_s"] = (self.op_s["trace.signatures"]
                                   - self.op_s["trace.scan"])
        # render and extract run chained in one Python node, so the
        # extract prefix is measured over the scan, not over pages()
        with self.op("trace.extract"):
            _noop(corpus.pages(spark, d).select(corpus.extract_text("html")))
        L["corpus.extract_s"] = self.op_s["trace.extract"] - self.op_s["trace.scan"]
        L["corpus.extract_python_s"] = _python_s(self.ops["extract"].execs)

        allx = [e for o in self.ops.values() for e in o.execs]
        n_spread, b_spread = _spread(allx)
        L["corpus.spread_exchanges"] = n_spread
        L["corpus.spread_shuffle_bytes"] = b_spread
        L["variant.spread"] = float(n_spread > 0)
        for k, v in self.summary().items():
            L[f"op.{k}"] = v
