"""The benchmark's workloads.

Each workload builds its inputs in ``setup`` (untimed by the op loop,
timed as ``setup_s``), runs one closed-loop operation per ``op`` call
and checks that operation's output in ``check``. ``replay`` (traced runs
only) calls the layers the operation goes through one at a time, each
forced to do its work into a ``noop`` sink, so every layer gets its own
span.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import statistics
import time

import duckdb
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fileverification_spark import lifecycle as L
from fileverification_spark.operators import manifest as M
from fileverification_spark.operators import spatial as S
from fileverification_spark.operators import verify as V
from fileverification_spark.sources import pages as P
from fileverification_spark.streaming import incremental as INC

import corpus
from spans import Tracer, plan_rows, plan_shape

#: share of leaf cells the incremental replay churns
CHURN_FRAC = 0.02
#: repetitions of each replayed layer call in a traced run
REPLAY_REPS = 3
KNN_K, KNN_RES, N_QUERY_POINTS = 10, 5, 10
RASTER_FINEST, RASTER_COARSEST = 8, 4


class CheckFailed(Exception):
    """An operation's output differs from the expected one."""


def _span(tracer: Tracer | None, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _expect(what: str, got, want) -> None:
    if got != want:
        raise CheckFailed(f"{what}: got {got!r}, want {want!r}")


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    #: live pages
    live_pages = 0

    def __init__(self, spark: SparkSession, work: str, seed: int) -> None:
        self.spark, self.work, self.seed = spark, work, seed

    def plan_check(self) -> None:
        """Fail unless the timed plan does the hashing its metric names."""

    def replay(self, tracer: Tracer) -> dict[str, float]:
        """Per-layer figures from layer calls replayed one at a time."""
        return {}

    def op_metrics(self, tracer: Tracer) -> dict[str, float]:
        """Per-layer figures from the spans of traced operations."""
        return {}


def reset_cache(spark: SparkSession) -> None:
    """Drop every cached relation and persisted RDD, so no operation is
    served from an earlier one's cache; fail if any RDD stays persisted."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc  # noqa: SLF001
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    left = jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} RDDs still persisted after the cache reset")


def _plan_has_hashes(df: DataFrame, what: str) -> None:
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    for fn in ("sha2(", "md5("):
        if fn not in plan:
            raise CheckFailed(f"{what} plan has no {fn}: the hash was pruned")


def _replay_derive(tracer: Tracer, base: DataFrame, input_bytes: int) -> dict:
    """Scan, then each derived column of ``with_derived`` on its own:
    text_sha256, the geocode (lat, lon) and the cell on top of the
    geocode. A column's figures are its increment over the step below.
    ``input_bytes`` is the scanned table's size on disk: the stage
    metric counts only the bytes the local file system reports, which
    here is little more than the parquet footers."""
    cols = base.columns
    derived = P.with_derived(base)
    steps = {
        "sources.pages.scan": base,
        "sources.pages.text_sha256": derived.select(*cols, "text_sha256"),
        "sources.pages.geocode": derived.select(*cols, "lat", "lon"),
        "grid.cell_encode": derived.select(*cols, "lat", "lon", "cell"),
    }
    for _ in range(REPLAY_REPS):
        for name, df in steps.items():
            with tracer.span(name):
                _noop(df)
    med = {name: tracer.median(name) for name in steps}
    scan, text, geo, cell = (med[n] for n in steps)
    out = {
        "sources.pages.scan_s": scan["wall_s"],
        "sources.pages.input_bytes": input_bytes,
        "sources.pages.scan.cpu_s": scan["cpu_s"],
        "sources.pages.scan.gc_s": scan["gc_s"],
        "sources.pages.scan.tasks": scan["tasks"],
        "sources.pages.scan.failed_tasks": scan["failed_tasks"],
    }
    for prefix, top, below in (
        ("sources.pages.text_sha256", text, scan),
        ("sources.pages.geocode", geo, scan),
        ("grid.cell_encode", cell, geo),
    ):
        out[f"{prefix}_s"] = top["wall_s"] - below["wall_s"]
        out[f"{prefix}.cpu_s"] = top["cpu_s"] - below["cpu_s"]
    return out


def _replay_join(tracer: Tracer, live: DataFrame, stored: DataFrame) -> dict:
    report = V.verify_tree(live, stored)
    exchanges, nodes = plan_shape(report)
    for _ in range(REPLAY_REPS):
        with tracer.span("operators.verify"):
            _noop(report)
    m = tracer.median("operators.verify")
    return {
        "operators.verify.join_s": m["wall_s"],
        **_stage_fields("operators.verify", m),
        "operators.verify.shuffle_write_bytes": m["shuffle_write_bytes"],
        "operators.verify.spill_bytes": m["spill_bytes"],
        "operators.verify.exchanges": exchanges,
        "operators.verify.plan_nodes": nodes,
    }


def _stage_fields(prefix: str, m: dict) -> dict:
    return {f"{prefix}.{k}": m[k] for k in ("cpu_s", "gc_s", "tasks", "failed_tasks")}


def _materialise_derived(pages: DataFrame, path: str) -> DataFrame:
    """Write the derived pages table to ``path``; read it back."""
    P.with_derived(pages).write.mode("overwrite").parquet(path)
    return pages.sparkSession.read.parquet(path)


class FullVerify(Workload):
    """e1_full_verify: ``lifecycle.run_tree_verify`` against a stored,
    tampered manifest, into a fresh output directory per run."""

    name = "e1_full_verify"
    live_pages = 50_000

    def out_dir(self, i: int) -> str:
        return f"{self.work}/out/{i}"

    def setup(self) -> None:
        spark = self.spark
        pages = self.pages_dir = f"{self.work}/pages"
        corpus.pages(spark, self.seed, self.live_pages).write.mode("overwrite").parquet(pages)
        stored = f"{self.work}/stored"
        V.tampered_manifest(P.with_derived(spark.read.parquet(pages))).write.mode(
            "overwrite"
        ).parquet(stored)
        self.raw = spark.read.parquet(pages)
        self.live = P.with_derived(self.raw)
        self.stored = spark.read.parquet(stored)
        self.expected = corpus.expected_status_counts(self.seed, self.live_pages)
        self.sink_bytes: list[int] = []

    def plan_check(self) -> None:
        _plan_has_hashes(V.verify_tree(self.live, self.stored), "verify report")

    def op(self, i: int, tracer: Tracer | None = None):
        with _lifecycle_spans(tracer, self.live) if tracer else contextlib.nullcontext():
            return L.run_tree_verify(self.live, self.stored, self.out_dir(i), f"run-{i}")

    def check(self, i: int, res) -> None:
        try:
            _expect("status counts", res.counts, self.expected)
            self.sink_bytes.append(dir_bytes(self.out_dir(i)))
        finally:
            shutil.rmtree(self.out_dir(i), ignore_errors=True)

    def replay(self, tracer: Tracer) -> dict:
        live = _materialise_derived(self.raw, f"{self.work}/derived")
        incremental = Incremental(
            self.spark, f"{self.work}/incremental", self.seed, live, self.live_pages
        )
        return {
            **_replay_derive(tracer, self.raw, dir_bytes(self.pages_dir)),
            **_replay_join(tracer, live, self.stored),
            **incremental.replay(tracer),
        }

    def op_metrics(self, tracer: Tracer) -> dict:
        m = tracer.median("lifecycle")
        out = {"lifecycle.run_s": m["wall_s"], **_stage_fields("lifecycle", m)}
        for sink in ("report_write", "manifest_write", "lineage_write", "counts"):
            out[f"lifecycle.{sink}_s"] = tracer.median(f"lifecycle.{sink}")["wall_s"]
        out["lifecycle.bytes_written"] = m["output_bytes"]
        out["lifecycle.spark_jobs"] = m["jobs"]
        out["lifecycle.sink_bytes_per_page"] = (
            statistics.median(self.sink_bytes) / self.live_pages
        )
        return out


@contextlib.contextmanager
def _lifecycle_spans(tracer: Tracer, df: DataFrame):
    """A ``lifecycle`` span, and inside it a span around every parquet
    sink and every collect the lifecycle makes: ``lifecycle.<dir>_write``
    and ``lifecycle.counts``. The sinks are the lifecycle's only actions."""
    writer_cls, df_cls = type(df.write), type(df)
    parquet, collect = writer_cls.parquet, df_cls.collect

    def traced_parquet(self, path, *args, **kwargs):
        with tracer.span(f"lifecycle.{os.path.basename(path)}_write"):
            return parquet(self, path, *args, **kwargs)

    def traced_collect(self):
        with tracer.span("lifecycle.counts"):
            return collect(self)

    writer_cls.parquet, df_cls.collect = traced_parquet, traced_collect
    try:
        with tracer.span("lifecycle"):
            yield
    finally:
        writer_cls.parquet, df_cls.collect = parquet, collect


class Incremental:
    """The incremental path on a workload's corpus, run in traced runs of
    e1_full_verify: a clean first run's manifest and ladder checkpoint,
    then a seeded churn of the text of pages in about 2% of the leaf
    cells. One run is ``streaming.incremental.incremental_verify``
    followed by its report write."""

    def __init__(
        self, spark: SparkSession, work: str, seed: int, live1: DataFrame, n_pages: int
    ) -> None:
        res = P.LEAF_RES
        self.spark, self.work, self.live_pages = spark, work, n_pages
        corpus.first_run_manifest(live1).write.mode("overwrite").parquet(f"{work}/manifest1")
        INC.write_checkpoint(M.merkle_ladder(M.leaf_digests(live1, res), res), f"{work}/ckpt")
        reset_cache(spark)
        cells = [r["cell"] for r in live1.select("cell").distinct().collect()]
        self.churned_cells = corpus.churn_cells(cells, seed, CHURN_FRAC)
        corpus.churn(live1, seed, self.churned_cells).write.mode("overwrite").parquet(
            f"{work}/pages2"
        )
        pages2 = spark.read.parquet(f"{work}/pages2")
        n = pages2.agg(
            F.sum(F.col("churned").cast("int")).alias("churned"),
            F.sum(F.col("in_cells").cast("int")).alias("in_cells"),
        ).first()
        self.n_churned, self.n_frontier = n["churned"], n["in_cells"]
        self.raw = pages2.drop("churned", "in_cells")
        self.live = P.with_derived(self.raw)
        self.stored = spark.read.parquet(f"{work}/manifest1")
        self.checkpoint = INC.read_checkpoint(spark, f"{work}/ckpt")

    def _report(self) -> tuple[DataFrame, DataFrame]:
        return INC.incremental_verify(self.live, self.stored, self.checkpoint, P.LEAF_RES)

    def run(self, i: int, tracer: Tracer) -> dict:
        out = f"{self.work}/out/{i}"
        try:
            with tracer.span("streaming.incremental"):
                report, changed = self._report()
                report.write.mode("overwrite").parquet(out)
            frontier = sorted(r["cell"] for r in changed.select("cell").collect())
            _expect("frontier cells", frontier, self.churned_cells)
            counts = {
                r["status"]: r["n"]
                for r in V.verify_counts(self.spark.read.parquet(out)).collect()
            }
        finally:
            shutil.rmtree(out, ignore_errors=True)
        want = {"OK": self.n_frontier - self.n_churned, "FAIL": self.n_churned}
        _expect("incremental status counts", counts, want)
        return {
            "streaming.incremental.frontier_cells": len(frontier),
            "streaming.incremental.verified_frac": sum(counts.values()) / self.live_pages,
        }

    def replay(self, tracer: Tracer) -> dict:
        _plan_has_hashes(self._report()[0], "incremental report")
        live = _materialise_derived(self.raw, f"{self.work}/derived2")
        ladder = M.merkle_ladder(M.leaf_digests(live, P.LEAF_RES), P.LEAF_RES)
        for i in range(REPLAY_REPS):
            reset_cache(self.spark)
            with tracer.span("operators.manifest"):
                _noop(ladder)
            reset_cache(self.spark)
            figures = self.run(i, tracer)
        reset_cache(self.spark)
        m = tracer.median("operators.manifest")
        inc = tracer.median("streaming.incremental")
        return {
            "operators.manifest.ladder_s": m["wall_s"],
            **_stage_fields("operators.manifest", m),
            "operators.manifest.shuffle_write_bytes": m["shuffle_write_bytes"],
            "operators.manifest.spill_bytes": m["spill_bytes"],
            "streaming.incremental.run_s": inc["wall_s"],
            **_stage_fields("streaming.incremental", inc),
            **figures,
        }


def knn_rings(n_pages: int) -> int:
    """Rings for ``knn_ring`` at KNN_RES whose guaranteed radius is twice
    the radius holding KNN_K pages of a uniform corpus of ``n_pages``:
    ``knn_ring`` is exact only when the k-th neighbour lies inside it."""
    per_sq_deg = n_pages / (180.0 * 360.0)
    radius = 2.0 * math.sqrt(KNN_K / (math.pi * per_sq_deg))
    return math.ceil(radius / S.ring_guarantee_radius(KNN_RES, 1))


class SpatialQueryMix(Workload):
    """spatial_query_mix: a fixed sequence over pre-derived pages —
    ``pip_join`` + ``pip_counts`` over ``default_polygons()``,
    ``knn_ring`` at seeded points, ``raster_pyramid(8, 4)``. Read-only."""

    name = "spatial_query_mix"
    live_pages = 50_000
    QUERIES = ("pip", "knn", "raster")

    def setup(self) -> None:
        spark = self.spark
        self.path = f"{self.work}/derived"
        # the queries read no text: the table keeps the derived geography
        P.with_derived(corpus.pages(spark, self.seed, self.live_pages)).select(
            "doc_id", "url", "lang", "lat", "lon", "cell"
        ).write.mode("overwrite").parquet(self.path)
        self.pages = spark.read.parquet(self.path)
        self.polys = S.default_polygons()
        self.qpts = corpus.query_points(self.seed, N_QUERY_POINTS)
        self.rings = knn_rings(self.live_pages)
        self.want: dict[str, object] = {}
        self.query_s: dict[str, list[float]] = {q: [] for q in self.QUERIES}
        self.candidates: dict[str, int] = {}

    def _queries(self) -> dict[str, DataFrame]:
        return {
            "pip": S.pip_counts(S.pip_join(self.pages, self.polys, res=P.LEAF_RES)),
            "knn": S.knn_ring(self.pages, self.qpts, KNN_K, res=KNN_RES, rings=self.rings),
            "raster": S.raster_pyramid(self.pages, RASTER_FINEST, RASTER_COARSEST),
        }

    @staticmethod
    def _result(name: str, df: DataFrame):
        """The query's action: all rows of the small results; for the
        raster pyramid a row count and an order-free hash over every
        column, so no output column can be pruned."""
        if name == "raster":
            r = df.agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(*df.columns)).alias("h"),
            ).first()
            return (r["n"], r["h"])
        return sorted(tuple(r) for r in df.collect())

    def op(self, i: int, tracer: Tracer | None = None):
        out = {}
        for name, df in self._queries().items():
            t0 = time.perf_counter()
            with _span(tracer, f"operators.spatial.{name}"):
                out[name] = self._result(name, df)
            self.query_s[name].append(time.perf_counter() - t0)
            if tracer is not None and name != "raster":
                self.candidates[name] = plan_rows(df, "BroadcastHashJoin")
        return out

    def check(self, i: int, out: dict) -> None:
        if not self.want:
            self._oracle_check(out)
        for name in self.QUERIES:
            _expect(f"{name} result", out[name], self.want[name])

    def _oracle_check(self, first: dict) -> None:
        """Compare full Spark results with the repo's DuckDB SQL once; the
        verified results (raster: its hash) are the reference after that."""
        con = duckdb.connect()
        try:
            con.execute("SET threads = 4")
            con.execute(
                f"CREATE VIEW pages AS SELECT * FROM read_parquet('{self.path}/*.parquet')"
            )

            def rows(sql: str) -> list[tuple]:
                return sorted(tuple(r) for r in con.execute(sql).fetchall())

            def spark_rows(df: DataFrame) -> list[tuple]:
                return sorted(df.toPandas().itertuples(index=False, name=None))

            pip = S.pip_join(self.pages, self.polys, res=P.LEAF_RES)
            _expect("pip_join vs sql_pip", spark_rows(pip), rows(S.sql_pip(self.polys)))
            pip_sql = f"SELECT poly_id, count(*) FROM ({S.sql_pip(self.polys)}) GROUP BY 1"
            _expect("pip_counts vs sql_pip", first["pip"], rows(pip_sql))
            _expect("knn_ring vs sql_knn", first["knn"], rows(S.sql_knn(self.qpts, KNN_K)))
            raster = S.raster_pyramid(self.pages, RASTER_FINEST, RASTER_COARSEST)
            sql = S.sql_raster_pyramid(RASTER_FINEST, RASTER_COARSEST)
            _expect("raster_pyramid vs sql_raster_pyramid", spark_rows(raster), rows(sql))
        finally:
            con.close()
        self.want = dict(first)

    def op_metrics(self, tracer: Tracer) -> dict:
        n_pip = sum(n for _, n in self.want["pip"])
        out = {}
        for name in self.QUERIES:
            m = tracer.median(f"operators.spatial.{name}")
            out[f"operators.spatial.{name}_s"] = m["wall_s"]
            out.update(_stage_fields(f"operators.spatial.{name}", m))
        out["operators.spatial.pip_candidate_rows"] = self.candidates["pip"]
        out["operators.spatial.pip_hit_ratio"] = n_pip / self.candidates["pip"]
        out["operators.spatial.knn_candidate_rows"] = self.candidates["knn"]
        out["operators.spatial.raster_shuffle_write_bytes"] = tracer.median(
            "operators.spatial.raster"
        )["shuffle_write_bytes"]
        return out


WORKLOADS = {w.name: w for w in (FullVerify, SpatialQueryMix)}
