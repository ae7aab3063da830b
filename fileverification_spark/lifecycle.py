"""E1 flagship lifecycle — the reference's `Program.Run` end-to-end flow
(FileVerification/Program.cs:125-189, :215-279) as one engine call:

  1. config: exclusions compiled to a Column predicate (Settings read,
     Program.cs:224-247)
  2. scan + derive: pages -> text_sha256 / geocode / cell
     (the crawl, PathInfo.cs:427-537)
  3. verify joins: OK/FAIL/ADDED/MISSING (Check + CheckForMissingFiles,
     PathInfo.cs:197-289, :303-354)
  4. manifest rewrite: current state minus MISSING (allowRemove,
     PathInfo.cs:333-346) plus ADDED (CheckSumFile.cs:257-264), written
     per cell (WriteChecksumFiles, PathInfo.cs:599-611)
  5. report sink + per-status summary (Program.cs:265-269)
  6. notification of the failure log (Settings.Send, Program.cs:272-276)

Everything before the sinks is one lazy DataFrame graph; the writes are
the only actions.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from fileverification_spark import config as CFG
from fileverification_spark import notify as NT
from fileverification_spark.operators import verify as V
from fileverification_spark.streaming import incremental as INC


@dataclass
class VerifyResult:
    counts: dict[str, int]
    elapsed_sec: float
    notified: list = field(default_factory=list)


def run_tree_verify(
    live: DataFrame,
    stored: DataFrame,
    out_dir: str,
    run_id: str,
    exclusions: CFG.Exclusions | None = None,
    allow_remove: bool = True,
    notifications: list[NT.Notification] | None = None,
    transport=None,
) -> VerifyResult:
    """Run the whole E1 lifecycle; returns per-status counts + timing.

    Sinks under ``out_dir``: report/ (partitioned by status), manifest/
    (the post-run manifest state, unpartitioned parquet), lineage/
    (appended per run).
    """
    import time

    t0 = time.perf_counter()
    stored_skipped = None
    if exclusions is not None:
        # Reference semantics: exclusion short-circuits BEFORE verify/add
        # (PathInfo.cs:213-231) but the missing pass is pure existence
        # (File.Exists, PathInfo.cs:331) — an excluded-but-existing file
        # is neither verified nor missing, and its manifest entry
        # survives untouched. So: partition live on the predicate, pull
        # the excluded keys' entries out of the verify join, and splice
        # them back into the rewritten manifest verbatim.
        pred = CFG.exclusion_predicate(exclusions, F.col("url"))
        excl_keys = live.where(pred).select(
            F.col("cell").alias("x_cell"), F.col("url").alias("x_key")
        )
        live = live.where(~pred)
        skip_cond = (F.col("cell") == F.col("x_cell")) & (
            F.col("child_key") == F.col("x_key")
        )
        stored_skipped = stored.join(excl_keys, skip_cond, "left_semi")
        stored = stored.join(excl_keys, skip_cond, "left_anti")

    report = V.verify_tree(live, stored)
    report.write.mode("overwrite").partitionBy("status").parquet(
        f"{out_dir}/report"
    )
    report = live.sparkSession.read.parquet(f"{out_dir}/report")

    # next manifest state: live rows re-keyed (OK/FAIL re-hashed with the
    # stored algo kept, ADDED with the default algo — exactly the
    # reference's post-run checksum file) minus MISSING when allowed.
    next_manifest = report.where(F.col("status") != "MISSING").select(
        "cell",
        "child_key",
        "algo",
        F.col("computed_hash").alias("hash"),
    )
    if not allow_remove:
        keep_missing = report.where(F.col("status") == "MISSING").select(
            "cell", "child_key", "algo", F.col("stored_hash").alias("hash")
        )
        next_manifest = next_manifest.unionByName(keep_missing)
    if stored_skipped is not None:
        next_manifest = next_manifest.unionByName(
            stored_skipped.select("cell", "child_key", "algo", "hash")
        )
    next_manifest.write.mode("overwrite").parquet(f"{out_dir}/manifest")

    INC.lineage(report, run_id).write.mode("append").parquet(f"{out_dir}/lineage")

    counts = {
        r["status"]: r["n"] for r in V.verify_counts(report).collect()
    }
    elapsed = time.perf_counter() - t0

    notified = []
    if notifications:
        log_row = V.report_log(report).first()
        message = (
            f"run {run_id}: {counts} in {elapsed:.1f}s\n" + (log_row["log"] or "")
        )
        notified = NT.send(notifications, message, transport=transport)
    return VerifyResult(counts=counts, elapsed_sec=elapsed, notified=notified)
