"""The flagship: tree verification (reference lifecycle E1,
FileVerification/Program.cs:215-279).

``verify_tree`` reconciles the *live* pages table against a *stored*
manifest, emitting one report row per key with status:

- OK      — manifest entry found, recomputed hash (with the **stored**
            entry's algorithm — mixed-algo manifests verify correctly,
            FileVerification/CheckSumFile.cs:238-243) matches
            case-sensitively (HashInfo.cs:262),
- FAIL    — entry found, hash mismatch (PathInfo.cs:249-257),
- ADDED   — live page with no manifest entry; added with the default
            algorithm, implicitly trusted (CheckSumFile.cs:257-264),
- MISSING — manifest entry with no live page (PathInfo.cs:303-354).

The reference's probe of a ConcurrentDictionary keyed by full path
(CheckSumFile.cs:204-208) plus its accidental O(files x dirs) linear
directory lookup (PathInfo.cs:242-245) become ONE full-outer equi-join on
(cell, child_key) — cell is the "directory", child_key the "file name" —
producing OK/FAIL/ADDED/MISSING in a single exchange. Keys are unique per
row → no join-key skew; cell-level *aggregation* skew is handled in
manifest.py / AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fileverification_spark.functions import hashing
from fileverification_spark.session import local_relation

DEFAULT_ALGO = "sha256"

# Deterministic tamper parameters for the synthetic "stored" manifest used
# by tests/demo queries: which doc_ids are dropped (-> ADDED), corrupted
# (-> FAIL), stored under md5 (mixed-algo OK), or ghosted (-> MISSING).
TAMPER_DROP_MOD, TAMPER_DROP_REM = 97, 3
TAMPER_CORRUPT_MOD, TAMPER_CORRUPT_REM = 89, 7
TAMPER_MD5_MOD, TAMPER_MD5_REM = 11, 5
TAMPER_GHOST_MOD, TAMPER_GHOST_REM = 101, 11


def tampered_manifest(pages_derived: DataFrame) -> DataFrame:
    """A deterministic stored manifest exercising every status branch.

    Derived purely from the live table (seeded by doc_id), so the oracle
    can rebuild it with the same SQL rules — no fixture files needed.
    """
    d = F.col("doc_id")
    kept = pages_derived.where(d % TAMPER_DROP_MOD != TAMPER_DROP_REM)
    is_md5 = d % TAMPER_MD5_MOD == TAMPER_MD5_REM
    is_corrupt = d % TAMPER_CORRUPT_MOD == TAMPER_CORRUPT_REM
    algo = F.when(is_md5, F.lit("md5")).otherwise(F.lit("sha256"))
    good_hash = F.when(
        is_md5, F.upper(F.md5(F.col("text").cast("binary")))
    ).otherwise(F.col("text_sha256"))
    stored_hash = F.when(is_corrupt, F.reverse(good_hash)).otherwise(good_hash)
    entries = kept.select(
        F.col("cell"),
        F.col("url").alias("child_key"),
        algo.alias("algo"),
        stored_hash.alias("hash"),
    )
    ghosts = pages_derived.where(d % TAMPER_GHOST_MOD == TAMPER_GHOST_REM).select(
        F.col("cell"),
        F.concat(F.col("url"), F.lit("#ghost")).alias("child_key"),
        F.lit("sha256").alias("algo"),
        F.col("text_sha256").alias("hash"),
    )
    return entries.unionByName(ghosts)


def verify_tree(live: DataFrame, stored: DataFrame) -> DataFrame:
    """Report DataFrame: (cell, child_key, status, algo, stored_hash,
    computed_hash). live needs (cell, url, text, text_sha256); stored is
    (cell, child_key, algo, hash).

    Scale design: the equi-join shuffles ONLY (cell, url, text_sha256)
    from the page side — never the page text. Rows whose manifest entry
    uses a non-default algorithm (rare: mixed-algo manifests,
    CheckSumFile.cs:238-243) are resolved in a second pass that
    broadcast-semi-joins their keys back against the pages scan, so the
    1-2 KB text column stays out of the big shuffle entirely (~10-20x
    shuffle-byte reduction at web scale). When the manifest is pure
    default-algo the second branch's broadcast is empty and AQE prunes
    the extra scan to nothing.
    """
    s = stored.select(
        F.col("cell").alias("s_cell"),
        F.col("child_key").alias("s_key"),
        hashing.algo_parse(F.col("algo")).alias("s_algo"),
        F.col("hash").alias("s_hash"),
    )
    live_slim = live.select("cell", "url", "text_sha256")
    # ONE full-outer shuffle join yields OK/FAIL (both sides), ADDED
    # (live-only) and MISSING (stored-only) — the reference's separate
    # check + missing passes (PathInfo.cs:197-289, :303-354) collapse
    # into a single exchange of ~100-byte rows.
    j = live_slim.join(
        s,
        (live_slim["cell"] == s["s_cell"]) & (live_slim["url"] == s["s_key"]),
        "full_outer",
    )
    is_matched = F.col("url").isNotNull() & F.col("s_key").isNotNull()
    nondefault = F.col("s_algo").isNotNull() & (F.col("s_algo") != DEFAULT_ALGO)
    fast = j.where(~(is_matched & nondefault)).select(
        F.coalesce(F.col("cell"), F.col("s_cell")).alias("cell"),
        F.coalesce(F.col("url"), F.col("s_key")).alias("child_key"),
        F.when(F.col("url").isNull(), F.lit("MISSING"))
        .when(F.col("s_key").isNull(), F.lit("ADDED"))
        .when(
            hashing.hash_equal(F.col("s_hash"), F.col("text_sha256")), F.lit("OK")
        )
        .otherwise(F.lit("FAIL"))
        .alias("status"),
        F.coalesce(F.col("s_algo"), F.lit(DEFAULT_ALGO)).alias("algo"),
        F.col("s_hash").alias("stored_hash"),
        F.when(F.col("url").isNotNull(), F.col("text_sha256")).alias(
            "computed_hash"
        ),
    )
    # slow path: manifest entries with a non-default algorithm (rare —
    # mixed-algo manifests, CheckSumFile.cs:238-243) recompute from text
    # via a broadcast join driven by the MANIFEST side alone, so the big
    # join above never carries the 1-2 KB text column and the broadcast
    # does not depend on the big join's output. Empty manifest slice ->
    # AQE prunes this whole branch.
    slow_entries = s.where(nondefault)
    slow_src = live.select("cell", "url", "text").join(
        F.broadcast(slow_entries),
        (F.col("cell") == F.col("s_cell")) & (F.col("url") == F.col("s_key")),
    )
    recomputed = hashing.hash_col(F.col("text"), F.col("s_algo"))
    slow = slow_src.select(
        F.col("cell"),
        F.col("url").alias("child_key"),
        F.when(hashing.hash_equal(F.col("s_hash"), recomputed), F.lit("OK"))
        .otherwise(F.lit("FAIL"))
        .alias("status"),
        F.col("s_algo").alias("algo"),
        F.col("s_hash").alias("stored_hash"),
        recomputed.alias("computed_hash"),
    )
    return fast.unionByName(slow)


def verify_counts(report: DataFrame) -> DataFrame:
    """Per-status counts — the reference's end-of-run summary
    (FileVerification/Program.cs:265-269) made structural."""
    return report.groupBy("status").agg(F.count(F.lit(1)).alias("n"))


def report_log(report: DataFrame) -> DataFrame:
    """A4/S6: the reference's textual failure log as one deterministic
    fold. The reference mirrors FAIL/missing lines to console + temp log +
    an in-memory buffer whose concatenation becomes the notification
    payload (FileVerification/Logger.cs:22-28, :56-79). Line formats match
    the emit sites: 'FAIL: Hash mismatch: {key}.' (PathInfo.cs:255) and
    "The file '{key}' does not exist." (PathInfo.cs:349). The reference's
    line order is thread-nondeterministic; we sort (strictly stronger).

    Scale note: only failure rows fold — at 100 TB the log is proportional
    to corruption, not data; collect_list stays small by construction."""
    line = F.when(
        F.col("status") == "FAIL",
        F.concat(F.lit("FAIL: Hash mismatch: "), F.col("child_key"), F.lit(".")),
    ).otherwise(
        F.concat(F.lit("The file '"), F.col("child_key"), F.lit("' does not exist."))
    )
    lines = report.where(F.col("status").isin("FAIL", "MISSING")).select(
        line.alias("line")
    )
    return lines.agg(
        F.concat_ws("\n", F.sort_array(F.collect_list("line"))).alias("log"),
        F.count(F.lit(1)).alias("n_lines"),
    )


def remove_missing(stored: DataFrame, report: DataFrame) -> DataFrame:
    """--remove / allowRemove semantics (FileVerification/PathInfo.cs:333-346):
    rewrite the manifest without MISSING entries."""
    gone = report.where(F.col("status") == "MISSING").select(
        F.col("cell").alias("g_cell"), F.col("child_key").alias("g_key")
    )
    return stored.join(
        gone,
        (stored["cell"] == F.col("g_cell")) & (stored["child_key"] == F.col("g_key")),
        "left_anti",
    )


def point_verify(live: DataFrame, url: str, provided_hash: str, algo: str = DEFAULT_ALGO) -> DataFrame:
    """J4 single-key verify vs a user-provided hash — case-insensitive
    (FileVerification/Program.cs:300-340, :327). Predicate pushes down to
    the scan; on Iceberg this is a bucket-pruned point lookup."""
    computed = hashing.hash_fixed(F.col("text"), algo)
    return live.where(F.col("url") == F.lit(url)).select(
        F.col("url"),
        computed.alias("computed_hash"),
        hashing.hash_equal_ci(computed, F.lit(provided_hash)).alias("match"),
    )


def verify_keys(
    live: DataFrame,
    keys: "DataFrame | list[tuple[str, str]]",
    algo: str = DEFAULT_ALGO,
) -> DataFrame:
    """Multi-key point verify — S2 generalised from one file to a key
    set (SURVEY §3's ``verify_keys``; the reference loops Program.cs
    GetFileChecksum per invocation, :300-339). ``keys`` is (url,
    provided_hash); output one row per key:

    - OK / FAIL — ci hash compare like point_verify (Program.cs:327),
    - NO_HASH   — page found but hash not computable (null text) —
                  ERROR_NO_HASH analogue (Program.cs:312),
    - MISSING   — url not in the live table — ERROR_NOT_FILE analogue.

    Scale: keys broadcast against the pages scan (bucket-pruned point
    lookups on Iceberg); the tiny matched slice then right-joins back so
    the big table is scanned exactly once.
    """
    if not isinstance(keys, DataFrame):
        keys = local_relation(
            live.sparkSession, keys, "url string, provided_hash string"
        )
    computed = hashing.hash_fixed(F.col("text"), algo)
    matched = (
        live.select("url", "text")
        .join(F.broadcast(keys.select("url")), "url")
        .select("url", computed.alias("computed_hash"), F.lit(True).alias("found"))
    )
    j = keys.join(matched, "url", "left")
    return j.select(
        "url",
        "provided_hash",
        "computed_hash",
        F.when(F.col("found").isNull(), F.lit("MISSING"))
        .when(F.col("computed_hash").isNull(), F.lit("NO_HASH"))
        .when(
            hashing.hash_equal_ci(F.col("computed_hash"), F.col("provided_hash")),
            F.lit("OK"),
        )
        .otherwise(F.lit("FAIL"))
        .alias("status"),
    )


def verify_cell(live: DataFrame, stored: DataFrame, cell: int) -> DataFrame:
    """Leaf-only verify of ONE cell's direct children — the
    ``--excludeSubDir`` analogue (Program.cs:58-62, PathInfo.Crawl(false)
    :258): the cell is the folder, no ladder, no descent. The equality
    predicate pushes into both scans (partition pruning on a
    cell-partitioned table: exactly one partition read per side)."""
    return verify_tree(
        live.where(F.col("cell") == cell),
        stored.where(F.col("cell") == cell),
    )


# ---------------------------------------------------------------------------
# DuckDB oracle mirrors.
# ---------------------------------------------------------------------------

def sql_tampered_manifest(pages_rel: str = "pages") -> str:
    """CTE body (no name) producing the identical stored manifest."""
    return f"""
SELECT cell, url AS child_key,
  CASE WHEN doc_id % {TAMPER_MD5_MOD} = {TAMPER_MD5_REM} THEN 'md5' ELSE 'sha256' END AS algo,
  CASE WHEN doc_id % {TAMPER_CORRUPT_MOD} = {TAMPER_CORRUPT_REM}
       THEN reverse(CASE WHEN doc_id % {TAMPER_MD5_MOD} = {TAMPER_MD5_REM}
                         THEN upper(md5(text)) ELSE text_sha256 END)
       ELSE CASE WHEN doc_id % {TAMPER_MD5_MOD} = {TAMPER_MD5_REM}
                 THEN upper(md5(text)) ELSE text_sha256 END
  END AS hash
FROM {pages_rel}
WHERE doc_id % {TAMPER_DROP_MOD} != {TAMPER_DROP_REM}
UNION ALL
SELECT cell, url || '#ghost' AS child_key, 'sha256' AS algo, text_sha256 AS hash
FROM {pages_rel}
WHERE doc_id % {TAMPER_GHOST_MOD} = {TAMPER_GHOST_REM}"""


def sql_verify_report(pages_rel: str = "pages", stored_rel: str = "stored") -> str:
    """SELECT body producing the identical report (DuckDB)."""
    computed = (
        "CASE WHEN s.child_key IS NULL THEN p.text_sha256 "
        "WHEN lower(s.algo) = 'md5' THEN upper(md5(p.text)) "
        "ELSE upper(sha256(p.text)) END"
    )
    return f"""
SELECT p.cell, p.url AS child_key,
  CASE WHEN s.child_key IS NULL THEN 'ADDED'
       WHEN s.hash = {computed} THEN 'OK'
       ELSE 'FAIL' END AS status,
  CASE WHEN s.child_key IS NULL THEN 'sha256' ELSE lower(s.algo) END AS algo,
  s.hash AS stored_hash,
  {computed} AS computed_hash
FROM {pages_rel} p LEFT JOIN {stored_rel} s
  ON p.cell = s.cell AND p.url = s.child_key
UNION ALL
SELECT s.cell, s.child_key, 'MISSING' AS status, lower(s.algo) AS algo,
       s.hash AS stored_hash, NULL AS computed_hash
FROM {stored_rel} s ANTI JOIN {pages_rel} p
  ON s.cell = p.cell AND s.child_key = p.url"""
