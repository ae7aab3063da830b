"""Seeded input generator for the benchmark.

Everything the program sees is built here from ``--seed``: a documents
relation in the shape of ``documents.parquet`` (doc_id, text, lang,
source), turned into the ``pages`` table by the program's own
``sources.pages.pages_from_docs`` and materialised as parquet. The seed
picks the doc_id window, the words of every text, each page's language
and source, the churned cells of the incremental replay and the kNN
query points. The same seed gives the same inputs.

Expected E1 status counts are closed forms over the doc_id window, using
the tamper moduli of ``operators.verify`` (the stored manifest is that
module's ``tampered_manifest``).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fileverification_spark.functions import hashing
from fileverification_spark.operators import verify as V
from fileverification_spark.sources import pages as P

VOCAB = (
    "key agg row scan slow fast table value part hash merge batch spark the "
    "line sort window data column join small customer query big order group "
    "filter stream a tile cell grid ladder digest manifest page crawl"
).split()
LANGS = ("en", "de", "fr", "es", "ja", "ru")
N_SOURCES = 50
#: seeded sentences a page's text is drawn from, and sentences per page
N_SENTENCES, SENTENCES_PER_PAGE = 1024, 5
#: files per materialised table: 2x the cores of local[4]
N_FILES = 8


def sentences(seed: int) -> list[str]:
    """The seed's sentence pool: 4..16 words each, so a page's text is
    20..80 words, about 300 characters."""
    rng = random.Random(seed)
    return [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(4, 16)))
        for _ in range(N_SENTENCES)
    ]


def doc_id_base(seed: int) -> int:
    """First doc_id of the seed's window; the window shifts every tamper
    residue class, so each seed has its own status counts."""
    return 1000 + (seed * 7919) % 1_000_000


def documents(spark: SparkSession, seed: int, n_pages: int) -> DataFrame:
    """(doc_id, text, lang, source), all columns pure functions of
    (seed, doc_id)."""
    d = F.col("doc_id")
    s = F.lit(seed)

    def pick(values: F.Column, n: int, salt: int) -> F.Column:
        idx = F.pmod(F.xxhash64(s, F.lit(salt), d), F.lit(n)) + 1
        return F.element_at(values, idx.cast("int"))

    # array literals: an array() of literal columns is rebuilt per row
    pool, langs = F.lit(sentences(seed)), F.lit(list(LANGS))
    text = F.concat_ws(
        " ", *[pick(pool, N_SENTENCES, 100 + k) for k in range(SENTENCES_PER_PAGE)]
    )
    src = F.concat(
        F.lit("src"), F.pmod(F.xxhash64(s, F.lit(3), d), F.lit(N_SOURCES)).cast("string")
    )
    return spark.range(n_pages, numPartitions=N_FILES).select(
        (F.col("id") + doc_id_base(seed)).alias("doc_id")
    ).select(
        "doc_id",
        text.alias("text"),
        pick(langs, len(LANGS), 2).alias("lang"),
        src.alias("source"),
    )


def pages(spark: SparkSession, seed: int, n_pages: int) -> DataFrame:
    """The seed's pages table (doc_id, url, warc_ts, text, lang)."""
    return P.pages_from_docs(documents(spark, seed, n_pages))


def first_run_manifest(pages_derived: DataFrame) -> DataFrame:
    """The manifest a clean first run leaves: every live page under its
    current hash, a mixed-algo manifest where the md5 entries of
    ``tampered_manifest`` keep their algorithm."""
    algo = F.when(
        F.col("doc_id") % V.TAMPER_MD5_MOD == V.TAMPER_MD5_REM, F.lit("md5")
    ).otherwise(F.lit(V.DEFAULT_ALGO))
    return pages_derived.select(
        "cell",
        F.col("url").alias("child_key"),
        algo.alias("algo"),
        hashing.hash_col(F.col("text"), algo).alias("hash"),
    )


def churn(pages_derived: DataFrame, seed: int, cells: list[int]) -> DataFrame:
    """The pages table with the text of about a quarter of the pages in
    ``cells`` changed: every churned page's stored hash goes stale, and
    no page changes cell (the cell comes from url and timestamp only).
    Two marker columns, ``churned`` and ``in_cells``, are for the checks
    and are dropped before the program reads the table."""
    in_cells = F.col("cell").isin(cells)
    hit = in_cells & (
        F.pmod(F.xxhash64(F.lit(seed), F.lit(4), F.col("doc_id")), F.lit(4)) == 0
    )
    text = F.when(hit, F.concat(F.col("text"), F.lit(" churned"))).otherwise(
        F.col("text")
    )
    return pages_derived.select(
        "doc_id", "url", "warc_ts", text.alias("text"), "lang",
        hit.alias("churned"), in_cells.alias("in_cells"),
    )


def churn_cells(all_cells: list[int], seed: int, frac: float) -> list[int]:
    """A seeded ``frac`` share of the leaf cells (at least one)."""
    k = max(1, round(frac * len(all_cells)))
    return sorted(random.Random(seed).sample(sorted(all_cells), k))


def query_points(seed: int, n: int) -> list[tuple[int, float, float]]:
    """(query_id, lat, lon) spread over the globe, away from the poles."""
    rng = random.Random(seed * 31 + 7)
    return [
        (i, round(rng.uniform(-70.0, 70.0), 4), round(rng.uniform(-180.0, 179.0), 4))
        for i in range(n)
    ]


def expected_status_counts(seed: int, n_pages: int) -> dict[str, int]:
    """Per-status counts of ``verify_tree(live, tampered_manifest(live))``
    over the seed's doc_id window, from the tamper rules alone:
    ADDED = dropped ids, FAIL = corrupted and kept ids, MISSING = ghost
    entries, OK = every other live id (md5 entries verify OK)."""
    lo = doc_id_base(seed)
    counts = {"OK": 0, "FAIL": 0, "ADDED": 0, "MISSING": 0}
    for d in range(lo, lo + n_pages):
        if d % V.TAMPER_GHOST_MOD == V.TAMPER_GHOST_REM:
            counts["MISSING"] += 1
        if d % V.TAMPER_DROP_MOD == V.TAMPER_DROP_REM:
            counts["ADDED"] += 1
        elif d % V.TAMPER_CORRUPT_MOD == V.TAMPER_CORRUPT_REM:
            counts["FAIL"] += 1
        else:
            counts["OK"] += 1
    return counts
