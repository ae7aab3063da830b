"""KMV (k-minimum-values) distinct-count sketch ladder over cells.

The task brief's "novel sketch" slot: a mergeable per-cell sketch of
distinct URLs that rolls up the resolution ladder by SKETCH MERGE
instead of recount — the cardinality twin of the Merkle digest ladder
(manifest.py): digests certify content up the tree, sketches estimate
cardinality up the same tree, both mergeable so no level ever rescans
pages.

KMV (Bar-Yossef et al., RANDOM 2002 — public algorithm): hash every
key uniformly into [0, SPACE); keep the k smallest distinct hashes.
Estimator: exact count while fewer than k distinct hashes are seen,
else (k-1) * SPACE / kth_min. The crucial property here is that KMV is
EXACTLY mergeable: kmv(A ∪ B) == merge(kmv(A), kmv(B)) as sets — not
approximately, identically — so the rolled-up parent sketch is
bit-equal to a direct sketch at the parent resolution (pytest pins
this as set equality, and the oracle check rides the same fact).

Everything is built-in expressions (collect_set -> array_sort ->
slice): per-cell state is bounded at k values, the groupBy
partial-aggregates map-side, and the rollup folds 4 children per
parent. Spark's own approx_count_distinct (HLL++) is the
non-inspectable alternative; KMV is used here because its state is a
plain BIGINT array both engines can compute identically, which makes
the sketch itself oracle-checkable, not just the estimate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fileverification_spark import grid
from fileverification_spark.functions import text as TX
from fileverification_spark.session import local_relation

#: hash space: 15 hex digits = 60 bits (fits int64, exact as double)
SPACE = float(1 << 60)
DEFAULT_K = 64


def kmv_hash(key: Column) -> Column:
    """Uniform 60-bit hash of a key: the leading 15 hex digits of its
    SHA-256 — same construction (and cross-engine spelling) as the
    pages geocode hash."""
    return F.conv(F.substring(F.sha2(key, 256), 1, 15), 16, 10).cast(
        "bigint"
    )


def _estimate(kmv: Column, k: int) -> Column:
    n = F.size(kmv)
    kth = F.element_at(kmv, k)  # 1-based
    return F.round(
        F.when(n < k, n.cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(SPACE) / kth.cast("double")
        ),
        4,
    )


def kmv_cells(pages: DataFrame, res: int, k: int = DEFAULT_K) -> DataFrame:
    """Per-cell sketch relation (cell, kmv ARRAY<BIGINT>): the k smallest
    distinct URL hashes per cell at ``res``."""
    h = pages.select(
        grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
        kmv_hash(F.col("url")).alias("h"),
    )
    return h.groupBy("cell").agg(
        F.slice(F.array_sort(F.collect_set("h")), 1, k).alias("kmv")
    )


def kmv_estimate(sketches: DataFrame, k: int = DEFAULT_K) -> DataFrame:
    """Scalar view of a sketch relation (array columns crash the driver
    canon, so the contract query emits these instead):
    (cell, n_in_sketch, kmv_max, est)."""
    return sketches.select(
        "cell",
        F.size("kmv").cast("bigint").alias("n_in_sketch"),
        F.element_at("kmv", F.size("kmv")).alias("kmv_max"),
        _estimate(F.col("kmv"), k).alias("est"),
    )


def kmv_rollup(
    sketches: DataFrame, res: int, parent_res: int, k: int = DEFAULT_K
) -> DataFrame:
    """Merge child sketches into parent-cell sketches WITHOUT touching
    pages: union the child arrays, dedup, keep the k smallest. Exactly
    equal to kmv_cells at ``parent_res`` (the KMV merge identity)."""
    parent = grid.cell_parent(F.col("cell"), res, parent_res).alias("cell")
    return (
        sketches.select(parent, "kmv")
        .groupBy("cell")
        .agg(
            F.slice(
                F.array_sort(
                    F.array_distinct(F.flatten(F.collect_list("kmv")))
                ),
                1,
                k,
            ).alias("kmv")
        )
    )


def sql_kmv_estimate(res: int, k: int = DEFAULT_K,
                     pages_rel: str = "pages") -> str:
    """Oracle for kmv_estimate(kmv_cells(...)): identical hash, k-min
    set, and estimator arithmetic (bare SELECT; composes under the
    contract's pages CTE)."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    return f"""
SELECT cell,
       CAST(len(kmv) AS BIGINT) AS n_in_sketch,
       kmv[len(kmv)] AS kmv_max,
       round(CASE WHEN len(kmv) < {k} THEN CAST(len(kmv) AS DOUBLE)
                  ELSE {float(k - 1)!r} * {SPACE!r}
                       / CAST(kmv[{k}] AS DOUBLE) END, 4) AS est
FROM (
  SELECT cell,
         list_slice(list_sort(list(DISTINCT h)), 1, {k}) AS kmv
  FROM (
    SELECT {cell} AS cell,
           CAST(('0x' || substr(sha256(url), 1, 15)) AS BIGINT) AS h
    FROM {pages_rel}
  ) GROUP BY cell
)"""


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------

CMS_DEPTH = 4
CMS_WIDTH = 256
_CMS_MASK = 0x7FFFFFFF


def _cms_col(key: Column, row: Column | int, width: int) -> Column:
    """Deterministic per-row hash column: 31-bit sha256 prefix of
    ``key|row`` mod width — the same hash family both engines replay."""
    r = F.lit(row) if isinstance(row, int) else row
    h = (
        F.conv(
            F.substring(F.sha2(F.concat(key, F.lit("|"), r.cast("string")), 256), 1, 8),
            16,
            10,
        )
        .cast("bigint")
        .bitwiseAND(F.lit(_CMS_MASK))
    )
    return (h % width).cast("bigint")


def cms_tokens(
    docs: DataFrame, depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> DataFrame:
    """(row, col, total) — a count-min sketch over the corpus token
    stream (Cormode & Muthukrishnan 2005): ``depth`` independent hash
    rows of ``width`` counters; a token's occurrences land on one
    counter per row, and the point-estimate min over rows overestimates
    the true count by at most the collision mass (never under).

    Why it belongs next to the KMV ladder: counters are SUMS, so the
    sketch is MERGEABLE STATE — shard sketches add cell-wise into the
    corpus sketch bit-exactly (pytest-pinned merge identity), the same
    property the Merkle digest ladder has for verification and KMV has
    for distinct counts. At 100 TB each executor folds its partition
    into d*w integers and ONE tiny agg combines them.

    Plan shape: token explode -> ONE corpus-shuffle hash-agg to
    vocab-sized (token, c) — the partial agg absorbs the stream —
    then the depth-way expansion runs on the VOCAB relation (d rows per
    distinct token, not per occurrence) into the (row, col) agg whose
    key space is d*w (plan-time bounded). Zipf skew is irrelevant: hot
    tokens are one vocab row with a big weight."""
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    tok_counts = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    rows = tok_counts.select(
        "tok",
        "c",
        F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row"),
    )
    return (
        rows.select(
            F.col("row").cast("bigint").alias("row"),
            _cms_col(F.col("tok"), F.col("row"), width).alias("col"),
            F.col("c"),
        )
        .groupBy("row", "col")
        .agg(F.sum("c").cast("bigint").alias("total"))
    )


def cms_point_estimates(
    docs: DataFrame,
    probes: list[str],
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(tok, est, true_count) for ``probes``: est = min over rows of the
    probed counter — the CMS read path, with the exact count alongside
    so the one-sided error (est >= true) is visible. Probe relation is
    tiny and broadcast onto the d*w sketch."""
    sk = cms_tokens(docs, depth, width)
    probe = local_relation(
        docs.sparkSession, [(t,) for t in sorted(set(probes))], "tok string"
    ).select(
        "tok", F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("row")
    )
    probe = probe.select(
        "tok",
        F.col("row").cast("bigint").alias("row"),
        _cms_col(F.col("tok"), F.col("row"), width).alias("col"),
    )
    est = (
        F.broadcast(probe)
        .join(sk, ["row", "col"], "left")
        .groupBy("tok")
        .agg(F.min(F.coalesce("total", F.lit(0))).cast("bigint").alias("est"))
    )
    true_c = (
        docs.select(F.explode(TX.tokens(F.col("text"))).alias("tok"))
        .where(F.col("tok").isin(sorted(set(probes))))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    return est.join(true_c, "tok", "left").select(
        "tok", "est", F.coalesce("true_count", F.lit(0)).alias("true_count")
    )


def _sql_cms_col(key_expr: str, row_expr: str, width: int) -> str:
    return (
        f"((CAST(('0x' || substr(sha256({key_expr} || '|' || "
        f"CAST({row_expr} AS VARCHAR)), 1, 8)) AS BIGINT) & {_CMS_MASK})"
        f" % {width})"
    )


def sql_cms_tokens(
    docs_rel: str = "documents", depth: int = CMS_DEPTH, width: int = CMS_WIDTH
) -> str:
    """Oracle: same tokenization, same hash family, same two-agg shape."""
    col = _sql_cms_col("tok", "row", width)
    return f"""
WITH toks AS (
  SELECT unnest({TX.sql_tokens("text")}) AS tok
  FROM {docs_rel}
),
tc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
       FROM toks GROUP BY 1),
expanded AS (
  SELECT tok, c, CAST(row AS BIGINT) AS row
  FROM tc, LATERAL (SELECT unnest(range(0, {depth})) AS row) r
)
SELECT row, CAST({col} AS BIGINT) AS col,
       CAST(sum(c) AS BIGINT) AS total
FROM expanded GROUP BY 1, 2"""


# ---------------------------------------------------------------------------
# HyperLogLog register sketch (Flajolet, Fusy, Gandouet & Meunier 2007)
# ---------------------------------------------------------------------------

#: register-index bits: m = 2^p = 256 registers per cell
HLL_P = 8
HLL_M = 1 << HLL_P
#: bits left for the rank pattern after the index is peeled off the
#: 60-bit kmv_hash space
_HLL_WBITS = 60 - HLL_P
#: scale exponent for the exact-integer indicator sum: every register
#: contributes 2^(_HLL_SCALE - rho) (an exact BIGINT power of two;
#: rho_max is _HLL_WBITS + 1, so the exponent never goes negative)
_HLL_SCALE = _HLL_WBITS + 1
#: alpha_m * m^2 * 2^_HLL_SCALE — the raw-estimator numerator folded
#: into ONE float literal so both engines perform a single double
#: division (float sums would be summation-order-dependent; an integer
#: sum divided once is not)
_HLL_NUM = (0.7213 / (1.0 + 1.079 / HLL_M)) * HLL_M * HLL_M * float(1 << _HLL_SCALE)


def hll_cells(pages: DataFrame, res: int) -> DataFrame:
    """Per-cell HyperLogLog register relation ``(cell, reg, rho_max)``
    over distinct URLs (Flajolet et al. 2007): the low ``HLL_P`` bits of
    the 60-bit URL hash pick one of ``HLL_M`` registers, the remaining
    ``_HLL_WBITS`` bits feed the rank ``rho`` = leading-zero count + 1,
    and the register keeps the MAX rank seen. Everything is exact
    integer arithmetic (``floor(log2)`` via the ``length(bin(x)) - 1``
    idiom both engines share), so the relation — unlike a float
    estimate — is bit-exactly reproducible AND mergeable: max
    re-aggregates, which is what :func:`hll_rollup` exploits.

    Complements the KMV ladder: KMV keeps k 64-bit hashes (512 B/cell,
    better accuracy at small n), HLL keeps m 6-bit ranks (fixed ~256
    B/cell regardless of n) — the sketch every production distinct-count
    stack (Redis PFCOUNT, BigQuery APPROX_COUNT_DISTINCT) runs at scale.

    Scale shape: one codegen'd projection then ONE hash-agg keyed
    (cell, reg) with map-side partial max — state is bounded by
    cells x m, never by row count. No windows, no collects."""
    h = kmv_hash(F.col("url"))
    w = F.shiftright(h, HLL_P)
    rho = (
        F.when(w == 0, F.lit(_HLL_WBITS + 1))
        .otherwise(F.lit(_HLL_WBITS) - (F.length(F.bin(w)) - F.lit(1)))
        .cast("bigint")
    )
    return (
        pages.select(
            grid.cell_encode(F.col("lat"), F.col("lon"), res).alias("cell"),
            h.bitwiseAND(F.lit(HLL_M - 1)).cast("bigint").alias("reg"),
            rho.alias("rho"),
        )
        .groupBy("cell", "reg")
        .agg(F.max("rho").alias("rho_max"))
    )


def hll_estimate(sketches: DataFrame) -> DataFrame:
    """Scalar view ``(cell, n_regs_set, sum_scaled, est)`` of a register
    relation: ``sum_scaled`` is the EXACT BIGINT indicator sum
    ``sum_j 2^(_HLL_SCALE - M[j])`` (absent registers carry rank 0),
    bounded by m * 2^_HLL_SCALE = 2^61 — fits int64 — and ``est`` is the
    raw HLL estimator ``alpha_m * m^2 / sum_j 2^-M[j]`` realised as ONE
    double division of the precomputed float numerator by that integer
    (deterministic across engines and summation orders). The small-range
    linear-counting correction (use ``m * ln(m / zero_regs)`` when the
    raw estimate is below 2.5m — Flajolet et al. §4) is deliberately
    omitted: it needs a transcendental ``ln`` whose last-ulp behavior
    is libm-specific, which would break the cross-engine value-hash
    canon. ``n_regs_set`` IS the linear-counting input (zero_regs =
    m - n_regs_set), so consumers apply the correction in one float
    step; the sketch relation is the product, the estimate a view."""
    return (
        sketches.groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_regs_set"),
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {_HLL_SCALE} - rho_max)")
            ).cast("bigint").alias("present"),
        )
        .select(
            "cell",
            "n_regs_set",
            (
                F.col("present")
                + (F.lit(HLL_M) - F.col("n_regs_set"))
                * F.lit(1 << _HLL_SCALE).cast("bigint")
            ).alias("sum_scaled"),
        )
        .select(
            "cell",
            "n_regs_set",
            "sum_scaled",
            F.round(F.lit(_HLL_NUM) / F.col("sum_scaled"), 4).alias("est"),
        )
    )


def hll_rollup(sketches: DataFrame, res: int, parent_res: int) -> DataFrame:
    """Merge child-cell registers into parent-cell registers WITHOUT
    touching pages: max of maxes per (parent, reg) — exactly equal to
    hll_cells at ``parent_res`` (the HLL merge identity, pytest-pinned
    like the KMV and CMS ones)."""
    parent = grid.cell_parent(F.col("cell"), res, parent_res).alias("cell")
    return (
        sketches.select(parent, "reg", "rho_max")
        .groupBy("cell", "reg")
        .agg(F.max("rho_max").alias("rho_max"))
    )


def sql_hll_estimate(res: int, pages_rel: str = "pages") -> str:
    """Oracle for hll_estimate(hll_cells(...)): identical hash split,
    rank arithmetic, integer indicator sum, and single division."""
    cell = grid.sql_cell_encode("lat", "lon", res)
    scale_one = 1 << _HLL_SCALE
    return f"""
SELECT cell,
       CAST(count(*) AS BIGINT) AS n_regs_set,
       CAST(sum(1::BIGINT << ({_HLL_SCALE} - rho_max))
            + ({HLL_M} - count(*)) * {scale_one} AS BIGINT) AS sum_scaled,
       round({_HLL_NUM!r} / (sum(1::BIGINT << ({_HLL_SCALE} - rho_max))
            + ({HLL_M} - count(*)) * {scale_one}), 4) AS est
FROM (
  SELECT cell, reg, max(rho) AS rho_max
  FROM (
    SELECT {cell} AS cell,
           h & {HLL_M - 1} AS reg,
           CASE WHEN (h >> {HLL_P}) = 0 THEN {_HLL_WBITS + 1}
                ELSE {_HLL_WBITS} - (length(bin(h >> {HLL_P})) - 1)
           END AS rho
    FROM (
      SELECT lat, lon,
             CAST(('0x' || substr(sha256(url), 1, 15)) AS BIGINT) AS h
      FROM {pages_rel}
    )
  ) GROUP BY cell, reg
) GROUP BY cell"""


# ---------------------------------------------------------------------------
# Bloom filter (Bloom 1970) — mergeable set-membership registers
# ---------------------------------------------------------------------------
#
# The fourth member of the mergeable-state family: Merkle digests
# certify content, KMV/HLL estimate distinct counts, CMS estimates
# frequencies — the Bloom filter answers MEMBERSHIP with no false
# negatives. The 100 TB use is frontier dedup (Heritrix/Nutch keep
# exactly this structure): "is this candidate URL already crawled?" —
# a "no" is definite, so definitely-new URLs never pay a corpus join;
# the false-positive tail (bounded by (1-e^-kn/m)^k) re-checks against
# the store. Registers are OR-mergeable, so per-shard filters combine
# into the corpus filter bit-exactly — pytest pins merge identity, and
# the register relation itself (not a float summary) is what the
# oracle hash-checks.

#: filter size in bits (m): plan-time constant, 2^18 = 262144 bits
BLOOM_M_BITS = 1 << 18
#: independent hash functions (k)
BLOOM_K = 4
#: bits per register word — 32, so ``1 << (pos & 31)`` stays a small
#: positive BIGINT in both engines (a 63-bit shift would hit the sign
#: bit, whose overflow semantics differ across engines)
_BLOOM_WBITS = 32


def _bloom_pos(key: Column, j: Column | int, m_bits: int) -> Column:
    """Bit position of hash j for ``key``: 31-bit sha256 prefix of
    ``key|j`` mod m — the same ``hash(key|salt)`` family as the CMS
    rows, so the independence argument is shared."""
    r = F.lit(j) if isinstance(j, int) else j
    h = (
        F.conv(
            F.substring(
                F.sha2(F.concat(key, F.lit("|"), r.cast("string")), 256), 1, 8
            ),
            16,
            10,
        )
        .cast("bigint")
        .bitwiseAND(F.lit(0x7FFFFFFF))
    )
    return (h % m_bits).cast("bigint")


def _sql_bloom_pos(key_expr: str, j_expr: str, m_bits: int) -> str:
    return (
        f"((CAST(('0x' || substr(sha256({key_expr} || '|' || "
        f"CAST({j_expr} AS VARCHAR)), 1, 8)) AS BIGINT) & 2147483647)"
        f" % {m_bits})"
    )


def bloom_urls(
    pages: DataFrame, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """(word, bits) — the Bloom filter over the corpus URL set as a
    register relation: ``k`` bit positions per URL, packed into 32-bit
    words (word = pos >> 5, bit = pos & 31), OR-aggregated.

    Plan shape: one k-way sequence explode (k is a small plan-time
    constant) -> ONE hash-agg whose key space is m/32 words (plan-time
    bounded — 8192 rows here), partial bit_or absorbing the corpus
    map-side. Hot URLs are irrelevant: duplicate keys set the same
    bits. Merge across shards is the same bit_or re-applied."""
    if m_bits % _BLOOM_WBITS:
        raise ValueError("m_bits must be a multiple of 32")
    pos = _bloom_pos(F.col("url"), F.col("j"), m_bits)
    return (
        pages.select(
            F.col("url"),
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
        )
        .select(pos.alias("pos"))
        .select(
            F.shiftright(F.col("pos"), 5).alias("word"),
            F.expr("cast(shiftleft(1L, cast(pos % 32 as int)) as bigint)")
            .alias("mask"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(mask)").cast("bigint").alias("bits"))
    )


def bloom_probe(
    bloom: DataFrame,
    candidates: DataFrame,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> DataFrame:
    """(url, might_seen) for every candidate URL: TRUE iff all k bits
    are set (possible member — false-positive rate bounded by the m/k/n
    envelope), FALSE = DEFINITELY new (the no-false-negative guarantee
    the frontier relies on: a FALSE never needs the corpus re-check).

    The register relation is m/32 rows — broadcast onto the candidate
    probes, so the probe costs the candidate scan alone: at 100 TB the
    filter built from the trillion-row store is still ~8k rows/shard
    and the frontier never shuffles."""
    probes = candidates.select(
        F.col("url"),
        F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("j"),
    )
    probes = probes.select(
        "url", _bloom_pos(F.col("url"), F.col("j"), m_bits).alias("pos")
    ).select(
        "url",
        F.shiftright(F.col("pos"), 5).alias("word"),
        F.expr("cast(shiftleft(1L, cast(pos % 32 as int)) as bigint)")
        .alias("mask"),
    )
    return (
        probes.join(F.broadcast(bloom), "word", "left")
        .select(
            "url",
            (
                F.coalesce(F.col("bits"), F.lit(0)).bitwiseAND(F.col("mask"))
                == F.col("mask")
            ).alias("hit"),
        )
        .groupBy("url")
        .agg(F.min("hit").alias("might_seen"))
    )


def sql_bloom_ctes(
    candidates_body: str,
    pages_rel: str = "pages",
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
) -> str:
    """Oracle CTE fragments (no WITH keyword — compose after the pages
    CTE): ``bloom`` (same hash family, word packing and bit_or agg as
    :func:`bloom_urls`) and ``bchecks`` probing the ``bcand`` relation
    whose body is ``candidates_body`` (a SELECT yielding ``url``). The
    final SELECT is :func:`sql_bloom_probe_select`."""
    pos = _sql_bloom_pos("url", "j", m_bits)
    return f"""bpos AS (
  SELECT CAST({pos} AS BIGINT) AS pos
  FROM {pages_rel}, LATERAL (SELECT unnest(range(0, {k})) AS j) r
),
bloom AS (
  SELECT pos >> 5 AS word,
         CAST(bit_or((CAST(1 AS BIGINT) << CAST(pos % 32 AS INT))) AS BIGINT)
           AS bits
  FROM bpos GROUP BY 1
),
bcand AS ({candidates_body}),
bprobes AS (
  SELECT url, CAST({pos} AS BIGINT) AS pos
  FROM bcand, LATERAL (SELECT unnest(range(0, {k})) AS j) r
),
bchecks AS (
  SELECT p.url,
         (coalesce(b.bits, 0) & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)))
           = (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INT)) AS hit
  FROM bprobes p LEFT JOIN bloom b ON p.pos >> 5 = b.word
)"""


def sql_bloom_probe_select() -> str:
    """Final SELECT over the :func:`sql_bloom_ctes` fragments."""
    return "SELECT url, min(hit) AS might_seen FROM bchecks GROUP BY 1"
