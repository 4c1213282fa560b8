"""Sketch-based approximate aggregates — the sublinear path at 100 TB.

Exact distinct-count and exact percentiles need a full shuffle of every
distinct value / a full sort. The sketch forms are one map-side pass with
constant-size state per partition, merged at the driver — the only viable
shape when the exact answer would itself be petabyte-scale intermediate
state. Error is tunable and documented at each call site.

Distinct/quantile sketches wrap Spark's built-ins (HyperLogLog++ and the
Greenwald-Khanna variant behind ``percentile_approx``) rather than
reimplementing them: same semantics, JVM-side, codegen-friendly. Their
randomized internals admit no DuckDB-hash contract (approximate !=
oracle-exact); tests pin error bounds against exact answers instead.
The Count-Min sketch below is the exception: its hash family is a
DETERMINISTIC md5+LCG construction, so the full counter table (and any
point estimate) is engine-portable and hash-matched like an exact query.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F
from gordo_spark.functions.rounding import qround


def approx_distinct(
    df: DataFrame,
    cols: Sequence[str],
    group_by: Sequence[str] = (),
    rsd: float = 0.02,
) -> DataFrame:
    """HyperLogLog++ distinct counts (relative std dev ``rsd``), optionally
    per group. State per aggregate is ~1.5KB/0.01 rsd — constant, never
    proportional to cardinality."""
    aggs = [
        F.approx_count_distinct(F.col(f"`{c}`"), rsd=rsd).alias(f"n_{c}")
        for c in cols
    ]
    if group_by:
        return df.groupBy(*group_by).agg(*aggs)
    return df.agg(*aggs)


def approx_quantiles(
    df: DataFrame,
    col: str,
    probabilities: Sequence[float] = (0.25, 0.5, 0.75, 0.99),
    group_by: Sequence[str] = (),
    relative_error: float = 0.001,
) -> DataFrame:
    """Approximate quantiles (one pass, mergeable sketch). The returned
    row has an array column ``quantiles`` aligned with ``probabilities``."""
    agg = F.percentile_approx(
        F.col(f"`{col}`"),
        F.array(*[F.lit(float(p)) for p in probabilities]),
        F.lit(int(1.0 / relative_error)),
    ).alias("quantiles")
    if group_by:
        return df.groupBy(*group_by).agg(agg)
    return df.agg(agg)


def count_min_sketch(
    df: DataFrame,
    col: str,
    width: int = 256,
    depth: int = 4,
    seed: int = 777,
) -> DataFrame:
    """Count-Min sketch (Cormode & Muthukrishnan 2005) of a value stream:
    a ``depth x width`` counter table where row ``r`` buckets each item
    by an independent universal hash. Point estimate = min over rows of
    the item's bucket counts — never an undercount, overcount bounded by
    e*N/width with probability 1-(1/e)^depth.

    The sketch is the memory-bounded frequency store when even the
    Misra-Gries candidate set is too restrictive (answers ANY item, not
    just heavy ones) — depth*width longs of state regardless of corpus
    size, mergeable by plain cell-wise addition (a groupBy-sum here, so
    partial aggregation merges partition sketches for free).

    Hashing is the md5+LCG universal family (same construction as
    ``dedup.decontaminate_bloom``) — DETERMINISTIC and engine-portable,
    so unlike classical randomized sketches a DuckDB oracle reproduces
    every cell bit-for-bit and the whole table is hash-matchable.

    Deliberately NOT pre-aggregated by value: a ``groupBy(value)`` first
    pass would be faster at small cardinality, but the sketch exists for
    streams whose distinct-value table is itself too wide to hash-agg
    (trillions of tokens) — the direct cell aggregation keeps per-task
    state at depth*width counters, never spills, at any cardinality.
    """
    from gordo_spark.operators.dedup import MINHASH_P, _hash_params, md5_long

    params = _hash_params(depth, seed=seed)
    base = md5_long(F.col(col).cast("string"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                ((F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P) % F.lit(width)).alias(
                    "bucket"
                ),
            )
            for r, (a, b) in enumerate(params)
        ]
    )
    return (
        df.select(F.explode(cells).alias("c"))
        .groupBy(F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    values: list[str],
    width: int = 256,
    depth: int = 4,
    seed: int = 777,
) -> DataFrame:
    """Point-estimate counts for ``values`` from a ``count_min_sketch``
    table (same width/depth/seed). The query side is |values| x depth
    rows joined against the depth*width-row sketch — bounded on both
    sides; estimate = min over the item's depth cells (an absent cell is
    a 0 count: the item never hashed there)."""
    from gordo_spark.operators.dedup import MINHASH_P, _hash_params, md5_long

    spark = sketch.sparkSession
    params = _hash_params(depth, seed=seed)
    q = spark.createDataFrame([(v,) for v in values], "value string")
    base = md5_long(F.col("value"))
    cells = F.array(
        *[
            F.struct(
                F.lit(r).alias("row"),
                ((F.lit(a) * base + F.lit(b)) % F.lit(MINHASH_P) % F.lit(width)).alias(
                    "bucket"
                ),
            )
            for r, (a, b) in enumerate(params)
        ]
    )
    qc = q.select("value", F.explode(cells).alias("c")).select(
        "value", F.col("c.row").alias("row"), F.col("c.bucket").alias("bucket")
    )
    return (
        qc.join(sketch, ["row", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("n"), F.lit(0))).alias("est_count"))
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int = 64,
    candidates: int | None = None,
    verified: bool = False,
) -> DataFrame:
    """Misra-Gries heavy hitters: the terms that MIGHT exceed n/k of the
    stream, with guaranteed count bounds — the sublinear path when even
    the aggregated term table is too wide to groupBy (trillions of
    distinct tokens at 100 TB; the exact path is ``text.term_stats``).

    Shape: each Arrow batch runs the classic k-counter summary
    (increment if tracked, insert if room, else decrement all — O(1)
    amortized per item, ``candidates`` counters of state per
    PARTITION, constant regardless of rows); the per-partition
    summaries land as at most partitions x candidates rows, merged by
    one ordinary groupBy-sum. Merging MG summaries by summation keeps
    the guarantee: true_count - n/(candidates+1) <= est <= true_count
    per partition, and the bounds add across partitions (Agarwal et
    al. 2013 mergeable-summaries result). Every item with true
    frequency > n/(candidates+1) is guaranteed present.

    Returns the top ``k`` by estimated count (desc, value asc). The raw
    estimates are partitioning-dependent (each partition's decrements
    depend on its row mix), so that form is pytest-bounded.

    ``verified=True`` appends the classic MG verification pass: re-count
    the CANDIDATE terms exactly (broadcast semi-join + groupBy — the
    second stream pass every two-pass heavy-hitter deployment runs) and
    cut top ``k`` on the exact count with the (count desc, value asc)
    total order. Because every term with true frequency >
    n/(candidates+1) is guaranteed a candidate, the verified output
    EQUALS the global exact top-k whenever the k-th hitter clears that
    bar — which makes it deterministic, partitioning-independent, and
    SQL-oracle-checkable (the term_stats discipline), while both passes
    stay sublinear in DISTINCT terms (the groupBy only ever sees the
    bounded candidate set). Output: ``(value, exact_count)``.
    """
    import pandas as pd

    cand = int(candidates or 4 * k)

    def summarize(batches):
        counters: dict = {}
        for pdf in batches:
            for v in pdf[col].astype(str):
                if v in counters:
                    counters[v] += 1
                elif len(counters) < cand:
                    counters[v] = 1
                else:
                    dead = []
                    for key in counters:
                        counters[key] -= 1
                        if counters[key] == 0:
                            dead.append(key)
                    for key in dead:
                        del counters[key]
        if counters:
            yield pd.DataFrame(
                {"value": list(counters), "est": list(counters.values())}
            )

    stream = df.select(F.col(col).cast("string").alias(col))
    partials = stream.mapInPandas(summarize, schema="value string, est long")
    if verified:
        cand_set = partials.select("value").distinct()
        # internal alias: a caller column itself named "value" would
        # otherwise collide with cand_set's column after the join
        hv = stream.select(F.col(col).alias("_hv"))
        exact = (
            hv.join(F.broadcast(cand_set), F.col("_hv") == cand_set["value"])
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("exact_count"))
        )
        return exact.orderBy(
            F.col("exact_count").desc(), F.col("value").asc()
        ).limit(int(k))
    return (
        partials.groupBy("value")
        .agg(F.sum("est").alias("est_count"))
        .orderBy(F.col("est_count").desc(), F.col("value").asc())
        .limit(int(k))
    )


def partial_distinct_sketches(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = ("date",),
    lgk: int = 12,
) -> DataFrame:
    """Per-group HLL sketch BLOBS (Apache DataSketches via Spark's
    ``hll_sketch_agg``) — the mergeable-state pattern for incremental
    distinct counts over a partitioned lake: publish one small binary
    sketch per (date/source/shard), then answer "uniques over ANY group
    subset" by unioning blobs — no rescan of the underlying data, ever.

    ``lgk`` trades size for accuracy (2^lgk buckets; 12 -> ~1.6% rsd,
    ~2.5 KB/blob). A day's sketch never changes once its partition is
    closed, so the blob table maintains itself with the same dynamic
    partition-overwrite discipline as the rollup lake.
    """
    return df.groupBy(*group_by).agg(
        F.hll_sketch_agg(F.col(f"`{col}`"), F.lit(int(lgk))).alias("sketch")
    )


def merged_distinct_estimate(
    sketches: DataFrame,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Union partial sketches (optionally regrouped — e.g. day blobs to
    month totals) and estimate distinct counts. Input moves only
    |groups| KB-sized blobs; the union is one ``hll_union_agg``."""
    agg = F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("n_distinct")
    if group_by:
        return sketches.groupBy(*group_by).agg(agg)
    return sketches.agg(agg)


# 2^53 — the fixed-point scale for the deterministic-HLL harmonic sum.
_HLL_SCALE = 9007199254740992


def _unused(name: str, taken: Sequence[str]) -> str:
    """``name``, underscore-prefixed until no column in ``taken`` has it
    (Spark resolves names case-insensitively)."""
    while name.lower() in {t.lower() for t in taken}:
        name = "_" + name
    return name


def hll_det_registers(
    df: DataFrame,
    col: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Deterministic HyperLogLog registers (Flajolet et al. 2007) over
    an md5 hash — the CMS trick applied to distinct counting: classical
    HLL is randomized, but with a FIXED, engine-portable hash the whole
    register table (and the estimate) reproduces bit-for-bit in any
    engine with ``md5()``, so even the "approximate" answer is
    oracle-exact. m = 256 registers (lgk 8, ~6.5% rsd).

    Register index = first 2 md5 hex chars; rho = leading-zero count of
    the next 13 hex chars (52 bits) + 1, computed by STRING algebra
    (``ltrim(s, '0')`` + a 16-way CASE on the first surviving char) —
    never float ``log2``, which rounds differently near powers of two.
    Output: one row per ``(group, idx)`` with ``m = max(rho)`` — a
    plain hash aggregation, map-side combinable, 256 rows of state per
    group no matter the cardinality.
    """
    gcols = list(group_by)
    # internal columns, renamed away from any group column
    h, st, rho_col = (_unused(n, gcols) for n in ("_h", "_st", "rho"))
    # staged projections (r12): the md5 was textually inlined ~6x (idx +
    # every reference through `stripped`), and the CASE ladder re-ran it
    # per branch test per row. Stage md5 once, then the stripped slice
    # once, then the rho algebra over those columns — CollapseProject
    # keeps non-cheap producers split, so each stage evaluates once per
    # row inside one codegen stage. Identical string algebra per value.
    d0 = df.select(*gcols, F.md5(F.col(col).cast("string")).alias(h))
    d1 = d0.select(
        *gcols,
        F.conv(F.substring(F.col(h), 1, 2), 16, 10)
        .cast("int")
        .alias("idx"),
        F.expr(f"trim(LEADING '0' FROM substring(`{h}`, 3, 13))").alias(st),
    )
    first = F.substring(F.col(st), 1, 1)
    extra = (
        F.when(first == "1", 3)
        .when(first.isin("2", "3"), 2)
        .when(first.isin("4", "5", "6", "7"), 1)
        .otherwise(0)
    )
    rho = F.when(F.length(F.col(st)) == 0, F.lit(53)).otherwise(
        (F.lit(13) - F.length(F.col(st))) * 4 + extra + 1
    )
    d = d1.select(*gcols, "idx", rho.alias(rho_col))
    return d.groupBy(*gcols, "idx").agg(F.max(rho_col).alias("m"))


def hll_det_estimate(
    registers: DataFrame,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Distinct-count estimate from :func:`hll_det_registers` output.

    The harmonic sum is EXACT INTEGER arithmetic: each register
    contributes ``2^(53 - m)`` (a bigint — m <= 53), absent registers
    contribute ``2^53``, so the sum S is order-independent and
    engine-identical; the raw estimate is then one double division
    ``alpha * m^2 * 2^53 / S``. Small-range (linear counting) branch:
    when E <= 2.5m and empty registers exist, ``E = m * ln(m / V)``
    (rounded to 4dp — ``ln`` may differ in the last ulp across libms).
    Output: ``(group..., hll_distinct)``.
    """
    m = 256
    alpha = 0.7213 / (1 + 1.079 / m)
    gcols = list(group_by)
    agg = registers.groupBy(*gcols).agg(
        F.sum(F.expr("shiftleft(1L, 53 - m)")).alias("_s_present"),
        F.count(F.lit(1)).alias("_n_present"),
    )
    s_total = F.col("_s_present") + (F.lit(m) - F.col("_n_present")) * F.lit(
        _HLL_SCALE
    )
    raw = F.lit(alpha * m * m * float(_HLL_SCALE)) / s_total
    v = F.lit(m) - F.col("_n_present")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0), F.lit(float(m)) * F.log(F.lit(float(m)) / v)
    ).otherwise(raw)
    return agg.select(*gcols, qround(est, 4).alias("hll_distinct"))


def group_quantile_sketch(
    df: DataFrame,
    group_col: str,
    value_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    bins: int = 256,
) -> DataFrame:
    """Deterministic bounded-state per-group quantiles — the scale path
    `group_quantiles`' docstring promises: exact ``percentile`` buffers
    every group value (state grows with group size), the native
    ``approx_percentile`` t-digest is engine-opaque; this sketch holds
    exactly ``bins`` counters per group (mergeable, map-side combined),
    and its estimate is reproducible arithmetic any engine can mirror —
    the HLL-det design point applied to quantiles.

    Shape: one 1-row global min/max aggregate (broadcast) fixes the bin
    width; one (group, bin) hash aggregation builds the histograms; the
    quantile readout interpolates within the first bin whose cumulative
    count reaches ``rank = ceil(q * n)`` — a window over the <= bins
    rows per group, never the data. Error is bounded by the bin width
    (range/bins), the stated trade. Output: ``(group, n, q, estimate)``
    — one row per (group, quantile).
    """
    from pyspark.sql import Window

    g, v = F.col(group_col), F.col(value_col).cast("double")
    # NULL values carry no rank information: unfiltered they'd form a
    # NULL _bin group that sorts FIRST in the cumulative window,
    # inflating _n/_cum_prev and skewing every estimate for groups
    # containing NULLs (the auc_exact convention: n = real observations)
    df = df.filter(v.isNotNull())
    bounds = df.agg(
        F.min(v).alias("_lo"), F.max(v).alias("_hi")
    )
    b = int(bins)
    binned = (
        df.crossJoin(F.broadcast(bounds))
        .select(
            g.alias("_g"),
            F.col("_lo"),
            F.col("_hi"),
            F.when(
                F.col("_hi") > F.col("_lo"),
                F.least(
                    F.lit(b - 1),
                    F.floor(
                        (v - F.col("_lo"))
                        / (F.col("_hi") - F.col("_lo"))
                        * b
                    ).cast("int"),
                ),
            )
            .otherwise(F.lit(0))
            .alias("_bin"),
        )
        .groupBy("_g", "_lo", "_hi", "_bin")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    w = Window.partitionBy("_g").orderBy("_bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wtot = Window.partitionBy("_g")
    hist = binned.select(
        "_g",
        "_lo",
        "_hi",
        "_bin",
        "_c",
        (F.sum("_c").over(w) - F.col("_c")).alias("_cum_prev"),
        F.sum("_c").over(wtot).alias("_n"),
    )
    width = (F.col("_hi") - F.col("_lo")) / b
    # ALL requested quantiles in one pass: each hist row fans out to
    # |qs| (row, q) candidates row-locally and the rank filter keeps
    # the one covering bin per (group, q) — a per-q union would re-read
    # the histogram lineage once per quantile
    fanned = hist.select(
        "*", F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    rank = F.ceil(F.col("q") * F.col("_n"))
    return (
        fanned.filter(
            (F.col("_cum_prev") < rank)
            & (F.col("_cum_prev") + F.col("_c") >= rank)
        )
        .select(
            F.col("_g").alias(group_col),
            F.col("_n").alias("n"),
            F.col("q"),
            qround(
                F.col("_lo")
                + width
                * (
                    F.col("_bin")
                    + (rank - F.col("_cum_prev")) / F.col("_c")
                ),
                6,
            ).alias("estimate"),
        )
        .orderBy(group_col, "q")
    )
