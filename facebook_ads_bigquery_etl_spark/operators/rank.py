"""Global ranking without a single-partition window.

An unpartitioned window (``Window.orderBy`` with no ``partitionBy``)
plans an ``Exchange SinglePartition``: the ENTIRE input is sorted by
one task — fine at bench scale (measured 2.9–3.0× wall at 10×), the
bottleneck at 100×+. These operators compute the same exact global
rank / ntile with fully parallel stages:

1. value-based histogram boundaries from ``approxQuantile`` — ONLY a
   parallelism lever: exactness never depends on them, any
   deterministic value cuts work (approximate, skewed, even a single
   cut all stay correct, just less parallel);
2. per-bucket exact counts → cumulative offsets (≤ ``n_buckets`` rows,
   driver-side, broadcast back as a literal map);
3. ``row_number`` within each bucket (``partitionBy(bucket)`` — many
   small parallel windows);
4. global rank = bucket offset + local rank; ntile from the rank by
   Spark's own bucket-size distribution (first N mod k tiles get
   ⌈N/k⌉ rows).

Exactness requires the order to be TOTAL (pass tiebreak columns that
make it unique — every registered quartile/rank query already orders
by (value, key)); ties in ``value_col`` land in one bucket by
construction, so cross-bucket order is never violated.

Reference has no ranking surface (`main.py` is connector-only); this
is the scale form of the W-family global-rank queries — wired into
`order_value_quartiles` and `customer_rfm_segments` (round 9), which
forced the parallel form (`small_input_rows=0`) so their committed
plans carry no `Exchange SinglePartition` (10× ratio 2.9–3.0 → 1.15–1.21,
STRESS.md round-9 section).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _bucket_of(value_col: str, cuts: list[float]) -> Column:
    # index = #cuts strictly below the value (bisect_left over the
    # sorted, deduplicated cuts) → rows tied on a cut value share a
    # bucket. Balanced CASE tree = binary search: ≤ ⌈log2(n)⌉ codegen
    # comparisons per row. (The original F.aggregate HOF walked all n
    # cuts per row through an INTERPRETED lambda — CodegenFallback —
    # which at the old n_buckets=256 dominated the whole operator's
    # job time; r13 optimization, guide §1.2/§4.1 "prefer built-ins
    # with codegen". The tree is rendered as ONE SQL string and parsed
    # JVM-side: building it node-by-node through py4j cost ~1.4 s per
    # construction at 255 cuts, measured.) Semantics identical to the
    # HOF: NULL value → every `>` is NULL → every WHEN takes the ELSE
    # branch → bucket 0, exactly like the old sum of 0s; NaN > any
    # non-NaN in Spark's ordering → top bucket, like the old per-cut
    # comparisons.
    import math

    v = f"`{value_col}`"

    def lit(c: float) -> str:
        c = float(c)
        if math.isnan(c):
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(c):
            return f"CAST('{'-' if c < 0 else ''}Infinity' AS DOUBLE)"
        return repr(c) + "D"  # shortest repr round-trips exactly

    def tree(lo: int, hi: int) -> str:
        # returns #cuts < value, given cuts[:lo] all < value and
        # cuts[hi:] all >= value
        if lo == hi:
            return str(lo)
        mid = (lo + hi) // 2
        return (
            f"CASE WHEN {v} > {lit(cuts[mid])} "
            f"THEN {tree(mid + 1, hi)} ELSE {tree(lo, mid)} END"
        )

    return F.expr(tree(0, len(cuts)))


def _default_buckets(df: DataFrame) -> int:
    """Scale-adaptive bucket count: 2× the cluster's default
    parallelism (floor 64, cap 4096) instead of a constant — buckets
    only set the window parallelism and the quantile-probe/CASE-tree
    size, never correctness (any deterministic cuts are exact). More
    cores → more buckets → smaller per-bucket sorts; the cap bounds
    plan size and the probe, and callers ranking truly huge frames can
    pass ``n_buckets`` explicitly (r13 optimization, guide §2:
    derive scale-dependent settings, don't pin them to one machine)."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return max(64, min(4096, 2 * int(par)))


def with_global_rank(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    out_col: str = "global_rank",
    n_buckets: int | None = None,
    ascending: bool = True,
) -> DataFrame:
    """Add the exact 1-based global rank by
    ``(value_col, *tiebreak_cols)`` (a TOTAL order — tiebreaks must
    make it unique) without ever shuffling to a single partition.

    The operator runs three actions over ``df`` (quantile probe,
    per-bucket counts, the final ranked plan). A source that is not
    re-read-stable (concurrent writes, sampling) can grow a bucket
    between the counts collect and window time; that bucket's offset
    would be absent from the broadcast map, so the rank expression
    raises at runtime instead of silently emitting null ranks. A
    caller with a non-deterministic source passes ``materialize(df)``
    (operators/materialize), pinned across the three actions."""
    return _rank_with_total(
        df, value_col, tiebreak_cols, out_col, n_buckets, ascending
    )[0]


def _rank_with_total(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    out_col: str,
    n_buckets: int | None,
    ascending: bool,
) -> tuple[DataFrame, int]:
    """Body of :func:`with_global_rank`, additionally returning the
    total row count (= sum of the per-bucket counts it collects
    anyway) so callers that need N — the ntile formula — don't pay a
    separate ``df.count()`` pass (r13 optimization, guide §1.2: one
    fewer full action per ntile; the count and the offsets now also
    come from the SAME action, so they can never disagree on a
    non-re-read-stable source)."""
    n = max(2, int(n_buckets)) if n_buckets is not None else _default_buckets(df)
    probes = [i / n for i in range(1, n)]
    cuts = sorted(set(df.approxQuantile(value_col, probes, 0.001)))
    bucket = (
        _bucket_of(value_col, cuts) if cuts else F.lit(0)
    )  # empty/constant input: one bucket
    b = df.withColumn("__bucket", bucket)
    # exact per-bucket counts → cumulative offsets; ≤ n rows to driver
    counts = {
        r["__bucket"]: r["cnt"]
        for r in b.groupBy("__bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for k in sorted(counts):
        offsets[k] = acc
        acc += counts[k]
    omap = F.create_map(
        *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
    )
    direction = F.asc if ascending else F.desc
    if not ascending:
        # descending global order: buckets must also flip — rank from
        # the top means offset counts rows ABOVE, i.e. from higher
        # buckets. Recompute offsets in descending bucket order.
        offsets, acc = {}, 0
        for k in sorted(counts, reverse=True):
            offsets[k] = acc
            acc += counts[k]
        omap = F.create_map(
            *[F.lit(x) for kv in sorted(offsets.items()) for x in kv]
        )
    w = Window.partitionBy("__bucket").orderBy(
        direction(value_col), *[direction(c) for c in tiebreak_cols]
    )
    # A bucket present at window time but absent at count time means the
    # input changed between the two actions — fail loudly, never emit
    # null ranks (advisor r8 finding).
    offset = F.element_at(omap, F.col("__bucket"))
    offset = F.when(
        offset.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "with_global_rank: bucket absent at count time "
                    "(input not re-read-stable; call materialize(df) first): "
                ),
                F.col("__bucket").cast("string"),
            )
        ).cast("long"),
    ).otherwise(offset)
    ranked = (
        b.withColumn("__local", F.row_number().over(w))
        .withColumn(out_col, (offset + F.col("__local")).cast("long"))
        .drop("__bucket", "__local")
    )
    return ranked, sum(counts.values())


def ntile_from_rank(rank_col: str, total: int, k: int) -> Column:
    """Spark's exact NTILE(k) bucket for a 1-based global rank over
    ``total`` rows: the first ``total % k`` tiles hold ⌈total/k⌉ rows,
    the rest ⌊total/k⌋ — identical to ``F.ntile(k)`` over the same
    total order."""
    size, rem = divmod(int(total), int(k))
    big = rem * (size + 1)
    r = F.col(rank_col)
    if size == 0:  # fewer rows than tiles: rank IS the tile
        return r.cast("int")
    return (
        F.when(r <= big, F.ceil(r / F.lit(size + 1)))
        .otherwise(F.lit(rem) + F.ceil((r - big) / F.lit(size)))
        .cast("int")
    )


def with_global_cumsum(
    df: DataFrame,
    sum_col: str,
    value_col: str,
    tiebreak_cols: list[str],
    out_col: str = "global_cumsum",
    n_buckets: int | None = None,
    ascending: bool = True,
) -> DataFrame:
    """Exact running ``SUM(sum_col) OVER (ORDER BY value, *tiebreaks
    ROWS UNBOUNDED PRECEDING)`` without a single-partition sort: the
    same histogram buckets as :func:`with_global_rank`, per-bucket
    SUM totals → cumulative offsets (≤ ``n_buckets`` rows to the
    driver), then a per-bucket running sum window.

    Exactness caveat: per-bucket partials are combined in bucket
    order, not element order — for FLOAT inputs the result can differ
    from a sequential pass by ulps (non-associative addition). Use an
    exactly-additive ``sum_col`` type (integer / decimal) when
    bit-parity with a sequential window or another engine matters;
    the offsets and the output are cast to the aggregate's own type.
    Same re-read-stability contract as :func:`with_global_rank`."""
    n = max(2, int(n_buckets)) if n_buckets is not None else _default_buckets(df)
    probes = [i / n for i in range(1, n)]
    cuts = sorted(set(df.approxQuantile(value_col, probes, 0.001)))
    bucket = _bucket_of(value_col, cuts) if cuts else F.lit(0)
    b = df.withColumn("__bucket", bucket)
    # the aggregate's own type (e.g. decimal widens, long stays long)
    agg_type = b.groupBy("__bucket").agg(
        F.sum(sum_col).alias("s")
    ).schema["s"].dataType.simpleString()
    sums = {
        r["__bucket"]: r["s"]
        for r in b.groupBy("__bucket").agg(F.sum(sum_col).alias("s")).collect()
    }
    order = sorted(sums, reverse=not ascending)
    offsets, acc = {}, 0
    for k in order:
        offsets[k] = acc  # sum of all STRICTLY-prior buckets
        acc = acc + (sums[k] if sums[k] is not None else 0)
    omap = F.create_map(
        *[
            x
            for k in sorted(offsets)
            for x in (F.lit(k), F.lit(str(offsets[k])).cast(agg_type))
        ]
    )
    direction = F.asc if ascending else F.desc
    w = (
        Window.partitionBy("__bucket")
        .orderBy(direction(value_col), *[direction(c) for c in tiebreak_cols])
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # same missing-bucket guard as with_global_rank: a bucket absent
    # at sum time must raise, never silently contribute a null offset
    offset = F.element_at(omap, F.col("__bucket"))
    offset = F.when(
        offset.isNull(),
        F.raise_error(
            F.concat(
                F.lit(
                    "with_global_cumsum: bucket absent at sum time "
                    "(input not re-read-stable; call materialize(df) first): "
                ),
                F.col("__bucket").cast("string"),
            )
        ).cast(agg_type),
    ).otherwise(offset)
    return (
        b.withColumn("__local_sum", F.sum(sum_col).over(w))
        .withColumn(out_col, (offset + F.col("__local_sum")).cast(agg_type))
        .drop("__bucket", "__local_sum")
    )


# Below this row count a single-task window sort beats the parallel
# form's fixed overhead (quantile probe + counts collect = 2 extra
# jobs): measured 2.0 s window vs 6.4 s parallel on 1.5 M rows — the
# parallel form exists for the 10⁷+ regime where one sort task becomes
# the job, not for small inputs.
GLOBAL_RANK_SMALL_INPUT_ROWS = 4_000_000


def with_global_ntile(
    df: DataFrame,
    value_col: str,
    tiebreak_cols: list[str],
    k: int,
    out_col: str = "tile",
    n_buckets: int | None = None,
    ascending: bool = True,
    small_input_rows: int = GLOBAL_RANK_SMALL_INPUT_ROWS,
) -> DataFrame:
    """Exact ``NTILE(k) OVER (ORDER BY value, *tiebreaks)`` that never
    single-task-sorts a LARGE input. Dispatch is free — the total row
    count is needed for the tile formula anyway: at or below
    ``small_input_rows`` the classic window form runs (one job, fastest
    at small scale); above it, the range-bucketed parallel form (two
    extra narrow passes buy a fully parallel sort). Both produce
    identical assignments. Same re-read-stability contract as
    :func:`with_global_rank`."""
    if small_input_rows > 0:
        total = df.count()
        if total == 0:
            return df.withColumn(out_col, F.lit(None).cast("int"))
        if total <= small_input_rows:
            direction = F.asc if ascending else F.desc
            w = Window.orderBy(
                direction(value_col), *[direction(c) for c in tiebreak_cols]
            )
            return df.withColumn(out_col, F.ntile(int(k)).over(w))
    # forced-parallel path (small_input_rows=0, every registered
    # corpus-grain ntile): the total comes out of the bucket-counts
    # action the rank operator runs anyway — no separate count() pass
    # (r13 optimization)
    ranked, total = _rank_with_total(
        df, value_col, tiebreak_cols, "__grank", n_buckets, ascending
    )
    if total == 0:
        return df.withColumn(out_col, F.lit(None).cast("int"))
    return ranked.withColumn(
        out_col, ntile_from_rank("__grank", total, k)
    ).drop("__grank")
