"""Temporal joins Spark lacks as built-ins: AS-OF join and interval
(range) join — the two standard event-stream operators a telemetry /
training-data pipeline needs (join each event to the latest prior state;
assign events to containing sessions/windows).

Both are expressed as compositions of existing DataFrame ops (no UDFs):

  * ``asof_join``     — the union + window trick: tag both sides, sort
    each key's merged timeline once, and carry the last (or next) right
    row forward with last(ignorenulls) over the running frame. ONE
    shuffle on the join keys, O(n log n) per key — never the naive
    inequality join's per-key cross product. The right row rides as a
    single STRUCT so the matched payload is atomic (per-column
    last-non-null could mix rows when right columns contain nulls).
  * ``interval_join`` — bucketed range join: intervals explode into the
    fixed-width buckets they cover, points land in exactly one bucket,
    the join is EQUI on (keys, bucket) with the containment predicate as
    a post-filter. Shuffle is O(points + intervals x buckets_covered);
    pick ``bucket_seconds`` near the typical interval length so the
    explode factor stays small. A (point, interval) pair meets only in
    the point's bucket, so no dedup pass is needed.

The as-of oracle is DuckDB's NATIVE ``ASOF JOIN`` — two independent
implementations of the semantics checked bit-for-bit by the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    direction: str = "backward",
    suffix: str = "_r",
    hot_key_ranges: int | None = None,
    hot_key_bounds: tuple[int, int] | None = None,
) -> DataFrame:
    """Left as-of join: every left row gets the right row with the
    greatest ``ts_col`` <= its own (direction='backward'; 'forward' takes
    the smallest >=). Equal timestamps match. Unmatched left rows keep
    NULL right columns (left-outer semantics).

    Right columns (except the keys) come back suffixed. For deterministic
    output the right side should be unique per (keys, ts) — pre-aggregate
    it otherwise (several right rows sharing the boundary timestamp make
    "the" as-of row ambiguous in any engine).

    NULL keys/timestamps follow STRICT SQL join semantics: right rows
    with a NULL key or NULL ts are dropped from the matchable side, and
    left rows with a NULL key or NULL ts come back unmatched — NOT
    matched to each other, which is what a naive window partitioning
    would do (partitionBy groups NULLs together). Note DuckDB's native
    ASOF is NOT the reference for the NULL-ts case: measured on DuckDB
    1.0, it treats a NULL timestamp as a sortable extreme — a NULL-ts
    left row pairs with a NULL-ts right row on the same key, and with
    the key's LATEST real right row otherwise (NULL keys never match;
    NULL timestamps do) — so an ASOF oracle for this operator must
    pre-filter NULL-ts rows on BOTH sides and re-attach NULL-ts left
    rows unmatched (pinned in tests/test_asof_fuzz.py).

    Scale note (hot keys): the window serializes each key's merged
    timeline into ONE partition — inherent to any as-of ordering. A single
    pathologically hot key (one user_id holding half the events) therefore
    bounds parallelism; when the consumer is an aggregate, pre-aggregate
    the RIGHT side per (key, ts) first (fewer rows through the window) —
    the measured envelope is in BENCH/SKEW.md.

    ``hot_key_ranges=N`` (opt-in) splits every key's timeline into N
    coarse time ranges and runs the window per (key, range), restoring up
    to N-way parallelism under a hot key. Cross-range correctness comes
    from SEED rows: per (key, range), the as-of right row carried in from
    the other ranges (the last earlier right row for 'backward', the
    first later one for 'forward') is injected at the range boundary — a
    keys x N sized side computation, never a second pass over the data.
    Results are identical to the unsplit window (oracle-parity tested);
    the measured effect on the 50%-hot-key corpus is in BENCH/SKEW.md,
    whose r6 attribution sets the operating point: N ~= core count
    (finer ranges do NOT help — the per-range sort is not the binding
    term, and the seeds/spine side work grows with keys x N) and
    ``hot_key_bounds=`` passed when known (the in-plan probe scan is
    the single largest removable component).
    Cost: a min/max timestamp probe runs at call time — its OUTPUT is two
    longs but it SCANS both inputs, re-executing any unmaterialized
    upstream (persist the inputs first, or pass ``hot_key_bounds=(lo,
    hi)`` epoch seconds — ANY bounds are correct, the bucketing is just
    an affine grid (out-of-range rows get extra range indices and the
    carry chain handles them); bounds only affect balance).
    String ts columns are rejected (the seed's cast-to-string format
    need not match the input's lexicographic format).
    Precondition: the "identical results" parity holds under the
    unique-(keys, ts) right-side contract above. With duplicate right
    rows on the same (keys, ts), the split path's max_by/min_by picks an
    arbitrary payload among the tied rows that may differ from the
    unsplit window's equally-arbitrary last()/first() pick — both
    answers are valid as-of results, but they need not be the SAME row;
    pre-aggregate duplicated right timestamps before enabling the
    knob if bit-reproducibility across the two paths matters."""
    import functools

    if direction not in ("backward", "forward"):
        raise ValueError(f"unknown direction {direction!r}")
    payload = [c for c in right.columns if c not in on]
    r = right.select(
        *on,
        F.col(ts_col).alias("__ts"),
        F.struct(*[F.col(c) for c in payload]).alias("__r"),
    )
    r = r.where(functools.reduce(
        lambda a, b: a & b,
        [F.col(k).isNotNull() for k in on] + [F.col("__ts").isNotNull()],
    ))
    payload_type = r.schema["__r"].dataType
    # at equal ts the right row must fall INSIDE the left row's frame:
    # backward frame ends at the current row -> right sorts first;
    # forward frame starts at the current row -> right sorts last
    right_side = 0 if direction == "backward" else 1
    l = left.select(
        "*",
        F.col(ts_col).alias("__ts"),
        F.lit(None).cast(payload_type).alias("__r"),
    ).withColumn("__side", F.lit(1 - right_side))
    r = r.withColumn("__side", F.lit(right_side))
    part_cols = list(on)
    if hot_key_ranges and int(hot_key_ranges) > 1:
        from pyspark.sql.types import StringType

        if isinstance(l.schema["__ts"].dataType, StringType):
            # a seed's cast(timestamp->string) format need not match the
            # input's string format ('T' vs ' ' separator), which would
            # misplace seeds in the lexicographic order — the unsplit
            # window handles string ts fine, the split cannot
            raise TypeError(
                "hot_key_ranges requires a timestamp/numeric ts column; "
                f"{ts_col!r} is a string — cast it first"
            )
        n_rng = int(hot_key_ranges)
        epoch = F.col("__ts").cast("timestamp").cast("long")
        if hot_key_bounds is not None:
            b = {"lo": int(hot_key_bounds[0]), "hi": int(hot_key_bounds[1])}
        else:
            b = (
                l.select("__ts").unionByName(r.select("__ts"))
                .agg(F.min(epoch).alias("lo"), F.max(epoch).alias("hi"))
                .collect()[0]
            )
        if b["lo"] is not None:
            lo = int(b["lo"])
            width = max(1, -(-(int(b["hi"]) - lo + 1) // n_rng))
            rng = F.floor((epoch - F.lit(lo)) / F.lit(width)).cast("long")
            l = l.withColumn("__rng", rng)
            r = r.withColumn("__rng", rng)
            ts_type = l.schema["__ts"].dataType
            # per (key, range): the boundary-crossing right row the OTHER
            # ranges need (last for backward, first for forward).
            # max_by/min_by AGGREGATION, not a row_number window: partial
            # aggregation combines map-side, so the hot key ships one row
            # per (key, range) per map partition instead of re-shuffling
            # and sorting the entire right side a second time. (Ties on
            # __ts pick an arbitrary payload — same class of tie as the
            # unsplit window's sort; unique (key, ts) right rows, the
            # as-of contract, make both deterministic.)
            pick = F.max_by if direction == "backward" else F.min_by
            finals = (
                r.groupBy(*on, "__rng")
                .agg(pick("__r", "__ts").alias("__fin"))
            )
            # one spine row per populated (key, range) — left ranges with
            # no right rows still need a carry-in seed; the running
            # last(ignorenulls) over range order skips empty ranges, so
            # gaps inherit the nearest earlier (later, for forward) final.
            # The left distinct also partial-aggregates; the union with
            # finals' ranges is keys x ranges sized, trivially small
            spine = (
                l.select(*on, "__rng").distinct()
                .unionByName(finals.select(*on, "__rng"))
                .distinct()
                .join(finals, [*on, "__rng"], "left")
            )
            if direction == "backward":
                wcarry = (Window.partitionBy(*on)
                          .orderBy(F.col("__rng").asc())
                          .rowsBetween(Window.unboundedPreceding, -1))
                # range start: every row in the range has ts >= it, and
                # the seed wins equal-ts ties via the side order
                seed_epoch = F.lit(lo) + F.col("__rng") * F.lit(width)
            else:
                wcarry = (Window.partitionBy(*on)
                          .orderBy(F.col("__rng").desc())
                          .rowsBetween(Window.unboundedPreceding, -1))
                # next range's start: truncated epochs in range r are
                # <= that - 1, so every true ts sorts strictly before it
                seed_epoch = (F.lit(lo)
                              + (F.col("__rng") + 1) * F.lit(width))
            # the seed's sort side puts it strictly OUTSIDE the real right
            # rows at an equal timestamp: a real right row AT the range
            # start has true ts == boundary while the carried row's true
            # ts is earlier — the real row must win the backward tie
            # (sort later), so the seed sorts first (-1); symmetrically
            # the forward seed sorts last (right_side + 1)
            seed_side = -1 if direction == "backward" else right_side + 1
            seeds = (
                spine.withColumn(
                    "__seed", F.last("__fin", ignorenulls=True).over(wcarry))
                .where(F.col("__seed").isNotNull())
                .select(*on,
                        F.timestamp_seconds(seed_epoch).cast(ts_type)
                        .alias("__ts"),
                        F.col("__seed").alias("__r"),
                        F.lit(seed_side).alias("__side"),
                        "__rng")
            )
            r = r.unionByName(seeds, allowMissingColumns=True)
            part_cols = [*on, "__rng"]
    merged = l.unionByName(r, allowMissingColumns=True)
    order = [F.col("__ts").asc(), F.col("__side").asc()]
    if direction == "backward":
        w = (Window.partitionBy(*part_cols).orderBy(*order)
             .rowsBetween(Window.unboundedPreceding, 0))
        matched = F.last("__r", ignorenulls=True).over(w)
    else:
        w = (Window.partitionBy(*part_cols).orderBy(*order)
             .rowsBetween(0, Window.unboundedFollowing))
        matched = F.first("__r", ignorenulls=True).over(w)
    # NULL-ts left rows sort ahead of every real timestamp (NULLS FIRST),
    # which would spuriously match under 'forward' — mask them to
    # unmatched (pure projection, no extra scan). NULL-key left rows are
    # already safe: their partition holds no right rows after the filter.
    matched = F.when(F.col("__ts").isNotNull(), matched).otherwise(
        F.lit(None).cast(payload_type)
    )
    return (
        merged.withColumn("__m", matched)
        .where(F.col("__side") == (1 - right_side))
        .select(*[F.col(c) for c in left.columns],
                *[F.col("__m")[c].alias(f"{c}{suffix}") for c in payload])
    )


def time_rollup(
    events: DataFrame,
    granularities: list[int],
    ts_col: str = "ts",
    keys: list[str] | None = None,
    sum_col: str | None = None,
    level_handles: list | None = None,
    salt: int | None = None,
) -> DataFrame:
    """Hypertable-style continuous rollup: per-key counts (and an exact
    integer sum) at SEVERAL time granularities in one logical pass.

    The raw table is aggregated ONCE at the finest granularity; every
    coarser grain re-aggregates the previous rollup (counts/sums are
    mergeable), so the full-table scan+shuffle happens exactly once and
    each coarser level shuffles only the (much smaller) rollup — the
    TimescaleDB continuous-aggregate trick expressed relationally.
    Granularities must nest (each a multiple of the previous; validated).

    ``sum_col`` must be integer-typed: integer sums are exact and
    order-independent, so the result is engine-comparable; a double sum
    is not associative and is deliberately not offered here (pre-scale
    doubles to integers if needed).

    With more than one granularity, each rollup level but the coarsest is
    cached before the next re-aggregates it — without the cache, Spark's
    union duplicates the base subplan per granularity and the raw source
    is scanned once per level (caught by the single-scan plan test). The
    cached levels are rollup-sized (tiny vs the source). Release them
    after your action: pass a list as ``level_handles`` and the persisted
    frames are appended to it (robust), or read ``.rollup_levels`` off
    the returned DataFrame BEFORE transforming it further (the attribute
    does not survive ``.filter``/``.select`` — those return new objects).
    Cached frames are held by the cache manager, not GC. On a cluster,
    checkpoint the levels to the catalog instead, which is exactly a
    TimescaleDB continuous aggregate.

    ``salt`` (opt-in) runs the finest-grain aggregation two-phase: rows
    first aggregate under an extra ``partition_id % salt`` key, then the
    salted partials merge without it. Counts/sums already get map-side
    partial aggregation (one partial row per task per group), so this
    matters only at large task counts — on a 1000-executor run, a single
    viral (bucket, key) group's merge receives one partial from each of
    ~10⁵ map tasks in ONE reducer; the salt splits that fan-in by
    ``salt``x at the cost of one extra (rollup-sized) exchange. Leave None
    below that regime.

    Returns (granularity, window_start, *keys, n_events[, sum_<col>])."""
    keys = keys if keys is not None else ["event_type"]
    gs = sorted(granularities)
    if not gs:
        raise ValueError("need at least one granularity")
    for a, b in zip(gs, gs[1:]):
        if b % a != 0:
            raise ValueError(f"granularities must nest: {b} % {a} != 0")
    epoch = F.col(ts_col).cast("timestamp").cast("long")
    sum_alias = f"sum_{sum_col}" if sum_col else None
    aggs = [F.count("*").alias("n_events")]
    if sum_col:
        aggs.append(F.sum(sum_col).cast("long").alias(sum_alias))
    bucketed = events.withColumn("__b", F.floor(epoch / gs[0]) * gs[0])
    if salt:
        merge_aggs = [F.sum("n_events").cast("long").alias("n_events")]
        if sum_col:
            merge_aggs.append(F.sum(sum_alias).cast("long").alias(sum_alias))
        base = (
            bucketed.withColumn("__s", F.spark_partition_id() % salt)
            .groupBy("__b", *keys, "__s").agg(*aggs)
            .groupBy("__b", *keys).agg(*merge_aggs)
        )
    else:
        base = bucketed.groupBy("__b", *keys).agg(*aggs)
    persisted = []
    if len(gs) > 1:
        base = base.persist()
        persisted.append(base)
    levels = [base.withColumn("granularity", F.lit(gs[0]).cast("long"))]
    prev = base
    for i, g in enumerate(gs[1:]):
        re_aggs = [F.sum("n_events").cast("long").alias("n_events")]
        if sum_col:
            re_aggs.append(F.sum(sum_alias).cast("long").alias(sum_alias))
        prev = (
            prev.withColumn("__b", F.floor(F.col("__b") / g) * g)
            .groupBy("__b", *keys).agg(*re_aggs)
        )
        if i < len(gs) - 2:
            prev = prev.persist()
            persisted.append(prev)
        levels.append(prev.withColumn("granularity", F.lit(g).cast("long")))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    cols = ["granularity",
            F.timestamp_seconds(F.col("__b")).alias("window_start"),
            *keys, "n_events"]
    if sum_col:
        cols.append(sum_alias)
    result = out.select(*cols)
    # expose the persisted intermediates so callers can release them
    if level_handles is not None:
        level_handles.extend(persisted)
    result.rollup_levels = persisted
    return result


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: list[str],
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
    how: str = "inner",
    id_col: str | None = None,
    checkpoint=None,
) -> DataFrame:
    """Join each point row to every interval row (same keys) with
    start <= ts <= end (closed interval), via fixed-width time buckets so
    the join stays EQUI on (keys, bucket). ``how`` in ('inner', 'left').

    NULL join keys follow SQL semantics in both modes: the equi-join never
    matches NULLs, so a NULL-key point is dropped ('inner') or comes back
    unmatched ('left').

    'left' tags each point with a synthetic 64-bit row id up front, so the
    unmatched side is a NARROW anti-join on that single id — point rows
    carrying wide payload columns never shuffle their bodies through a
    distinct or a multi-column comparison. The bucketed join is
    materialized ONCE and read by both its consumers (the matched output
    and the anti-join).

    ``id_col`` names a caller-supplied column that is already UNIQUE and
    NON-NULL per point row (a primary key): the synthetic id and its
    eager materialization are skipped entirely — no job runs at call
    time, and the plan stays fully lazy/recomputable. NULL ids fail fast
    in-plan (raise_error — a NULL would silently duplicate its row
    through the anti-join); uniqueness is the caller's contract (a
    duplicate id silently drops its unmatched twin). ``checkpoint`` (a
    sources.catalog.Catalog) swaps each localCheckpoint for a committed
    catalog table — localCheckpoint blocks are non-replicated, so on a
    cluster an executor loss would otherwise make the frame unrecoverable
    (see operators.materialize).
    """
    from .materialize import materialize

    if how not in ("inner", "left"):
        raise ValueError(f"unknown how {how!r}")
    if how == "left":
        if id_col is not None:
            # caller guarantees uniqueness — deterministic, no job needed.
            # NULLs are caught in-plan at execution time (zero extra
            # jobs): a NULL id never matches the left_anti re-attach, so
            # its row would silently come back TWICE (matched + padded).
            # Uniqueness itself cannot be checked per-row and stays a
            # documented contract: a duplicated id makes the anti-join
            # drop its unmatched twin.
            points = points.withColumn(
                "__pid",
                F.when(F.col(id_col).isNotNull(), F.col(id_col)).otherwise(
                    F.raise_error(F.lit(
                        f"interval_join id_col={id_col!r} contains NULLs; "
                        "ids must be non-null and unique per point row"
                    ))
                ),
            )
        else:
            # the id-tagged frame is materialized UP FRONT (eager: one job
            # before either consumer is scheduled) so the bucketed join
            # and the anti-join are guaranteed to read the SAME ids —
            # monotonically_increasing_id depends on partition layout, and
            # a lazy checkpoint's two consumer stages can race to compute
            # a partition on different executors before a cached block
            # lands, re-evaluating the id over a nondeterministically-
            # ordered upstream. This makes how='left' eager at call time.
            points = materialize(
                points.withColumn("__pid", F.monotonically_increasing_id()),
                checkpoint, "interval_points", eager=True,
            )
    b = F.lit(bucket_seconds)
    p = points.withColumn(
        "__bucket", F.floor(F.col(ts_col).cast("timestamp").cast("long") / b)
    )
    iv = intervals.withColumn(
        "__bucket",
        F.explode(F.sequence(
            F.floor(F.col(start_col).cast("timestamp").cast("long") / b),
            F.floor(F.col(end_col).cast("timestamp").cast("long") / b),
        )),
    )
    cond = (
        (F.col(ts_col).cast("timestamp") >= F.col(start_col).cast("timestamp"))
        & (F.col(ts_col).cast("timestamp") <= F.col(end_col).cast("timestamp"))
    )
    joined = p.join(iv, [*on, "__bucket"], "inner").where(cond).drop("__bucket")
    if how == "inner":
        return joined
    # left: re-attach points with no containing interval, keyed on the
    # narrow synthetic id only (never the point's payload columns)
    joined = materialize(joined, checkpoint, "interval_joined")
    unmatched = points.join(joined.select("__pid"), "__pid", "left_anti")
    for c in intervals.columns:
        if c not in on and c not in points.columns:
            unmatched = unmatched.withColumn(
                c, F.lit(None).cast(dict(intervals.dtypes)[c])
            )
    return joined.unionByName(unmatched.select(*joined.columns)).drop("__pid")
