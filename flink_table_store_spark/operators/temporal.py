"""Temporal joins Spark lacks as built-ins: AS-OF and binned RANGE.

Both are standard time-series/analytics operators (kdb+ aj, Pandas
merge_asof, DuckDB ASOF JOIN; the range-join bin optimization ships in
Databricks' RANGE_JOIN hint) re-expressed as compositions of existing
DataFrame ops — no UDF, no per-row Python.

**AS-OF JOIN** — for each left row, the single right row with the
latest ``right.ts <= left.ts`` (backward; or the earliest ``>=`` for
forward), per key. The naive formulation is a theta join (cartesian
per key); the scale-sound plan here is the classic union-tag trick:

    union(left rows, right rows) sorted by (key, ts, tag)
    -> running last_value(right payload, ignore nulls)
    -> keep left rows

ONE keyed shuffle, one keyed window (each group = one key's timeline),
zero joins. At 100 TB this is the same cost as a groupBy over the
union — there is no candidate blow-up to control.

**RANGE JOIN** — ``right.val BETWEEN left.lo AND left.hi`` as an
equi-join: left intervals explode to the fixed-width bins they cover,
right points map to their single bin, the join keys on the bin id and
an exact BETWEEN filter finishes. Each matched pair meets in exactly
one bin (the point's), so no dedup pass is needed. Candidate volume
drops from |L|x|R| to sum over bins of |L_bin|x|R_bin| — the standard
bin trade: width ~ median interval length.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_table_store_spark.schema import quote_ident


def _qcol(name: str) -> Column:
    """Column reference by EXACT name — backtick-quoted so names with
    dots (which F.col would parse as struct access), spaces, or dashes
    resolve as one identifier (ADVICE r10)."""
    return F.col(quote_ident(name))


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    time_col: str = "ts",
    by: list[str] | None = None,
    right_cols: list[str] | None = None,
    direction: str = "backward",
    tolerance_seconds: int | float | None = None,
    suffix: str = "_right",
) -> DataFrame:
    """Enrich each left row with the nearest prior (``backward``) or
    next (``forward``) right row per key — LEFT-join semantics: left
    rows with no match keep NULL right columns. ``right_cols`` picks
    the right payload (default: every right column except the keys and
    the time column); payload columns colliding with a left name get
    ``suffix``. The matched right timestamp is always returned as
    ``{time_col}{suffix}``. ``tolerance_seconds`` voids matches farther
    than the tolerance (NULL payload, as merge_asof).

    Ties: right rows sharing the match timestamp resolve to the LAST
    one in (time, right-input) window order; pass a deterministic
    right ordering upstream if that matters. NULL timestamps: right
    rows with NULL time can never be "prior" or "next" and are
    excluded; left rows with NULL time match nothing (NULL payload) —
    without this, NULLS-FIRST/LAST sort placement would hand them
    arbitrary matches."""
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be 'backward' or 'forward', got {direction!r}"
        )
    if tolerance_seconds is not None and tolerance_seconds < 0:
        raise ValueError(f"tolerance must be >= 0, got {tolerance_seconds}")
    by = by or []
    payload = right_cols or [
        c for c in right.columns if c not in set(by) | {time_col}
    ]
    taken = set(left.columns)
    out_names = {
        c: (c + suffix if c in taken else c) for c in payload
    }
    rts_name = time_col + suffix

    # cast to the StructType OBJECT, not its simpleString rendering:
    # payload/time names needing backtick quoting (spaces, dashes, dots)
    # or types whose simpleString doesn't round-trip would make the DDL
    # string unparseable (ADVICE r10)
    r_struct_t = right.select(
        F.struct(
            _qcol(time_col).alias("__rts"),
            *[_qcol(c) for c in payload],
        ).alias("s")
    ).schema["s"].dataType
    l_tag = left.withColumn("__r", F.lit(None).cast(r_struct_t)).withColumn(
        "__tag", F.lit(1)
    )
    right = right.where(_qcol(time_col).isNotNull())
    r_tag = (
        right.select(
            *[_qcol(c) for c in by],
            _qcol(time_col),
            F.struct(
                _qcol(time_col).alias("__rts"),
                *[_qcol(c) for c in payload],
            ).alias("__r"),
        )
        .withColumn("__tag", F.lit(0))
    )
    u = l_tag.unionByName(r_tag, allowMissingColumns=True)
    # backward: ascending time, right (tag 0) before left at equal ts so
    # a same-instant right row IS visible (<= semantics). forward:
    # descending time, same tag order gives >= semantics.
    ts_order = (
        _qcol(time_col).asc() if direction == "backward"
        else _qcol(time_col).desc()
    )
    w = (
        Window.partitionBy(*[_qcol(c) for c in by])
        .orderBy(ts_order, F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = (
        u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .where(F.col("__tag") == 1)
        # a NULL-time left row has no position on the timeline: void
        # whatever the sort placement handed it
        .withColumn(
            "__m", F.when(_qcol(time_col).isNotNull(), F.col("__m"))
        )
    )
    if tolerance_seconds is not None:
        gap = F.expr(
            f"INTERVAL {int(tolerance_seconds * 1_000_000)} MICROSECOND"
        )
        dist = (
            _qcol(time_col) - F.col("__m")["__rts"]
            if direction == "backward"
            else F.col("__m")["__rts"] - _qcol(time_col)
        )
        matched = matched.withColumn(
            "__m", F.when(dist <= gap, F.col("__m"))
        )
    return matched.select(
        *[_qcol(c) for c in left.columns],
        F.col("__m")["__rts"].alias(rts_name),
        *[F.col("__m")[c].alias(out_names[c]) for c in payload],
    )


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    lo_col: str,
    hi_col: str,
    val_col: str,
    bin_width: float,
    extra_keys: list[str] | None = None,
) -> DataFrame:
    """INNER range join ``right.val BETWEEN left.lo AND left.hi`` via
    fixed-width bin equi-keys (+ optional exact ``extra_keys``).
    Returns left columns followed by right columns (right names
    colliding with left get ``_right``). Intervals with lo > hi match
    nothing (empty interval, consistent with BETWEEN); NULL bounds or
    values never match."""
    if bin_width <= 0:
        raise ValueError(f"bin_width must be positive, got {bin_width}")
    keys = extra_keys or []
    lbin = F.explode(
        F.sequence(
            F.floor(F.col(lo_col) / F.lit(float(bin_width))),
            F.floor(F.col(hi_col) / F.lit(float(bin_width))),
        )
    )
    l = left.where(
        F.col(lo_col).isNotNull()
        & F.col(hi_col).isNotNull()
        & (F.col(lo_col) <= F.col(hi_col))
    ).withColumn("__bin", lbin)
    r = right.where(F.col(val_col).isNotNull()).withColumn(
        "__bin", F.floor(F.col(val_col) / F.lit(float(bin_width)))
    )
    taken = set(left.columns)
    rsel = [
        F.col(f"__rr.{c}").alias(c + "_right" if c in taken else c)
        for c in right.columns
    ]
    cond = [l["__bin"] == F.col("__rr.__bin")] + [
        l[k] == F.col(f"__rr.{k}") for k in keys
    ]
    full = cond[0]
    for c in cond[1:]:
        full = full & c
    joined = l.join(r.alias("__rr"), full)
    return joined.where(
        F.col(f"__rr.{val_col}").between(l[lo_col], l[hi_col])
    ).select(*[l[c] for c in left.columns], *rsel)


def funnel(
    events: DataFrame,
    steps: list,
    step_col: str = "event_type",
    time_col: str = "ts",
    user_col: str = "user_id",
    within_seconds: int | float | None = None,
) -> DataFrame:
    """Ordered funnel matching (the product-analytics staple): for each
    user, the earliest completion time of every step PREFIX — step i
    counts only strictly-in-order (``>=`` previous step's match) and,
    with ``within_seconds``, inside the window opened by the user's
    step-1 match. Earliest-match semantics: each step greedily takes
    its first eligible event, the standard funnel definition (greedy
    earliest matching maximizes prefix completion for a fixed step-1
    anchor).

    Returns one row per user who completed step 1:
    (user_col, step_1_ts, ..., step_k_ts) with NULL from the first
    uncompleted step on. Scale: k-1 keyed joins of per-user one-row
    frames against the step's events — every shuffle is on the user
    key, nothing is ever per-event quadratic."""
    if not steps:
        raise ValueError("steps must be non-empty")
    if within_seconds is not None and within_seconds <= 0:
        raise ValueError(f"within_seconds must be positive, got {within_seconds}")
    cur = (
        events.where(F.col(step_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(time_col).alias("step_1_ts"))
    )
    for i, s in enumerate(steps[1:], start=2):
        prev = f"step_{i - 1}_ts"
        ev_s = events.where(F.col(step_col) == s).select(
            F.col(user_col), F.col(time_col).alias("__t")
        )
        cond = F.col("__t") >= F.col(prev)
        if within_seconds is not None:
            cond = cond & (
                F.col("__t")
                <= F.col("step_1_ts")
                + F.expr(
                    f"INTERVAL {int(within_seconds * 1_000_000)} MICROSECOND"
                )
            )
        nxt = (
            ev_s.join(cur.select(user_col, "step_1_ts", prev), user_col)
            .where(cond)
            .groupBy(user_col)
            .agg(F.min("__t").alias(f"step_{i}_ts"))
        )
        cur = cur.join(nxt, user_col, "left")
    return cur


def funnel_summary(funnel_df: DataFrame) -> DataFrame:
    """(step, n_users, conversion) — users completing each prefix and
    the fraction relative to step 1. One tiny aggregate over the
    per-user funnel frame."""
    step_cols = [c for c in funnel_df.columns if c.startswith("step_")]
    counts = funnel_df.agg(
        *[F.count(F.col(c)).alias(c) for c in step_cols]
    ).head()
    rows = [
        (i + 1, int(counts[c]), round(counts[c] / max(counts[step_cols[0]], 1), 6))
        for i, c in enumerate(step_cols)
    ]
    return funnel_df.sparkSession.createDataFrame(
        rows, "step int, n_users bigint, conversion double"
    )


def retention_cohorts(
    events: DataFrame,
    time_col: str = "ts",
    user_col: str = "user_id",
    period: str = "week",
) -> DataFrame:
    """Cohort retention (the product-analytics triangle): users cohort
    by the ``period`` of their FIRST event; each later active period
    counts them once. Returns (cohort, periods_since, n_users) with
    periods_since 0 = the cohort period itself (n_users there = cohort
    size). ``period``: day / week / month / quarter / year.

    Scale: one grouped min per user (keyed shuffle), one join back on
    the user key, one distinct-count aggregate over (cohort, offset) —
    all keyed, nothing quadratic. Offsets count whole calendar periods
    between the truncated dates, so they are exact integers on any
    engine."""
    first = events.groupBy(user_col).agg(
        F.date_trunc(period, F.min(time_col)).alias("__cohort")
    )
    active = events.select(
        F.col(user_col), F.date_trunc(period, F.col(time_col)).alias("__p")
    ).distinct()
    unit_days = {"day": 1, "week": 7}.get(period)
    # quarter/year boundaries are exact month multiples, so
    # months_between of the truncated dates is an exact integer and the
    # division below is too (ADVICE r10: the docstring promised these)
    unit_months = {"month": 1, "quarter": 3, "year": 12}.get(period)
    j = active.join(first, user_col)
    if unit_days is not None:
        offset = (
            F.datediff(F.col("__p"), F.col("__cohort"))
            / F.lit(unit_days)
        ).cast("int")
    elif unit_months is not None:
        offset = (
            F.months_between(F.col("__p"), F.col("__cohort"))
            / F.lit(unit_months)
        ).cast("int")
    else:
        raise ValueError(
            f"unsupported period {period!r} "
            "(day / week / month / quarter / year)"
        )
    return (
        j.groupBy(F.col("__cohort").alias("cohort"), offset.alias("periods_since"))
        .agg(F.countDistinct(user_col).alias("n_users"))
        .orderBy("cohort", "periods_since")
    )
