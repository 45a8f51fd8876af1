"""The viewer's analytics endpoints re-expressed as DataFrame plans.

Reference (aol/moloch viewer, SURVEY.md §2.3):
  * sessions list .... viewer/apiSessions.js:1618-1741 (filter+sort+page)
  * timeline facets .. viewer/apiSessions.js:1281-1330, viewerUtils.js:66-134
  * unique ........... viewer/apiSessions.js:2283-2407 (terms agg, top-K)
  * multiunique ...... viewer/apiSessions.js:2420-2500 (nested terms)
  * spiview .......... viewer/apiSessions.js:1794-1960 (per-field top-K)
  * spigraph ......... viewer/apiSessions.js:1966-2146 (top-K + per-value
                       timelines; the reference does 1 terms query + K
                       msearch sub-queries — we collapse it to ONE grouped
                       aggregation plus a broadcast top-K semi-join)
  * spigraphhierarchy  viewer/apiSessions.js:2159-2271 (N-level drilldown)
  * connections ...... viewer/apiConnections.js:36-441 (edge aggregation)
  * baseline compare . viewer/apiConnections.js:45-135 (two windows + mask)

Everything here is a pure logical-plan builder: no collect(), no driver
loops, no UDFs. At 100 TB each function is a single shuffle (or two for
the rank step) and Catalyst gets full pushdown through it.

Scale notes are inline per operator.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from moloch_spark.guardrails import Guardrails

_DEFAULT_GUARDRAILS = Guardrails()

# ---------------------------------------------------------------------------
# numeric helpers
# ---------------------------------------------------------------------------


def dsum(col: str | Column, alias: str) -> Column:
    """Order-independent (exact) sum of a float column.

    Doubles summed in shuffle order are non-deterministic in the last ulps;
    casting to decimal makes the aggregation exact and reproducible across
    engines (this is also what lets the DuckDB oracle hash-match). Cast
    back to double at the end so downstream arithmetic stays cheap.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,4)")).cast("double").alias(alias)


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# ---------------------------------------------------------------------------
# sessions list — filter + sort + paginate + project
# ---------------------------------------------------------------------------


def sessions_search(
    df: DataFrame,
    where: Column | None = None,
    *,
    sort: Sequence[tuple[str, bool]] = (),
    limit: int = 100,
    offset: int = 0,
    fields: Sequence[str] | None = None,
    max_length: int = _DEFAULT_GUARDRAILS.max_length,
) -> DataFrame:
    """/api/sessions core: filter → sort → page → project.

    Mirrors getSessions (viewer/apiSessions.js:1618): multi-key sort with
    nulls-last on asc / nulls-first on desc (ES missing:_last semantics,
    apiSessions.js:60-145), `from`+`size` paging capped at 2M rows
    (apiSessions.js:1219).

    Scale: filter+project push to the parquet scan; the global sort only
    materializes the top (offset+limit) rows per partition before the
    single-reducer merge (Spark's TakeOrderedAndProject), so limit queries
    never do a full sort at 100 TB.
    """
    limit = min(limit, max_length)
    out = df.filter(where) if where is not None else df
    order = [
        (F.col(k).asc_nulls_last() if asc else F.col(k).desc_nulls_first())
        for k, asc in sort
    ]
    if order:
        out = out.orderBy(*order)
    if offset:
        out = out.offset(offset)
    out = out.limit(limit)
    if fields:
        out = out.select(*fields)
    return out


def session_list_response(
    df: DataFrame,
    where: Column | None = None,
    **search_kwargs,
) -> dict:
    """Full /api/sessions response shape (apiSessions.js:1673-1739):
    page of rows + recordsTotal (unfiltered table count) +
    recordsFiltered (matching count). Both counts come from ONE
    conditional aggregation over one scan (the reference issues
    parallel searchSessions + numberOfDocuments calls; a second scan
    of a 100 TB store just to count the filter is the thing to avoid);
    the sorted page is its own job."""
    page = sessions_search(df, where, **search_kwargs)
    filtered = (
        F.count(F.when(where, 1)) if where is not None else F.count(F.lit(1))
    )
    counts = df.agg(
        F.count(F.lit(1)).alias("total"), filtered.alias("filtered")
    ).first()
    return {
        "data": page,
        "recordsTotal": counts["total"],
        "recordsFiltered": counts["filtered"],
    }


# ---------------------------------------------------------------------------
# timeline / facets — date histogram + per-bucket sums
# ---------------------------------------------------------------------------


def timeline(
    df: DataFrame,
    ts_col: str,
    *,
    interval: str = "hour",
    sums: Sequence[tuple[str, str]] = (),
    where: Column | None = None,
) -> DataFrame:
    """Facet timeline: date_histogram + per-bucket sum sub-aggs.

    Reference picks 1s/1m/1h buckets from the query span
    (viewerUtils.js:66-134) and sums src/dst packets/bytes/databytes per
    bucket (apiSessions.js:1302-1315). `interval` is any date_trunc unit.

    Scale: one hash-partial + final aggregation; bucket count is bounded by
    time span / interval, so the reduce side is tiny regardless of input.
    """
    if where is not None:
        df = df.filter(where)
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    aggs += [dsum(src, alias) for src, alias in sums]
    return (
        df.groupBy(F.date_trunc(interval, _col(ts_col)).alias("bucket"))
        .agg(*aggs)
    )


# ---------------------------------------------------------------------------
# unique / multiunique — terms aggregations
# ---------------------------------------------------------------------------


def unique(
    df: DataFrame,
    field: str | Column,
    *,
    k: int = _DEFAULT_GUARDRAILS.max_agg_size,
    min_count: int = 1,
    explode_arrays: bool = True,
) -> DataFrame:
    """/api/unique: top-K values of one field with counts.

    Terms agg capped at maxAggSize=10000 (apiSessions.js:2294,2346-2352).
    Multivalued fields count once per value per session (ES terms over an
    array field) — hence the explode for array columns.

    Scale: partial aggregation map-side, then a bounded top-K. The final
    orderBy+limit is a TakeOrdered, not a full sort.
    """
    k = _DEFAULT_GUARDRAILS.cap_k(k)
    c = _col(field)
    name = field if isinstance(field, str) else "value"
    df2 = df
    if explode_arrays:
        # resolve the COLUMN's type (works for expressions too, not just
        # named columns — a dtypes lookup would silently skip explode
        # detection for computed fields)
        from pyspark.sql import types as T

        if isinstance(df.select(c.alias(name)).schema[0].dataType, T.ArrayType):
            # plain explode (not explode_outer): the isNotNull filter
            # below would drop the NULL row anyway — ES terms aggs
            # never emit a bucket for missing values
            df2 = df.select(F.explode(c).alias(name))
            c = F.col(name)
    out = (
        # ES terms-agg semantics: a session MISSING the field (NULL
        # scalar, or an empty/NULL-member array after the explode) is
        # not a term — the exists/missing facet counts those instead
        df2.filter(c.isNotNull())
        .groupBy(c.alias("value"))
        .agg(F.count(F.lit(1)).alias("count"))
        .filter(F.col("count") >= min_count)
    )
    # deterministic top-K: count desc, then value asc as tiebreak
    return out.orderBy(F.col("count").desc(), F.col("value").asc()).limit(k)


def multiunique(
    df: DataFrame,
    fields: Sequence[str],
    *,
    k: int = _DEFAULT_GUARDRAILS.max_agg_size,
) -> DataFrame:
    """/api/multiunique: intersection of N fields (apiSessions.js:2420-2500).

    The reference builds N-deep nested terms aggs with exists-musts and
    DFS-flattens; in Spark that is exactly a multi-key groupBy over rows
    where every key is present.
    """
    k = _DEFAULT_GUARDRAILS.cap_k(k)
    out = df
    for f in fields:
        out = out.filter(F.col(f).isNotNull())
    out = out.groupBy(*[F.col(f) for f in fields]).agg(
        F.count(F.lit(1)).alias("count")
    )
    order = [F.col("count").desc()] + [F.col(f).asc() for f in fields]
    return out.orderBy(*order).limit(k)


# ---------------------------------------------------------------------------
# spiview — per-field top-K in one pass
# ---------------------------------------------------------------------------


def spiview(
    df: DataFrame,
    field_counts: Sequence[tuple[str, int]],
    *,
    where: Column | None = None,
) -> DataFrame:
    """/api/spiview: for each requested field, top-K values + counts.

    The reference issues one ES query with N terms aggs
    (apiSessions.js:1794-1960). We unpivot the requested fields with a
    stack() projection — ONE scan, one shuffle — then rank within field.

    Output: (field, value, count) with per-field K applied.

    Scale: single pass over the fact table; rank uses a window partitioned
    by field name (N partitions, trivially balanced).
    """
    if where is not None:
        df = df.filter(where)
    n = len(field_counts)
    unpivoted = df.select(
        F.expr(
            "stack({}, {})".format(
                n,
                ", ".join(
                    f"'{name}', cast({name} as string)" for name, _ in field_counts
                ),
            )
        ).alias("field", "value")
    ).filter(F.col("value").isNotNull())
    counted = unpivoted.groupBy("field", "value").agg(
        F.count(F.lit(1)).alias("count")
    )
    w = Window.partitionBy("field").orderBy(
        F.col("count").desc(), F.col("value").asc()
    )
    ranked = counted.withColumn("rnk", F.row_number().over(w))
    cap = F.create_map(
        *[x for name, kk in field_counts for x in (F.lit(name), F.lit(kk))]
    )
    return ranked.filter(F.col("rnk") <= cap[F.col("field")]).drop("rnk")


# ---------------------------------------------------------------------------
# spigraph — top-K field values, each with its own timeline
# ---------------------------------------------------------------------------


def spigraph(
    df: DataFrame,
    field: str,
    ts_col: str,
    *,
    interval: str = "hour",
    k: int = 20,
    metric: str = "count",
    sums: Sequence[tuple[str, str]] = (),
) -> DataFrame:
    """/api/spigraph collapsed to one grouped aggregation.

    The reference runs a terms agg sized 2*K then one msearch sub-query PER
    bucket to get its timeline (apiSessions.js:1966-2146) — K+1 round
    trips. Spark shape: groupBy(field, bucket) once, compute per-field
    totals with a window, keep the top-K fields. One scan, two shuffles,
    no driver fan-out.

    Output: (field value, bucket, doc_count, <sums...>, total_<metric>).
    """
    aggs = [F.count(F.lit(1)).alias("doc_count")]
    aggs += [dsum(src, alias) for src, alias in sums]
    per_bucket = df.groupBy(
        F.col(field).alias("value"),
        F.date_trunc(interval, _col(ts_col)).alias("bucket"),
    ).agg(*aggs)
    metric_col = "doc_count" if metric == "count" else metric
    # Rank field values by their TOTAL metric, keep top-K, then broadcast
    # the tiny top-K list back onto the per-bucket rows. This avoids a
    # global (unpartitioned) window over |values| x |buckets| rows — the
    # totals aggregation reduces to |values| rows and the final orderBy+
    # limit is a TakeOrdered, so the plan survives arbitrarily many
    # buckets/values.
    # count totals are exact longs; double metrics re-sum through decimal
    # so the rank (and the oracle hash) is shuffle-order-independent
    total_expr = (
        F.sum(metric_col)
        if metric == "count"
        else F.sum(F.col(metric_col).cast("decimal(18,4)")).cast("double")
    )
    totals = (
        per_bucket.groupBy("value")
        .agg(total_expr.alias("total"))
        .orderBy(F.col("total").desc(), F.col("value").asc())
        .limit(k)
    )
    return per_bucket.join(F.broadcast(totals), "value", "inner")


def spigraph_hierarchy(
    df: DataFrame,
    fields: Sequence[str],
) -> DataFrame:
    """/api/spigraphhierarchy: N-level drill-down tree.

    Reference nests terms aggs N deep with exists-musts
    (apiSessions.js:2159-2271) and emits a treemap. ROLLUP gives every
    level of the tree in one aggregation; null grouping columns mark the
    aggregate rows exactly like the tree's internal nodes.
    """
    out = df
    for f in fields:
        out = out.filter(F.col(f).isNotNull())
    return (
        out.rollup(*[F.col(f) for f in fields])
        .agg(F.count(F.lit(1)).alias("count"))
        .withColumn(
            "level",
            sum(F.when(F.col(f).isNotNull(), 1).otherwise(0) for f in fields),
        )
    )


# ---------------------------------------------------------------------------
# connections — edge/node aggregation (+ baseline window comparison)
# ---------------------------------------------------------------------------


def connections(
    df: DataFrame,
    src: str | Column,
    dst: str | Column,
    *,
    sums: Sequence[tuple[str, str]] = (),
    min_conn: int = 1,
) -> DataFrame:
    """/api/connections edges: groupBy(src,dst) with count + metric sums.

    Reference walks hits in node and hand-builds hash maps
    (apiConnections.js:323-441): per link value++ and summed int fields;
    filter minConn. Array-valued endpoint fields cross-product per session
    — callers explode() before passing in. Distributed here: one shuffle
    on (src,dst).
    """
    aggs = [F.count(F.lit(1)).alias("sessions")]
    aggs += [dsum(s, alias) for s, alias in sums]
    out = (
        df.groupBy(_col(src).alias("src"), _col(dst).alias("dst"))
        .agg(*aggs)
        .filter(F.col("sessions") >= min_conn)
    )
    return out


def connections_baseline(
    df: DataFrame,
    src: str,
    dst: str,
    ts_col: str,
    *,
    current: tuple[str, str],
    baseline: tuple[str, str],
) -> DataFrame:
    """Baseline comparison (apiConnections.js:45-135): aggregate edges in
    the current window and a preceding baseline window, full-outer join,
    bitmask inresult 1=current 2=baseline 3=both.

    One scan: conditional aggregation on the window flag instead of two
    queries + client merge.
    """
    ts = _col(ts_col)
    cur_lo, cur_hi = current
    base_lo, base_hi = baseline
    in_cur = (ts >= F.lit(cur_lo).cast("timestamp")) & (
        ts < F.lit(cur_hi).cast("timestamp")
    )
    in_base = (ts >= F.lit(base_lo).cast("timestamp")) & (
        ts < F.lit(base_hi).cast("timestamp")
    )
    return (
        df.filter(in_cur | in_base)
        .groupBy(_col(src).alias("src"), _col(dst).alias("dst"))
        .agg(
            F.sum(F.when(in_cur, 1).otherwise(0)).alias("cur_sessions"),
            F.sum(F.when(in_base, 1).otherwise(0)).alias("base_sessions"),
        )
        .withColumn(
            "inresult",
            F.when(F.col("cur_sessions") > 0, 1).otherwise(0)
            + F.when(F.col("base_sessions") > 0, 2).otherwise(0),
        )
    )


def field_cardinality(
    df: DataFrame,
    fields: Sequence[str],
    *,
    approx: bool = False,
    rsd: float = 0.05,
) -> DataFrame:
    """Distinct-value cardinality for N fields in one pass.

    The reference serves field cardinalities ("Cnt" columns, field
    stats) with the ES `cardinality` aggregation — which is HLL++, not
    exact (viewer/apiSessions.js terms/cardinality aggs). approx=True
    is that same algorithm (Spark's approx_count_distinct is HLL++
    with configurable rsd): one pass, constant memory per field,
    mergeable sketches — the only shape that works on a 100 TB field.
    approx=False is exact; note Catalyst plans multi-count_distinct
    via Expand (row replication ×N fields), so at scale prefer approx
    or one field per job.
    """
    agg = (
        (lambda c: F.approx_count_distinct(c, rsd))
        if approx
        else (lambda c: F.count_distinct(F.col(c)))
    )
    return df.agg(
        *[agg(f).alias(f"{f}_card") for f in fields]
    )


def percentiles(
    df: DataFrame,
    col: str | Column,
    probs: Sequence[float] = (0.5, 0.9, 0.99),
    *,
    accuracy: int = 10000,
) -> DataFrame:
    """Latency-style percentile stats (ES `percentiles` agg parity).

    percentile_approx is a mergeable quantile sketch (one pass,
    bounded memory) — exact percentiles need a full sort, which is not
    a thing you do to a 100 TB column. Accuracy trades memory for
    error: at 10000 the p99 of a uniform million-row column is within
    ~0.01%.
    """
    c = _col(col)
    return df.agg(
        *[
            F.percentile_approx(c, p, accuracy).alias(
                f"p{str(p).replace('0.', '').ljust(2, '0')}"
            )
            for p in probs
        ]
    )


def timeline_dense(
    df: DataFrame,
    ts_col: str,
    *,
    interval: str = "hour",
    sums: Sequence[tuple[str, str]] = (),
    where: Column | None = None,
) -> DataFrame:
    """Dense facet timeline: ES date_histogram emits EMPTY buckets
    between min and max (min_doc_count=0; the viewer renders gaps as
    zeros). The sparse aggregate right-joins a generated bucket spine;
    the spine derives from the aggregate's own 1-row min/max via
    sequence(), so there is no driver round-trip and the spine size is
    span/interval — bounded by time, not data volume."""
    sparse = timeline(df, ts_col, interval=interval, sums=sums, where=where)
    bounds = sparse.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr(f"interval 1 {interval}"))
        ).alias("bucket")
    )
    out = spine.join(sparse, "bucket", "left")
    filled = [F.coalesce(F.col("doc_count"), F.lit(0).cast("long")).alias("doc_count")]
    for _, alias in sums:
        filled.append(
            F.coalesce(F.col(alias), F.lit(0.0).cast("double")).alias(alias)
        )
    return out.select("bucket", *filled)
