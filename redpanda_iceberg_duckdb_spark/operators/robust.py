"""Robust / inferential statistics: MAD-based outlier detection and a
chi-square independence test — the distribution-free QA checks a pipeline
runs when z-scores (operators/analytics.py zscore_outliers) are too brittle
for heavy-tailed data.

Scale notes (100 TB stance):
- `mad_outliers_by_type` is the canonical two-pass robust aggregate: pass 1
  computes per-group medians (one shuffle), which join back BROADCAST
  (|groups| rows) so pass 2 is another single shuffle — no sort of the
  whole table, no driver state. Exact interpolated percentiles are heavier
  than a t-digest at extreme group counts; for bounded group cardinality
  (here: event types) exact is the right trade.
- `chi2_priority_seasonality` reduces the fact table to an R x C
  contingency matrix in one aggregate pass; everything after runs on
  dimension-sized frames.

Cross-engine determinism: medians interpolate identically (Spark
`percentile` == DuckDB `quantile_cont`); chi-square cell terms are doubles
computed from identical inputs, then rounded and summed as DECIMAL so the
total is order-independent — the trick for any "sum of doubles" that must
be bit-stable across engines and partitionings.

Reference parity: the reference has no statistics surface (SURVEY.md
section 2.4 lists plain aggregates only); additive coverage per the build
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import load_table

# scale factor making MAD comparable to a standard deviation under normality
_MAD_K = 1.4826


@register(
    "mad_outliers_by_type",
    oracle=f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med
  FROM events GROUP BY event_type),
dev AS (
  SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS adev
  FROM events e JOIN med m USING (event_type)),
mad AS (
  SELECT event_type, med, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type, med)
SELECT d.event_type,
       round(m.med, 4) AS median_value,
       round(m.mad, 4) AS mad,
       count(*) AS n,
       cast(sum(CASE WHEN d.adev > 3 * {_MAD_K} * m.mad THEN 1 ELSE 0 END)
            AS bigint) AS n_outliers
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, m.med, m.mad
ORDER BY d.event_type""",
    tags=("robust", "outliers", "percentile"),
)
def mad_outliers_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outliers per event type: a value is an
    outlier when |v - median| > 3 * 1.4826 * MAD (the robust analogue of
    3 sigma, immune to the outliers it hunts — unlike zscore_outliers,
    whose mean/stddev the outliers themselves drag). Two aggregate passes
    with a broadcast medians join between them; exact interpolated medians
    are identical IEEE doubles in both engines, so even boundary
    comparisons agree."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med"))
    dev = (e.join(F.broadcast(med), "event_type")
           .select("event_type", "med",
                   F.abs(F.col("value") - F.col("med")).alias("adev")))
    mad = dev.groupBy("event_type", "med").agg(
        F.expr("percentile(adev, 0.5)").alias("mad"))
    out = (dev.join(F.broadcast(mad.select("event_type", "mad")),
                    "event_type")
           .groupBy("event_type", "med", "mad")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum(F.when(F.col("adev") > 3 * _MAD_K * F.col("mad"), 1)
                      .otherwise(0)).alias("n_outliers")))
    return (out.select("event_type",
                       F.round("med", 4).alias("median_value"),
                       F.round("mad", 4).alias("mad"),
                       "n", "n_outliers")
            .orderBy("event_type"))


@register(
    "chi2_priority_seasonality",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS pri, month(o_orderdate) AS mon,
         count(*) AS o
  FROM orders GROUP BY 1, 2),
rt AS (SELECT pri, cast(sum(o) AS bigint) AS rt FROM cells GROUP BY pri),
ct AS (SELECT mon, cast(sum(o) AS bigint) AS ct FROM cells GROUP BY mon),
n AS (SELECT cast(sum(o) AS bigint) AS n FROM cells),
terms AS (
  SELECT cells.pri, cells.mon,
         cast(round(
           (cells.o - cast(rt.rt * ct.ct AS double) / n.n)
           * (cells.o - cast(rt.rt * ct.ct AS double) / n.n)
           / (cast(rt.rt * ct.ct AS double) / n.n), 6)
          AS decimal(20,6)) AS term
  FROM cells JOIN rt USING (pri) JOIN ct USING (mon) CROSS JOIN n)
SELECT count(*) AS n_cells,
       (SELECT count(*) FROM rt) AS n_rows,
       (SELECT count(*) FROM ct) AS n_cols,
       ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
           AS dof,
       cast(sum(term) AS double) AS chi2
FROM terms""",
    tags=("robust", "chi2", "stats"),
)
def chi2_priority_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test: is order priority seasonal (dependent
    on order month)? One aggregate pass builds the R x C contingency table;
    row/column/grand totals re-aggregate that tiny frame; expected counts
    e = rt*ct/N and cell terms (o-e)^2/e are per-cell doubles. The terms
    are rounded to 6 dp and summed as DECIMAL(20,6) — decimal addition is
    exact and commutative, so the statistic is identical across engines,
    partition counts, and execution orders (a raw double sum would not be).
    dof = (R-1)(C-1); compare chi2 against the critical value offline."""
    o = load_table(spark, sf_dir, "orders")
    cells = (o.groupBy(F.col("o_orderpriority").alias("pri"),
                       F.month("o_orderdate").alias("mon"))
             .agg(F.count(F.lit(1)).alias("o")))
    rt = cells.groupBy("pri").agg(F.sum("o").alias("rt"))
    ct = cells.groupBy("mon").agg(F.sum("o").alias("ct"))
    n = cells.agg(F.sum("o").alias("n"))
    e = (F.col("rt") * F.col("ct")).cast("double") / F.col("n")
    term = F.round((F.col("o") - e) * (F.col("o") - e) / e, 6) \
            .cast("decimal(20,6)")
    terms = (cells.join(F.broadcast(rt), "pri")
             .join(F.broadcast(ct), "mon")
             .crossJoin(F.broadcast(n))
             .select(term.alias("term")))
    nr = rt.agg(F.count(F.lit(1)).alias("n_rows"))
    nc = ct.agg(F.count(F.lit(1)).alias("n_cols"))
    return (terms.agg(F.count(F.lit(1)).alias("n_cells"),
                      F.sum("term").cast("double").alias("chi2"))
            .crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nc))
            .select("n_cells", "n_rows", "n_cols",
                    ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
                    .alias("dof"),
                    "chi2"))


@register(
    "corr_value_props_by_type",
    oracle="""
WITH m AS (
  SELECT event_type,
         count(*) AS n,
         sum(cast(value AS decimal(18,2))) AS sx,
         cast(sum(cast(json_extract(props, '$.k') AS bigint)) AS bigint)
             AS sy,
         sum(cast(value AS decimal(18,2))
             * cast(json_extract(props, '$.k') AS bigint)) AS sxy,
         sum(cast(value AS decimal(18,2))
             * cast(value AS decimal(18,2))) AS sxx,
         cast(sum(cast(json_extract(props, '$.k') AS bigint)
                  * cast(json_extract(props, '$.k') AS bigint)) AS bigint)
             AS syy
  FROM events GROUP BY event_type)
SELECT event_type, n,
       round((n * cast(sxy AS double) - cast(sx AS double) * sy)
             / sqrt((n * cast(sxx AS double)
                     - cast(sx AS double) * cast(sx AS double))
                    * (n * cast(syy AS double)
                       - cast(sy AS double) * cast(sy AS double))), 6)
           AS pearson_r
FROM m ORDER BY event_type""",
    tags=("robust", "correlation"),
)
def corr_value_props_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between `value` and the integer `props.k`
    payload per event type, from EXACT sufficient statistics: values are
    2-decimal doubles so every moment (sum, sum of squares, cross product)
    is an exact DECIMAL/INT64 — order-independent, bit-equal across
    engines; only the final normalized quotient is floating point. This is
    the distributed-corr recipe: one aggregate pass of six map-side
    combinable moments, no second pass, no centering subtraction on raw
    rows (the numerically-dubious textbook shortcut is SAFE here because
    the moments are exact, not floats)."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("value").cast("decimal(18,2)")
    y = F.get_json_object("props", "$.k").cast("bigint")
    m = (e.select("event_type", x.alias("x"), y.alias("y"))
         .groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"),
              F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    num = (F.col("n") * F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy"))
    den = F.sqrt(
        (F.col("n") * F.col("sxx").cast("double")
         - F.col("sx").cast("double") * F.col("sx").cast("double"))
        * (F.col("n") * F.col("syy").cast("double")
           - F.col("sy").cast("double") * F.col("sy").cast("double")))
    return (m.select("event_type", "n",
                     F.round(num / den, 6).alias("pearson_r"))
            .orderBy("event_type"))


@register(
    "ols_hourly_trend",
    oracle="""
WITH b AS (SELECT date_trunc('hour', min(ts)) AS h0,
                  date_trunc('hour', max(ts)) AS h1 FROM events),
g AS (SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b),
ty AS (SELECT DISTINCT event_type FROM events),
c AS (SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS n
      FROM events GROUP BY 1, 2),
grid AS (
  SELECT ty.event_type, coalesce(c.n, 0) AS y,
         row_number() OVER (PARTITION BY ty.event_type
                            ORDER BY g.hour) AS x
  FROM g CROSS JOIN ty
  LEFT JOIN c ON c.event_type = ty.event_type AND c.hour = g.hour),
m AS (
  SELECT event_type, count(*) AS n,
         cast(sum(x) AS bigint) AS sx, cast(sum(y) AS bigint) AS sy,
         cast(sum(x * y) AS bigint) AS sxy,
         cast(sum(x * x) AS bigint) AS sxx,
         cast(sum(y * y) AS bigint) AS syy
  FROM grid GROUP BY event_type)
SELECT event_type, n,
       round((n * cast(sxy AS double) - cast(sx AS double) * sy)
             / (n * cast(sxx AS double) - cast(sx AS double) * sx), 8)
           AS slope_per_hour,
       round((cast(sy AS double)
              - (n * cast(sxy AS double) - cast(sx AS double) * sy)
                / (n * cast(sxx AS double) - cast(sx AS double) * sx)
                * sx) / n, 6) AS intercept,
       round((n * cast(sxy AS double) - cast(sx AS double) * sy)
             * (n * cast(sxy AS double) - cast(sx AS double) * sy)
             / ((n * cast(sxx AS double) - cast(sx AS double) * sx)
                * (n * cast(syy AS double) - cast(sy AS double) * sy)), 6)
           AS r2
FROM m ORDER BY event_type""",
    tags=("robust", "regression", "timeseries"),
)
def ols_hourly_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type activity trend: ordinary least squares of hourly event
    count against the hour index OVER THE DENSE ZERO-FILLED GRID (fitting
    the sparse rollup would bias the trend up by skipping quiet hours).
    x and y are integers, so all five sufficient statistics are exact
    int64 sums; slope/intercept/r2 are the only floating-point steps and
    start from identical inputs in both engines. At 100 TB this is the
    map-side-combinable trend over any number of series: one aggregate
    per series, no sort, no window over raw events."""
    from .timeseries.hourly import filled_grid
    g = filled_grid(spark, sf_dir).select(
        "event_type", F.col("rn").alias("x"), F.col("n_events").alias("y"))
    m = (g.groupBy("event_type")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("x").alias("sx"), F.sum("y").alias("sy"),
              F.sum(F.col("x") * F.col("y")).alias("sxy"),
              F.sum(F.col("x") * F.col("x")).alias("sxx"),
              F.sum(F.col("y") * F.col("y")).alias("syy")))
    num = (F.col("n") * F.col("sxy").cast("double")
           - F.col("sx").cast("double") * F.col("sy"))
    denx = (F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx"))
    deny = (F.col("n") * F.col("syy").cast("double")
            - F.col("sy").cast("double") * F.col("sy"))
    slope = num / denx
    return (m.select(
                "event_type", "n",
                F.round(slope, 8).alias("slope_per_hour"),
                F.round((F.col("sy").cast("double") - slope * F.col("sx"))
                        / F.col("n"), 6).alias("intercept"),
                F.round(num * num / (denx * deny), 6).alias("r2"))
            .orderBy("event_type"))


@register(
    "value_distribution_drift",
    oracle="""
WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
           FROM events),
lab AS (
  SELECT cast(floor(value / 50.0) AS int) AS bucket,
         CASE WHEN epoch_us(ts) - lo < (hi - lo) // 2 THEN 1 ELSE 0 END
             AS early
  FROM events, b),
c AS (SELECT bucket,
             cast(sum(early) AS bigint) AS n_early,
             cast(count(*) - sum(early) AS bigint) AS n_late
      FROM lab GROUP BY bucket),
t AS (SELECT cast(sum(n_early) AS bigint) AS te,
             cast(sum(n_late) AS bigint) AS tl FROM c)
SELECT bucket, n_early, n_late,
       round(n_early * 1.0 / te - n_late * 1.0 / tl, 6) AS share_drift
FROM c, t ORDER BY bucket""",
    tags=("robust", "drift", "quality"),
)
def value_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift screen: bucket `value` (width 50) and compare each
    bucket's share in the first half of the time range against the second
    half — the ingest-QA check that catches a pipeline whose value
    distribution silently shifts mid-stream. The time midpoint is an exact
    integer microsecond (floor-divided span), bucket edges are integers
    (exact doubles), and counts are integers, so the only float step is the
    final share subtraction — identical IEEE expression in both engines.
    Computation: one tiny bounds aggregate broadcast to the scan, then a
    single grouped count — the drift table never shuffles raw rows twice."""
    e = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    bounds = e.agg(F.min(us).alias("lo"), F.max(us).alias("hi"))
    lab = (e.join(F.broadcast(bounds))
           .select(F.floor(F.col("value") / 50.0).cast("int").alias("bucket"),
                   F.when(us - F.col("lo") < F.expr("(hi - lo) div 2"), 1)
                   .otherwise(0).alias("early")))
    c = (lab.groupBy("bucket")
         .agg(F.sum("early").alias("n_early"),
              (F.count(F.lit(1)) - F.sum("early")).alias("n_late")))
    t = c.agg(F.sum("n_early").alias("te"), F.sum("n_late").alias("tl"))
    return (c.join(F.broadcast(t))
            .select("bucket", "n_early", "n_late",
                    F.round(F.col("n_early") / F.col("te")
                            - F.col("n_late") / F.col("tl"), 6)
                    .alias("share_drift"))
            .orderBy("bucket"))


@register(
    "winsorized_stats_by_type",
    oracle="""
WITH b AS (
  SELECT event_type,
         quantile_cont(value, 0.01) AS p01,
         quantile_cont(value, 0.99) AS p99
  FROM events GROUP BY event_type),
w AS (
  SELECT e.event_type,
         least(greatest(e.value, b.p01), b.p99) AS wv,
         CASE WHEN e.value < b.p01 OR e.value > b.p99 THEN 1 ELSE 0 END
             AS clipped
  FROM events e JOIN b ON b.event_type = e.event_type)
SELECT event_type, count(*) AS n,
       cast(sum(clipped) AS bigint) AS n_clipped,
       round(sum(wv) / count(*), 4) AS winsorized_mean
FROM w GROUP BY event_type ORDER BY event_type""",
    tags=("robust", "winsorize"),
)
def winsorized_stats_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per group: clip values to the group's [p1, p99] and
    average — the robust-mean transform that tames heavy tails without
    dropping rows. Two passes: exact interpolated percentiles per group (5
    tiny rows, broadcast back onto the facts), then one clip-and-aggregate
    scan. Percentiles share Spark/DuckDB's linear-interpolation definition;
    the clipped values are either raw 2-dp doubles or those interpolated
    bounds (identical doubles in both engines), and the mean is rounded as
    a true quotient.

    Caveat (documented, not hidden): the winsorized SUM adds interpolated
    doubles, so it is order-sensitive in the last ulp — safe here because
    each group's clipped tail is tiny (<= 2% of rows) and the 4-dp rounding
    sits far above 1-ulp noise; for a 100 TB run with adversarial
    distributions, quantize the bounds to the data's 2-dp grid first."""
    e = load_table(spark, sf_dir, "events")
    b = (e.groupBy("event_type")
         .agg(F.expr("percentile(value, 0.01)").alias("p01"),
              F.expr("percentile(value, 0.99)").alias("p99")))
    w = (e.join(F.broadcast(b), "event_type")
         .select("event_type",
                 F.least(F.greatest("value", F.col("p01")), F.col("p99"))
                 .alias("wv"),
                 F.when((F.col("value") < F.col("p01"))
                        | (F.col("value") > F.col("p99")), 1)
                 .otherwise(0).alias("clipped")))
    return (w.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("clipped").alias("n_clipped"),
                 F.round(F.sum("wv") / F.count(F.lit(1)), 4)
                  .alias("winsorized_mean"))
            .orderBy("event_type"))
