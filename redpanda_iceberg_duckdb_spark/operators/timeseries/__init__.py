"""Queries on the hourly event-count series, grouped by domain:

- ``hourly``: the one module that builds a series from ``events``: the
  hour buckets, the sparse per-hour count, the dense zero-filled grid,
  the per-series thinning cap, the N-scaled centering and lag products,
  and the same series as oracle CTEs;
- ``regularize``: gap fill, moving statistics, EWMA, sliding distinct
  users, M4 downsampling;
- ``forecast``: Holt, Holt-Winters, the MASE backtest, trend and
  seasonality strength;
- ``shape``: ACF, cross-correlation, periodogram, Haar energy, SAX
  motifs, DTW;
- ``change``: CUSUM, binary segmentation, Theil-Sen.

**The hour bucket.** Each query buckets ``ts`` with the expression its
oracle uses, and the expressions disagree before 1970:

- ``micros_hour``, ``unix_micros(ts) div 3600000000``, is DuckDB's
  ``epoch_us(ts) // 3600000000``: both truncate toward zero, so
  1969-12-31 23:30 falls in hour 0;
- ``epoch_hour``, ``floor(unix_timestamp(ts) / 3600)``, is DuckDB's
  ``floor(epoch(ts) / 3600)``: 1969-12-31 23:30 falls in hour -1;
- ``trunc_hour``, ``date_trunc('hour', ts)``, keeps the hour as a
  timestamp for queries that report it.

So ``hourly_counts`` takes the bucket from its caller, and the grid
builder ``zero_filled`` takes a per-hour count frame and never picks one.
A dense series holds one row per hour from the first to the last hour of
its count frame; a missing hour is a true zero.

**The lattice.** Every query is checked exactly against a DuckDB oracle,
so each keeps the float operations both engines see identical:

- counts are bigints and sums of them are exact in any order; products
  that can pass int64 ride ``decimal(38,0)`` (DuckDB ``hugeint``);
- centering rides the N-scaled deviation ``z_t = n * c_t - S``, an exact
  bigint, so covariance numerators and variances are exact integer sums;
- recurrences run on the 1e6 micro lattice with ``floor(x / 2.0)``:
  integer division truncates in both engines and differs from floor on
  negatives, so signed halving states the floor;
- a value that must be summed after a float step (a trig term, a log) is
  first snapped to an integer lattice with ``round``;
- where floats are unavoidable both engines evaluate one final
  expression over the same integers and round once.

**Scale.** Each query reduces the corpus with one map-side-combinable
aggregate to per-hour (or per type and hour) counts; everything after
runs on the hour grid, bounded by the time range, not by the corpus.
Sequential recurrences fold the collected grid.
"""
