"""Classical statistical tests, grouped by domain:

- ``rank``: rank and distribution-comparison tests on the value lattice
  (trimmed means, KS, Anderson-Darling, Kruskal-Wallis, Spearman,
  Friedman, Hodges-Lehmann) and the two-phase running sum they share;
- ``moments``: tests built from sufficient statistics (one-way ANOVA and
  Brown-Forsythe on one fixed-point F, Welch, Mahalanobis, NB fit,
  Box-Cox, Cochran-Armitage, McNemar, Wilson, empirical Bayes, weighted
  Jaccard);
- ``resampling``: md5-seeded permutation and block-randomization tests
  (the permutation test, Benjamini-Hochberg FDR);
- ``series``: tests on the hourly event-count series (Mann-Kendall, runs,
  Ljung-Box, Page-Hinkley, Kendall tau-b, Granger, PACF), which
  ``timeseries.hourly`` builds.

Every query is checked exactly against a DuckDB oracle, so each one keeps
the float operations the two engines see identical. The rules:

- **Integer-cents lattice.** Values ride as exact integer cents
  (``floor(value * 100)``) and counts as bigints; sums of them are
  order-insensitive, so the engines aggregate identical integers.
  Products that can pass int64 ride ``decimal(38,0)`` (DuckDB
  ``hugeint``): exact 128-bit integer arithmetic in both engines.
  Comparisons of ratios cross-multiply instead of dividing.
- **Doubled midranks.** A tied run of length t after ``before`` smaller
  values has midrank ``before + (t + 1) / 2``; twice that,
  ``2 * before + t + 1``, is an integer, so rank sums and rank moments
  stay exact bigints under ties. Doubled medians (the sum of the two
  middle order statistics) follow the same rule.
- **Fixed-point lattices.** A quotient that must be summed is first
  snapped to an integer lattice and summed as integers: ANOVA's
  between-group terms ``s_h^2 / n_h`` as ``floor(s_h^2 * 1e15 / n_h)``
  (DuckDB ``hugeint //``, Spark decimal mod-then-exact-division; the
  truncation is below k/1e15 cents^2), per-lag or per-value float terms
  as ``round(1e9 * term)`` (half away from zero in both engines), rates
  as ``round(1e9 * k / n)``. A plain float sum could add in a different
  order in each engine.
- **One final float expression.** Where floats are unavoidable (sqrt,
  ln, the closing division), both engines evaluate the same expression
  tree over the same exact integers and round once, at 4 or 6 decimals.
  An int64 -> double cast stays below 2^53 at every benched scale factor.

Scale stance: each test reduces the corpus with one map-side-combinable
aggregate (per value, per (group, value), per hour, per user) and then
works on that bounded reduction. KS, Kruskal-Wallis and Spearman
cumulate with the two-phase bucketed running sum (``rank.running_sums``):
windows partitioned by fixed-width value buckets, plus a tiny broadcast
of bucket offsets — no global single-partition sort. Anderson-Darling
and Brown-Forsythe keep one plain window over their per-value frames,
since the helper reads its input twice and would add parquet scans. The
other global windows run only over bounded frames (the hour grid, the
day x type cells).
"""
