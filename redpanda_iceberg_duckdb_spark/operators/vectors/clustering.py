"""Cluster geometry of the embedding corpus: centroid silhouette per
label, linear-kernel MMD between labels, exact medoids, linear CKA
between the two dim halves, grid-blocked DBSCAN labels and k-center
seeds.

Each query reduces to sufficient statistics on an integer lattice
(per-label sums and squared norms, the 64 x 64 co-moment grid, or exact
lattice distances), so no pairwise row work is needed except where the
definition is pairwise (DBSCAN's eps-neighbours, blocked by a spatial
grid) and no float ambiguity reaches the output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ...registry import register
from ...tables import load_table
from .kernels import DOT_SCALE, Q4, dot_int64


@register(
    "cluster_quality_silhouette",
    oracle=f"""
WITH per AS (
  SELECT label, vec_id,
         cast(sum(cast(floor(cast(x AS double) * cast(x AS double)
                             * {DOT_SCALE}) AS bigint)) AS bigint) AS sn
  FROM (SELECT label, vec_id, unnest(embedding) AS x FROM embeddings)
  GROUP BY label, vec_id),
stats AS (SELECT label, count(*) AS n, cast(sum(sn) AS bigint) AS sn_sum
          FROM per GROUP BY label),
cent AS (
  SELECT label, i AS dim,
         cast(floor(cast(sum(cast(cast(x AS double) AS decimal(20,12)))
                         AS double) / count(*) * 1e6) AS bigint) AS cq
  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS i,
               unnest(embedding) AS x FROM embeddings)
  GROUP BY label, i),
gram AS (SELECT a.label AS l, b.label AS m,
                cast(sum(a.cq * b.cq) AS bigint) AS g
         FROM cent a JOIN cent b USING (dim) GROUP BY 1, 2),
d AS (
  SELECT s.label AS l, gr.m,
         cast(s.sn_sum AS double) / s.n - 2 * gr.g + o.g AS dist2
  FROM stats s
  JOIN gram gr ON gr.l = s.label
  JOIN gram o ON o.l = gr.m AND o.m = gr.m),
nearest AS (
  SELECT l, m, dist2,
         row_number() OVER (PARTITION BY l ORDER BY dist2, m) AS rn
  FROM d WHERE l <> m)
SELECT a.l AS label, s.n AS n_vectors,
       round(a.dist2 / {DOT_SCALE}, 6) AS intra_d2,
       r.m AS nearest_label,
       round(r.dist2 / {DOT_SCALE}, 6) AS inter_d2,
       round((r.dist2 - a.dist2) / greatest(r.dist2, a.dist2), 6)
           AS silhouette
FROM d a
JOIN nearest r ON r.l = a.l AND r.rn = 1
JOIN stats s ON s.label = a.l
WHERE a.l = a.m
ORDER BY label""",
    tags=("similarity", "clustering", "quality"),
)
def cluster_quality_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-silhouette cluster quality per label: intra = mean squared
    distance of members to their own centroid, inter = squared distance to
    the NEAREST other centroid, silhouette = (inter-intra)/max — the audit
    that tells you whether the IVF coarse quantizer's cells are tight before
    trusting nprobe=1 ANN.

    The O(N*L) member-to-centroid distance matrix is never built: with
    ||x-c||^2 = ||x||^2 - 2x.c + ||c||^2 and mean_x(x) = own centroid, the
    whole thing collapses to per-label scalars (mean squared norm) plus the
    L x L centroid gram matrix. Squared norms are lattice sums; centroids
    are exact-decimal means quantized to 1e-6 before the gram product."""
    emb = load_table(spark, sf_dir, "embeddings")
    per = emb.select("label",
                     dot_int64("embedding", "embedding").alias("sn"))
    stats = per.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"), F.sum("sn").alias("sn_sum"))
    ex = emb.select("label", F.posexplode("embedding").alias("dim", "x"))
    cent = (ex.groupBy("label", "dim")
            .agg(F.floor(
                    F.sum(F.col("x").cast("double").cast("decimal(20,12)"))
                     .cast("double") / F.count(F.lit(1)) * 1e6)
                 .cast("long").alias("cq")))
    a = cent.select(F.col("label").alias("l"), "dim", F.col("cq").alias("cqa"))
    b = cent.select(F.col("label").alias("m"), "dim", F.col("cq").alias("cqb"))
    gram = (a.join(b, "dim")
            .groupBy("l", "m")
            .agg(F.sum(F.col("cqa") * F.col("cqb")).alias("g")))
    own = gram.filter(F.col("l") == F.col("m")) \
              .select(F.col("l").alias("m2"), F.col("g").alias("g_own"))
    d = (stats.join(gram, stats["label"] == gram["l"])
         .join(own, gram["m"] == own["m2"])
         .select("l", "m",
                 (F.col("sn_sum").cast("double") / F.col("n")
                  - 2 * F.col("g") + F.col("g_own")).alias("dist2")))
    nearest = (d.filter(F.col("l") != F.col("m"))
               .withColumn("rn", F.row_number().over(
                   W.partitionBy("l").orderBy("dist2", "m")))
               .filter(F.col("rn") == 1)
               .select(F.col("l").alias("ln"),
                       F.col("m").alias("nearest_label"),
                       F.col("dist2").alias("inter")))
    intra = (d.filter(F.col("l") == F.col("m"))
             .select(F.col("l").alias("la"), F.col("dist2").alias("intra")))
    scale = float(DOT_SCALE)
    return (intra.join(nearest, intra["la"] == nearest["ln"])
            .join(stats, intra["la"] == stats["label"])
            .select(F.col("la").alias("label"),
                    F.col("n").alias("n_vectors"),
                    F.round(F.col("intra") / scale, 6).alias("intra_d2"),
                    "nearest_label",
                    F.round(F.col("inter") / scale, 6).alias("inter_d2"),
                    F.round((F.col("inter") - F.col("intra"))
                            / F.greatest("inter", "intra"), 6)
                    .alias("silhouette"))
            .orderBy("label"))


# One row per (vector, dim) on the 1e6 lattice, q = floor(x * 1e6).
_E6_DUCK = """
WITH e AS (SELECT vec_id, label, i, cast(floor(cast(x AS double) * 1e6) AS bigint) AS q
           FROM (SELECT vec_id, label,
                        generate_subscripts(embedding, 1) AS i,
                        unnest(embedding) AS x
                 FROM embeddings)),"""


def _e6(emb: DataFrame) -> DataFrame:
    return (emb.select("vec_id", "label",
                       F.posexplode("embedding").alias("i", "x"))
            .withColumn("q", F.expr("cast(floor(cast(x as double) * 1e6) "
                                    "as bigint)")))


@register(
    "mmd_linear_label_pairs",
    oracle=_E6_DUCK + """
sums AS (SELECT label, i, cast(sum(q) AS bigint) AS s FROM e
         GROUP BY label, i),
cnt AS (SELECT label, cast(count(*) AS bigint) AS n FROM embeddings
        GROUP BY label),
num AS (SELECT a.label AS label_a, b.label AS label_b,
               sum(cast((a.s * cb.n - b.s * ca.n)
                        * (a.s * cb.n - b.s * ca.n)
                        AS decimal(38, 0))) AS sq,
               min(ca.n) AS na, min(cb.n) AS nb
        FROM sums a JOIN sums b ON a.i = b.i AND a.label < b.label
             JOIN cnt ca ON ca.label = a.label
             JOIN cnt cb ON cb.label = b.label
        GROUP BY a.label, b.label)
SELECT label_a, label_b,
       round(cast(sq AS double)
             / (cast(na AS double) * na * nb * nb) / 1e12, 6) AS mmd2
FROM num ORDER BY label_a, label_b""",
    tags=("similarity", "drift", "statistics"),
)
def mmd_linear_label_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-kernel MMD^2 = ||mu_a - mu_b||^2 between every label pair:
    the one-pass drift test between corpus slices. On per-dim sums s of
    q = floor(x * 1e6) the per-dim term is the exact rational
    (s_a*n_b - s_b*n_a)^2 / (n_a*n_b)^2; numerators sum as
    decimal(38,0), with one double division at the end (/1e12 unscales
    the quantization)."""
    emb = load_table(spark, sf_dir, "embeddings")
    sums = _e6(emb).groupBy("label", "i").agg(F.sum("q").alias("s"))
    cnt = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    a = sums.select(F.col("label").alias("label_a"), "i",
                    F.col("s").alias("sa"))
    b = sums.select(F.col("label").alias("label_b"), F.col("i"),
                    F.col("s").alias("sb"))
    ca = F.broadcast(cnt.select(F.col("label").alias("label_a"),
                                F.col("n").alias("na")))
    cb = F.broadcast(cnt.select(F.col("label").alias("label_b"),
                                F.col("n").alias("nb")))
    diff = F.col("sa") * F.col("nb") - F.col("sb") * F.col("na")
    num = (a.join(b, (a.i == b.i) & (F.col("label_a") < F.col("label_b")))
           .join(ca, "label_a").join(cb, "label_b")
           .groupBy("label_a", "label_b")
           .agg(F.sum((diff * diff).cast("decimal(38,0)")).alias("sq"),
                F.min("na").alias("na"), F.min("nb").alias("nb")))
    return (num.select(
        "label_a", "label_b",
        F.round(F.col("sq").cast("double")
                / (F.col("na").cast("double") * F.col("na")
                   * F.col("nb") * F.col("nb")) / 1e12, 6).alias("mmd2"))
        .orderBy("label_a", "label_b"))


@register(
    "cluster_medoids",
    oracle=_E6_DUCK + """
vn AS (SELECT vec_id, label, cast(sum(q * q) AS bigint) AS sq FROM e
       GROUP BY vec_id, label),
ls AS (SELECT label, i, cast(sum(q) AS bigint) AS s FROM e
       GROUP BY label, i),
lt AS (SELECT label, cast(sum(sq) AS bigint) AS t,
              cast(count(*) AS bigint) AS n
       FROM vn GROUP BY label),
cross_d AS (SELECT e.vec_id, e.label, cast(sum(e.q * ls.s) AS bigint) AS xs
            FROM e JOIN ls ON ls.label = e.label AND ls.i = e.i
            GROUP BY e.vec_id, e.label),
score AS (SELECT vn.vec_id, vn.label,
                 lt.n * vn.sq + lt.t - 2 * cross_d.xs AS ssd
          FROM vn JOIN cross_d ON cross_d.vec_id = vn.vec_id
               JOIN lt ON lt.label = vn.label)
SELECT label, vec_id AS medoid_vec_id, cast(ssd AS bigint) AS medoid_ssd
FROM (SELECT label, vec_id, ssd,
             row_number() OVER (PARTITION BY label
                                ORDER BY ssd, vec_id) AS rn
      FROM score)
WHERE rn = 1 ORDER BY label""",
    tags=("similarity", "dedup", "clustering"),
)
def cluster_medoids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label medoid (the vector minimizing total squared distance to
    its cell: the representative kept after near-dedup), tie to the
    smallest vec_id. With q = floor(x * 1e6) and S the label's dim-sum
    vector, sum_y ||q_x - q_y||^2 = n*||q_x||^2 + sum_y ||q_y||^2
    - 2<q_x, S>: exact int64, O(n * dims), no pairwise join (int64-safe
    to ~1.4e5 vectors per label at this quantization)."""
    e = _e6(load_table(spark, sf_dir, "embeddings"))
    vn = (e.groupBy("vec_id", "label")
          .agg(F.sum(F.col("q") * F.col("q")).alias("sq")))
    ls = e.groupBy("label", "i").agg(F.sum("q").alias("s"))
    lt = F.broadcast(vn.groupBy("label")
                     .agg(F.sum("sq").alias("t"),
                          F.count(F.lit(1)).alias("n")))
    cross_d = (e.join(ls, ["label", "i"])
               .groupBy("vec_id", "label")
               .agg(F.sum(F.col("q") * F.col("s")).alias("xs")))
    score = (vn.join(cross_d, ["vec_id", "label"]).join(lt, "label")
             .select("label", "vec_id",
                     (F.col("n") * F.col("sq") + F.col("t")
                      - 2 * F.col("xs")).alias("ssd")))
    w = W.partitionBy("label").orderBy("ssd", "vec_id")
    return (score.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("label", F.col("vec_id").alias("medoid_vec_id"),
                    F.col("ssd").cast("long").alias("medoid_ssd"))
            .orderBy("label"))


_DIM = 64
_HALF = 32
_Q = 10_000


@register(
    "linear_cka_dim_halves",
    oracle=f"""
WITH q AS (
  SELECT vec_id, i.i AS i,
         cast(floor(cast(embedding[i.i] AS double) * {_Q}) AS bigint)
           AS qv
  FROM embeddings, lateral (
    SELECT unnest(generate_series(1, {_DIM})) AS i) i),
m AS (SELECT i, cast(sum(qv) AS bigint) AS mi,
             cast(count(*) AS bigint) AS n
      FROM q GROUP BY i),
s AS (SELECT a.i AS i, b.i AS j,
             cast(sum(cast(a.qv AS decimal(19, 0)) * b.qv)
                  AS decimal(38, 0)) AS sij
      FROM q a JOIN q b USING (vec_id) GROUP BY a.i, b.i),
c AS (SELECT s.i, s.j,
             cast(ma.n AS decimal(38, 0)) * s.sij
               - cast(ma.mi AS decimal(38, 0)) * mb.mi AS cij
      FROM s JOIN m ma ON ma.i = s.i JOIN m mb ON mb.i = s.j),
blocks AS (
  SELECT sum(CASE WHEN i <= {_HALF} AND j > {_HALF}
                  THEN cij * cij ELSE 0 END) AS hxy,
         sum(CASE WHEN i <= {_HALF} AND j <= {_HALF}
                  THEN cij * cij ELSE 0 END) AS hxx,
         sum(CASE WHEN i > {_HALF} AND j > {_HALF}
                  THEN cij * cij ELSE 0 END) AS hyy
  FROM c)
SELECT (SELECT max(n) FROM m) AS n_rows,
       round(cast(hxy AS double)
             / sqrt(cast(hxx AS double) * cast(hyy AS double)), 6)
         AS cka
FROM blocks""",
    tags=("embedding", "representation", "lattice"),
)
def linear_cka_dim_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_rows, cka): linear CKA (Kornblith et al., ICML 2019) between
    dims 1..32 and 33..64: do the halves encode the same geometry? On
    q = floor(x * 1e4), the centered co-moment C[i,j] = n*S[i,j] -
    m_i*m_j and each block's sum C^2 are exact decimal(38,0) (inside the
    bound to n ~ 2e5 rows), with one double division and sqrt at the end.
    One self-join per row on the row key builds the 64 x 64 grid,
    reduced by one (i, j)-keyed shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = (emb.select(
            "vec_id",
            F.posexplode(F.transform(
                "embedding",
                lambda x: F.floor(x.cast("double") * _Q).cast("long")))
            .alias("p", "qv"))
         .select("vec_id", (F.col("p") + 1).alias("i"), "qv"))
    m = q.groupBy("i").agg(F.sum("qv").cast("long").alias("mi"),
                           F.count(F.lit(1)).cast("long").alias("n"))
    s = (q.alias("a")
         .join(q.alias("b"), "vec_id")
         .groupBy(F.col("a.i").alias("i"), F.col("b.i").alias("j"))
         .agg(F.sum(F.col("a.qv").cast("decimal(19,0)") * F.col("b.qv"))
              .cast("decimal(38,0)").alias("sij")))
    c = (s.join(m.select(F.col("i"), F.col("mi").alias("ma"),
                         F.col("n")), "i")
         .join(m.select(F.col("i").alias("j"), F.col("mi").alias("mb")),
               "j")
         .select("i", "j",
                 (F.col("n").cast("decimal(38,0)") * F.col("sij")
                  - F.col("ma").cast("decimal(38,0)") * F.col("mb"))
                 .alias("cij")))
    half = F.lit(_HALF)
    sq = F.col("cij") * F.col("cij")

    def block(cond):
        return F.sum(F.when(cond, sq).otherwise(F.lit(0)))

    blocks = c.agg(
        block((F.col("i") <= half) & (F.col("j") > half)).alias("hxy"),
        block((F.col("i") <= half) & (F.col("j") <= half)).alias("hxx"),
        block((F.col("i") > half) & (F.col("j") > half)).alias("hyy"))
    n = m.agg(F.max("n").alias("n_rows"))
    return (blocks.crossJoin(F.broadcast(n))
            .select(F.col("n_rows"),
                    F.round(F.col("hxy").cast("double")
                            / F.sqrt(F.col("hxx").cast("double")
                                     * F.col("hyy").cast("double")), 6)
                    .alias("cka")))


_EPS = 0.02
_MINPTS = 4
_EPS_PAIRS_DUCK = f"""
  FROM pt a JOIN pt b ON b.vec_id <> a.vec_id
   AND (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= {_EPS}*{_EPS}"""


@register(
    "dbscan_grid_labels",
    oracle=f"""
WITH pt AS (
  SELECT vec_id, cast(embedding[1] AS double) AS x,
         cast(embedding[2] AS double) AS y FROM embeddings),
nb AS (
  SELECT a.vec_id, count(*) AS nb{_EPS_PAIRS_DUCK}
  GROUP BY a.vec_id),
cls AS (
  SELECT p.vec_id,
         coalesce(n.nb, 0) AS nb,
         coalesce(n.nb, 0) >= {_MINPTS} AS is_core
  FROM pt p LEFT JOIN nb n ON n.vec_id = p.vec_id),
border AS (
  SELECT DISTINCT a.vec_id{_EPS_PAIRS_DUCK}
  JOIN cls cb ON cb.vec_id = b.vec_id AND cb.is_core
  JOIN cls ca ON ca.vec_id = a.vec_id AND NOT ca.is_core),
lab AS (
  SELECT c.vec_id, c.nb,
         CASE WHEN c.is_core THEN 'core'
              WHEN br.vec_id IS NOT NULL THEN 'border'
              ELSE 'noise' END AS point_class
  FROM cls c LEFT JOIN border br ON br.vec_id = c.vec_id)
SELECT point_class, cast(count(*) AS bigint) AS n_points,
       cast(sum(nb) AS bigint) AS neighbor_links
FROM lab GROUP BY point_class ORDER BY point_class""",
    tags=("clustering", "spatial", "scale-pattern"),
)
def dbscan_grid_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(point_class, n_points, neighbor_links): DBSCAN (Ester et al., KDD
    1996) core/border/noise labels at eps=0.02, minPts=4 over the first
    two dims. Cell width = eps confines every eps-pair to a 3x3 cell
    neighbourhood, so the neighbour search is an EQUI-join on the cell
    with the probe side exploded to its 9 covering cells; the oracle is
    the brute-force all-pairs definition. Squared distances have a fixed
    two-term order and no sqrt, and the outputs are counts."""
    emb = load_table(spark, sf_dir, "embeddings")
    pt = emb.select(
        "vec_id",
        F.col("embedding").getItem(0).cast("double").alias("x"),
        F.col("embedding").getItem(1).cast("double").alias("y"))
    cell = pt.select(
        "vec_id", "x", "y",
        F.floor(F.col("x") / _EPS).cast("long").alias("cx"),
        F.floor(F.col("y") / _EPS).cast("long").alias("cy"))
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = (cell.select(F.col("vec_id").alias("bid"),
                         F.col("x").alias("bx"), F.col("y").alias("by"),
                         "cx", "cy")
             .withColumn("o", F.explode(F.array(*[
                 F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                 for dx, dy in offsets])))
             .select("bid", "bx", "by",
                     (F.col("cx") + F.col("o.dx")).alias("cx"),
                     (F.col("cy") + F.col("o.dy")).alias("cy")))
    eps2 = F.lit(_EPS) * F.lit(_EPS)
    d2 = ((F.col("x") - F.col("bx")) * (F.col("x") - F.col("bx"))
          + (F.col("y") - F.col("by")) * (F.col("y") - F.col("by")))
    edges = (cell.join(probe, ["cx", "cy"])
             .filter((F.col("bid") != F.col("vec_id")) & (d2 <= eps2))
             .select("vec_id", "bid"))
    nb = edges.groupBy("vec_id").agg(F.count(F.lit(1)).alias("nb"))
    cls = (pt.select("vec_id").join(nb, "vec_id", "left")
           .select("vec_id", F.coalesce("nb", F.lit(0)).alias("nb"))
           .withColumn("is_core", F.col("nb") >= _MINPTS))
    core_ids = cls.filter("is_core").select(F.col("vec_id").alias("bid"))
    border = (edges.join(core_ids, "bid")
              .select("vec_id").distinct()
              .join(cls.filter(~F.col("is_core")).select("vec_id"),
                    "vec_id")
              .withColumn("is_border", F.lit(True)))
    lab = (cls.join(border, "vec_id", "left")
           .select("nb", F.when(F.col("is_core"), "core")
                   .when(F.col("is_border"), "border")
                   .otherwise("noise").alias("point_class")))
    return (lab.groupBy("point_class")
            .agg(F.count(F.lit(1)).cast("long").alias("n_points"),
                 F.sum("nb").cast("long").alias("neighbor_links"))
            .orderBy("point_class"))


_K_CENTERS = 4
_D2 = ("aggregate(zip_with(ea, eb0, (x, y) -> (x - y) * (x - y)), "
       "cast(0 as bigint), (acc, v) -> acc + v)")
_LAT_D = ("list_transform(embedding, x -> "
          "cast(floor(cast(x as double) * 1e4) as bigint))")


def _d2_duck(e1: str, e2: str) -> str:
    return (f"cast(list_sum(list_transform(range(1, len({e1}) + 1), "
            f"i -> ({e1}[i] - {e2}[i]) * ({e1}[i] - {e2}[i]))) as bigint)")


def _kcenter_oracle() -> str:
    # round j: cj = point maximizing min-dist^2 to centers {c1..c_{j-1}},
    # ties to smallest vec_id; dj = updated min-dist column.
    return f"""
WITH p AS (SELECT vec_id, {_LAT_D} AS e FROM embeddings),
c1 AS (SELECT vec_id, e FROM p ORDER BY vec_id LIMIT 1),
d1 AS (
  SELECT p.vec_id, p.e, {_d2_duck('p.e', 'c.e')} AS md
  FROM p, c1 c),
c2 AS (SELECT vec_id, e, md FROM d1 ORDER BY md DESC, vec_id LIMIT 1),
d2 AS (
  SELECT d.vec_id, d.e, least(d.md, {_d2_duck('d.e', 'c.e')}) AS md
  FROM d1 d, c2 c),
c3 AS (SELECT vec_id, e, md FROM d2 ORDER BY md DESC, vec_id LIMIT 1),
d3 AS (
  SELECT d.vec_id, d.e, least(d.md, {_d2_duck('d.e', 'c.e')}) AS md
  FROM d2 d, c3 c),
c4 AS (SELECT vec_id, e, md FROM d3 ORDER BY md DESC, vec_id LIMIT 1),
d4 AS (
  SELECT least(d.md, {_d2_duck('d.e', 'c.e')}) AS md
  FROM d3 d, c4 c)
SELECT * FROM (
  SELECT 1 AS rnk, (SELECT vec_id FROM c1) AS vec_id,
         cast(0 AS bigint) AS sel_d2
  UNION ALL
  SELECT 2, (SELECT vec_id FROM c2), (SELECT md FROM c2)
  UNION ALL
  SELECT 3, (SELECT vec_id FROM c3), (SELECT md FROM c3)
  UNION ALL
  SELECT 4, (SELECT vec_id FROM c4), (SELECT md FROM c4)
  UNION ALL
  SELECT 5, cast(-1 AS bigint), (SELECT cast(max(md) AS bigint) FROM d4)
) ORDER BY rnk"""


@register(
    "kcenter_farthest_points",
    oracle=_kcenter_oracle(),
    tags=("curation", "similarity", "scale-pattern"),
)
def kcenter_farthest_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(rnk, vec_id, sel_d2): 4 k-center seeds by farthest-point traversal
    (Gonzalez 1985, the 2-approximation for metric k-center) in selection
    order, each with the exact lattice min-distance^2 at which it was
    chosen, plus a (rnk=5, vec_id=-1) row carrying the covering radius^2.
    On floor(x * 1e4) every squared distance is an exact bigint (<= 2.6e10
    at 64 dims), ties to the smallest vec_id. A round broadcasts the
    newest center onto the point scan, updates the running min-distance
    and takes ONE TakeOrdered(1) scalar: k jobs for k centers, sound for
    coreset-sized k (beyond ~100, sample several far points per round,
    k-means|| style). The oracle unrolls the same traversal as chained
    CTEs."""
    p = (load_table(spark, sf_dir, "embeddings")
         .select("vec_id", F.expr(Q4).alias("ea")))
    seed = p.orderBy("vec_id").limit(1).collect()[0]
    centers = [(1, int(seed.vec_id), 0)]
    cur = (p.crossJoin(F.broadcast(spark.createDataFrame(
               [(seed.ea,)], "eb0 array<bigint>")))
           .select("vec_id", "ea", F.expr(_D2).alias("md"))
           .localCheckpoint(eager=True))
    for rnk in range(2, _K_CENTERS + 1):
        top = (cur.orderBy(F.desc("md"), F.asc("vec_id")).limit(1)
               .collect()[0])          # ONE scalar per round
        centers.append((rnk, int(top.vec_id), int(top.md)))
        cdf = spark.createDataFrame([(top.ea,)], "eb0 array<bigint>")
        cur = (cur.crossJoin(F.broadcast(cdf))
               .select("vec_id", "ea",
                       F.least(F.col("md"), F.expr(_D2)).alias("md"))
               .localCheckpoint(eager=True))
    radius = cur.agg(F.max("md")).collect()[0][0]
    centers.append((_K_CENTERS + 1, -1, int(radius)))
    return spark.createDataFrame(
        centers, "rnk int, vec_id long, sel_d2 long").orderBy("rnk")
