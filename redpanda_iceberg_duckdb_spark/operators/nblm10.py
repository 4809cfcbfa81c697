"""Token-level language-model operators on the integer-lattice determinism
pattern: multinomial Naive Bayes classification, add-one bigram surprisal
banding, and a Heaps'-law vocabulary-growth fit.

The common determinism trick (stats/ / ARCHITECTURE.md "integer-lattice
statistics"): every log-probability is snapped ONCE to micro-nats —
``cast(round(ln(p) * 1e6) as bigint)`` — and everything downstream (per-doc
sums, argmax, band assignment, regression sums) is exact 64-bit integer
arithmetic, so the result is independent of partitioning and float summation
order in both engines. The only float op is a single ln() per DISTINCT
(token, class) / (bigram) / (level) — a vocabulary-sized set, not a
corpus-sized one — and round-to-micro-nat absorbs libm's last-ulp slack.

Naive Bayes (add-one smoothing, McCallum & Nigam AAAI-98 workshop):
train/test split by cross-engine md5 hash (functions/hashing.py), per-class
token weights w(t,c) = ln((c_tc + 1) / (N_c + V)) are a broadcast-sized
table, scoring is one equi-join from test-token counts + one bigint
aggregate; argmax rides min(struct(-score, class)) so ties break to the
lexicographically first class identically everywhere. Out-of-vocabulary test
tokens are dropped (the standard convention).

Bigram surprisal: P(b|a) = (c_ab + 1) / (c_a* + V). A document's mean
surprisal is banded WITHOUT computing the float mean: band =
floor(sum_micronats / (n_bigrams * BAND_MICRONATS)) — an exact integer
division, so band edges cannot flip between engines.

Heaps' law (V ~ k * T^beta): five nested hash-sampled corpus levels
(p = 1, 1/2, ..., 1/16), per level exact token totals and distinct-TRIGRAM
vocabulary (trigrams keep the curve off its ceiling on the tiny fixture
vocab), then the log-log OLS slope assembled from bigint micro-nat sums.

At 100 TB: all three are count-shaped — token/class weight tables are
vocabulary-sized broadcasts, scoring and banding are one combinable
aggregate per doc, and the Heaps levels multiply the scan by a constant 5
(each level is a hash predicate, no shuffle of its own).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import load_table
from ..functions.hashing import md5_mod_duck, md5_mod_spark

_NB_SALT = "concat('nb:', cast(doc_id as string))"
_NB_SALT_D = "'nb:' || cast(doc_id as varchar)"
_BAND_MICRONATS = 250_000            # 0.25-nat surprisal bands
_HEAPS_LEVELS = 5


def _nb_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, lang, text,
         {md5_mod_duck(_NB_SALT_D, 5)} AS h
  FROM documents),
tok AS (
  SELECT doc_id, lang, h, unnest(string_split(text, ' ')) AS token
  FROM d),
tok2 AS (SELECT * FROM tok WHERE token <> ''),
tc AS (  -- train token-class counts
  SELECT lang, token, count(*) AS c FROM tok2 WHERE h <> 0 GROUP BY 1, 2),
nc AS (SELECT lang, sum(c) AS ntot FROM tc GROUP BY 1),
vv AS (SELECT count(DISTINCT token) AS v FROM tc),
pr AS (  -- class priors from train doc counts
  SELECT lang, count(*) AS dc FROM d WHERE h <> 0 GROUP BY 1),
prw AS (
  SELECT lang, cast(round(ln(dc * 1.0 / (SELECT sum(dc) FROM pr)) * 1e6)
                    AS bigint) AS pw
  FROM pr),
tt AS (  -- test token counts, OOV dropped
  SELECT doc_id, lang AS actual, token, count(*) AS k
  FROM tok2 WHERE h = 0
    AND token IN (SELECT DISTINCT token FROM tc)
  GROUP BY 1, 2, 3),
scored AS (
  SELECT tt.doc_id, tt.actual, nc.lang,
         sum(tt.k * cast(round(ln((coalesce(tc.c, 0) + 1.0)
                                  / (nc.ntot + (SELECT v FROM vv))) * 1e6)
                         AS bigint)) AS s
  FROM tt CROSS JOIN nc
  LEFT JOIN tc ON tc.lang = nc.lang AND tc.token = tt.token
  GROUP BY 1, 2, 3),
total AS (
  SELECT s.doc_id, s.actual, s.lang, s.s + p.pw AS score
  FROM scored s JOIN prw p ON p.lang = s.lang),
pred AS (
  SELECT doc_id, actual, lang AS predicted FROM (
    SELECT doc_id, actual, lang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, lang) AS rn
    FROM total) WHERE rn = 1)
SELECT actual, predicted, count(*) AS n_docs
FROM pred GROUP BY 1, 2 ORDER BY 1, 2"""


@register(
    "naive_bayes_lang_confusion",
    oracle=_nb_oracle(),
    tags=("text", "evaluation", "scale-pattern"),
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(actual, predicted, n_docs): confusion matrix of an add-one
    multinomial Naive Bayes lang classifier trained on the md5-hash 80%
    split and applied to the 20% holdout — micro-nat bigint scores, exact
    argmax (module docstring)."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", "lang", "text",
                 F.expr(md5_mod_spark(_NB_SALT, 5)).alias("h")))
    tok = (d.select("doc_id", "lang", "h",
                    F.explode(F.split("text", " ")).alias("token"))
           .where(F.col("token") != ""))
    tc = (tok.where(F.col("h") != 0)
          .groupBy("lang", "token").agg(F.count(F.lit(1)).alias("c")))
    nc = tc.groupBy("lang").agg(F.sum("c").alias("ntot"))
    vv = tc.select("token").distinct().agg(
        F.count(F.lit(1)).alias("v"))
    pr = (d.where(F.col("h") != 0).groupBy("lang")
          .agg(F.count(F.lit(1)).alias("dc")))
    tdocs = pr.agg(F.sum("dc").alias("tdocs"))
    prw = (pr.crossJoin(F.broadcast(tdocs))
           .select("lang",
                   F.round(F.log(F.col("dc") * 1.0 / F.col("tdocs")) * 1e6)
                   .cast("long").alias("pw")))
    tt = (tok.where(F.col("h") == 0)
          .join(F.broadcast(tc.select("token").distinct()), "token")
          .groupBy("doc_id", F.col("lang").alias("actual"), "token")
          .agg(F.count(F.lit(1)).alias("k")))
    # class axis: 5 rows x vocab weights, broadcast onto the test scan
    classes = nc.crossJoin(F.broadcast(vv))
    scored = (tt.crossJoin(F.broadcast(classes))
              .join(F.broadcast(tc.withColumnRenamed("lang", "clang")),
                    (F.col("clang") == F.col("lang"))
                    & (tc.token == tt.token), "left")
              .select(tt.doc_id, "actual", "lang",
                      (F.col("k")
                       * F.round(F.log((F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                                       / (F.col("ntot") + F.col("v"))) * 1e6)
                       .cast("long")).alias("part"))
              .groupBy("doc_id", "actual", "lang")
              .agg(F.sum("part").alias("s")))
    total = (scored.join(F.broadcast(prw), "lang")
             .select("doc_id", "actual", "lang",
                     (F.col("s") + F.col("pw")).alias("score")))
    pred = (total.groupBy("doc_id", "actual")
            .agg(F.min(F.struct((-F.col("score")).alias("ns"),
                                F.col("lang"))).alias("m"))
            .select("actual", F.col("m.lang").alias("predicted")))
    return (pred.groupBy("actual", "predicted")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("actual", "predicted"))


def _surprisal_oracle() -> str:
    return f"""
WITH w AS (SELECT doc_id, source, string_split(text, ' ') ws
           FROM documents),
bg AS (
  SELECT doc_id, source, ws[i+1] AS a, ws[i+2] AS b
  FROM w, unnest(range(greatest(len(ws) - 1, 0))) r(i)),
cab AS (SELECT a, b, count(*) AS c_ab FROM bg GROUP BY 1, 2),
ca AS (SELECT a, sum(c_ab) AS c_a FROM cab GROUP BY 1),
vv AS (SELECT count(DISTINCT b) AS v FROM cab),
wt AS (
  SELECT cab.a, cab.b,
         cast(round(-ln((cab.c_ab + 1.0) / (ca.c_a + (SELECT v FROM vv)))
                    * 1e6) AS bigint) AS mn
  FROM cab JOIN ca ON ca.a = cab.a),
docsum AS (
  SELECT bg.doc_id, bg.source, sum(wt.mn) AS s, count(*) AS nbg
  FROM bg JOIN wt ON wt.a = bg.a AND wt.b = bg.b
  GROUP BY 1, 2),
banded AS (
  SELECT source, s // (nbg * {_BAND_MICRONATS}) AS band FROM docsum)
SELECT source, cast(band AS bigint) AS band, count(*) AS n_docs
FROM banded GROUP BY 1, 2 ORDER BY 1, 2"""


@register(
    "bigram_surprisal_bands",
    oracle=_surprisal_oracle(),
    tags=("text", "quality", "scale-pattern"),
)
def bigram_surprisal_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, band, n_docs): documents histogrammed into 0.25-nat bands of
    mean bigram surprisal under the corpus's own add-one bigram LM — band
    assignment is an exact integer division of micro-nat sums, so no float
    mean is ever compared to a band edge."""
    d = load_table(spark, sf_dir, "documents")
    bg = (d.select("doc_id", "source", F.split("text", " ").alias("ws"))
          .select("doc_id", "source",
                  F.explode_outer(F.expr(
                      "case when size(ws) >= 2 then "
                      "transform(sequence(0, size(ws)-2), "
                      "i -> struct(ws[i] as a, ws[i+1] as b)) "
                      "else array() end")).alias("p"))
          .where(F.col("p").isNotNull())
          .select("doc_id", "source", "p.a", "p.b"))
    cab = bg.groupBy("a", "b").agg(F.count(F.lit(1)).alias("c_ab"))
    ca = cab.groupBy("a").agg(F.sum("c_ab").alias("c_a"))
    vv = cab.select("b").distinct().agg(F.count(F.lit(1)).alias("v"))
    wt = (cab.join(ca, "a").crossJoin(F.broadcast(vv))
          .select("a", "b",
                  F.round(-F.log((F.col("c_ab") + 1.0)
                                 / (F.col("c_a") + F.col("v"))) * 1e6)
                  .cast("long").alias("mn")))
    docsum = (bg.join(F.broadcast(wt), ["a", "b"])
              .groupBy("doc_id", "source")
              .agg(F.sum("mn").alias("s"), F.count(F.lit(1)).alias("nbg")))
    banded = docsum.select(
        "source",
        F.floor(F.col("s") / (F.col("nbg") * _BAND_MICRONATS))
        .cast("long").alias("band"))
    return (banded.groupBy("source", "band")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("source", "band"))


_HP_SALT_D = "'hp:' || cast(doc_id as varchar)"
_HP_SALT = "concat('hp:', cast(doc_id as string))"


def _heaps_oracle() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') ws,
         {md5_mod_duck(_HP_SALT_D, 16)} AS h
  FROM documents),
lv AS (SELECT unnest(range({_HEAPS_LEVELS})) AS j),
mem AS (  -- nested hash samples: level j keeps p = 1/2^j of docs
  SELECT d.doc_id, d.ws, lv.j FROM d JOIN lv ON d.h < (16 >> lv.j)),
tg AS (
  SELECT j, doc_id,
         ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] AS tri
  FROM mem, unnest(range(greatest(len(ws) - 2, 0))) r(i)),
pts AS (
  SELECT j, cast(count(*) AS bigint) AS t,
         cast(count(DISTINCT tri) AS bigint) AS v
  FROM tg GROUP BY 1),
ll AS (
  SELECT j, t, v,
         cast(round(ln(t) * 1e6) AS bigint) AS x,
         cast(round(ln(v) * 1e6) AS bigint) AS y
  FROM pts),
s AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx,
         max(CASE WHEN j = 0 THEN t END) AS t_full,
         max(CASE WHEN j = 0 THEN v END) AS v_full
  FROM ll)
SELECT cast(n AS bigint) AS n_levels, t_full AS tokens_full,
       v_full AS vocab_full,
       round((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6) AS beta,
       round((sy * 1.0 / n - ((n * sxy - sx * sy) * 1.0
              / (n * sxx - sx * sx)) * sx / n) / 1e6, 6) AS ln_k
FROM s"""


@register(
    "heaps_law_fit",
    oracle=_heaps_oracle(),
    tags=("text", "statistics", "scale-pattern"),
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(n_levels, tokens_full, vocab_full, beta, ln_k): Heaps'-law exponent
    fitted by log-log OLS over five nested md5-hash corpus samples —
    trigram vocabulary vs token count, micro-nat bigint regression sums."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id", F.split("text", " ").alias("ws"),
                 F.expr(md5_mod_spark(_HP_SALT, 16)).alias("h")))
    lv = spark.range(_HEAPS_LEVELS).select(F.col("id").alias("j"))
    mem = d.crossJoin(F.broadcast(lv)).where(
        F.col("h") < F.expr("shiftright(16, cast(j as int))"))
    tg = (mem.select("j",
                     F.explode_outer(F.expr(
                         "case when size(ws) >= 3 then "
                         "transform(sequence(0, size(ws)-3), "
                         "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2])) "
                         "else array() end")).alias("tri"))
          .where(F.col("tri").isNotNull()))
    pts = tg.groupBy("j").agg(
        F.count(F.lit(1)).alias("t"),
        F.countDistinct("tri").alias("v"))
    ll = pts.select(
        "j", "t", "v",
        F.round(F.log("t") * 1e6).cast("long").alias("x"),
        F.round(F.log("v") * 1e6).cast("long").alias("y"))
    s = ll.agg(
        F.count(F.lit(1)).alias("n"), F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.max(F.when(F.col("j") == 0, F.col("t"))).alias("t_full"),
        F.max(F.when(F.col("j") == 0, F.col("v"))).alias("v_full"))
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0 \
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return s.select(
        F.col("n").cast("long").alias("n_levels"),
        F.col("t_full").alias("tokens_full"),
        F.col("v_full").alias("vocab_full"),
        F.round(slope, 6).alias("beta"),
        F.round((F.col("sy") * 1.0 / F.col("n")
                 - slope * F.col("sx") / F.col("n")) / 1e6, 6)
        .alias("ln_k"))
