"""BPE tokenizer TRAINING as a distributed query: the iterative
merge-learning loop (count adjacent pairs -> adopt the most frequent pair
as a new token -> rewrite the corpus -> repeat) run for a fixed number of
merges, returning the learned merge table itself. This is the actual
algorithm behind GPT-style tokenizers (Sennrich et al., "Neural Machine
Translation of Rare Words with Subword Units", ACL 2016), at word
granularity over the documents corpus — extending lexicon.py's
`bpe_pair_frequencies` (one counting pass) to the full training loop.

Determinism (what makes an iterative text-rewriting algorithm
oracle-checkable):
- Pair selection is (count DESC, left ASC, right ASC) — total order, no
  float anywhere.
- The corpus rewrite is `replace(enc, '<l> <r>', '<merged>')`, and BOTH
  engines' replace() scans left-to-right consuming non-overlapping
  matches — exactly greedy BPE application semantics ('a a a' merges to
  ['a@a', 'a'], never ['a', 'a@a'] or ['a@a', 'a@a']); verified
  empirically for DuckDB and pinned for Spark by the planted test.
- Tokens travel wrapped in \\x01 markers ('\\x01tok\\x01'), so a pair
  pattern can never match inside a longer token and merged tokens are
  single units for later rounds.

Scale stance (100 TB):
- Per merge round: ONE shuffle (the pair-count aggregate, map-side
  combinable), a TakeOrdered(1) for the argmax, ONE scalar row to the
  driver (the chosen pair — the clusters.py/graphrank.py loop
  discipline), and a map-side rewrite of the corpus. The corpus is
  re-derived by replay of the merge prefix rather than persisted — at
  real scale you would localCheckpoint the encoded corpus each round
  (same trade the LSH band table makes); here the rewrite chain is 10
  string ops deep, well inside codegen territory, so replay is cheaper
  than materializing 10 corpus copies.
- Production BPE trainers keep (word, count) aggregates instead of raw
  docs once words repeat; that collapse is exactly `dedup_exact_groups`
  composed in front — the loop body is unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..cache import cached, data_fingerprint
from ..registry import register
from ..tables import load_table

_N_MERGES = 10
_M = "\x01"          # token boundary marker
_C = "@"             # merge connector (display only)


def _merge_ctes() -> str:
    """The unrolled training chain e0..e{_N_MERGES} / b1..b{_N_MERGES},
    shared by the merge-table oracle and the encode-stats oracle."""
    ctes = [f"""
e0 AS (SELECT doc_id,
              chr(1) || replace(text, ' ', chr(1) || ' ' || chr(1))
                     || chr(1) AS enc
       FROM documents)"""]
    for t in range(1, _N_MERGES + 1):
        ctes.append(f"""
p{t} AS (SELECT a[i] AS l, a[i + 1] AS r, count(*) AS c
        FROM (SELECT string_split(enc, ' ') AS a FROM e{t-1}) s,
             unnest(generate_series(1, array_length(s.a) - 1)) AS g(i)
        GROUP BY 1, 2),
b{t} AS (SELECT l, r, c FROM p{t} ORDER BY c DESC, l, r LIMIT 1),
e{t} AS (SELECT doc_id,
               replace(enc, b.l || ' ' || b.r,
                       chr(1) || substr(b.l, 2, length(b.l) - 2) || '{_C}'
                              || substr(b.r, 2, length(b.r) - 2) || chr(1))
                 AS enc
        FROM e{t-1}, b{t} b)""")
    return ",".join(ctes)


def _oracle() -> str:
    finals = "\nUNION ALL\n".join(
        f"SELECT {t} AS merge_rank, substr(l, 2, length(l) - 2) AS left_tok,"
        f" substr(r, 2, length(r) - 2) AS right_tok,"
        f" cast(c AS bigint) AS pair_count FROM b{t}"
        for t in range(1, _N_MERGES + 1))
    return f"WITH {_merge_ctes()}\n{finals}\nORDER BY merge_rank"


@register(
    "bpe_train_merges",
    oracle=_oracle(),
    tags=("text", "tokenizer", "iterative"),
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first {_N_MERGES} BPE merges over the documents corpus;
    returns the merge table (rank, left, right, pair count at adoption
    time) — module docstring has the determinism and scale analysis. The
    oracle unrolls the identical loop, so a green row proves every
    round's pair counts, argmax tie-breaks, and greedy rewrites agree."""
    rows = [(t, l[1:-1], r[1:-1], c)
            for t, l, r, c in _train(spark, sf_dir)]
    return spark.createDataFrame(
        rows, "merge_rank int, left_tok string, right_tok string, "
              "pair_count long").orderBy("merge_rank")


_WRAP = ("concat(char(1), replace(text, ' ', concat(char(1), ' ', char(1))),"
         " char(1))")


def _train(spark: SparkSession, sf_dir: str, *,
           unique_weighted: bool = False) -> list[tuple[int, str, str, int]]:
    """Run the merge-learning loop; returns [(rank, marked_l, marked_r,
    count)] with tokens still wrapped in \x01 markers. Memoized per
    (dataset, granularity) in cache.py: the apply pass (bpe_encode_stats)
    and both train queries share the merge table, so retraining per
    invocation re-paid the 10-round driver-synchronized loop every call.

    unique_weighted=True trains at (unique text, multiplicity)
    granularity — the representation real BPE trainers use (Sennrich ACL
    2016 keeps a word->count dict, not the raw corpus): exact-duplicate
    texts collapse to ONE row carrying their count, pair counts become
    multiplicity-weighted sums, and the per-round rewrite cost drops from
    corpus size to distinct-text vocabulary size. The learned merge table
    is IDENTICAL by construction (sum of mult over collapsed rows = the
    per-row count)."""
    def build() -> list[tuple[int, str, str, int]]:
        d = load_table(spark, sf_dir, "documents")
        if unique_weighted:
            enc = (d.groupBy("text").agg(F.count(F.lit(1)).alias("mult"))
                   .select(F.expr(_WRAP).alias("enc"), "mult"))
        else:
            enc = d.select(F.expr(_WRAP).alias("enc"),
                           F.lit(1).alias("mult"))
        return _train_encoded(enc)

    return cached(spark, ("bpe_merges", data_fingerprint(sf_dir, "documents"),
                          unique_weighted), build)


def _train_encoded(enc: DataFrame) -> list[tuple[int, str, str, int]]:
    """Merge-learning over an (enc, mult) frame (see _train)."""
    merges = []
    for t in range(1, _N_MERGES + 1):
        # The token array is materialized in its OWN select below the
        # explode: fused into one select, the analyzer parks the
        # projection above the Generate and split() re-evaluates once
        # per EXPLODED pair — O(len^2) splitting per row (the
        # quantizer_train PLAN TRAP, same fix).
        # r15 optimization (guide §4.1 "prefer built-ins over lambda
        # HOFs"): adjacent pairs come from
        # arrays_zip(tk[0:n-1], tk[1:n]) instead of the
        # transform(sequence(...), i -> struct(...)) lambda — Spark HOFs
        # are CodegenFallback and evaluate the lambda per element
        # interpreted (the r11 lesson), while slice+arrays_zip run on
        # the whole array. A single-token doc yields slice(tk, 1, 0) =
        # [] on both sides, so the old size(tk) < 2 guard is subsumed
        # (Spark's sequence(1, 0)-counts-DOWN trap no longer applies).
        # Identical (l, r, count) multiset verified against the HOF
        # shape on the real corpus; measured 0.67 -> 0.38 s per pair
        # pass at sf0.1 warm.
        pairs = (enc.select("mult", F.split("enc", " ").alias("tk"))
                 .select("mult", F.explode(F.arrays_zip(
                     F.slice("tk", 1, F.size("tk") - 1),
                     F.slice("tk", 2, F.size("tk") - 1))).alias("p"))
            .select("mult", F.col("p.0").alias("l"),
                    F.col("p.1").alias("r"))
            .groupBy("l", "r").agg(F.sum("mult").alias("c")))
        best_rows = pairs.orderBy(F.desc("c"), "l", "r").limit(1).collect()
        if not best_rows:      # corpus fully merged before _N_MERGES
            break
        best = best_rows[0]
        merges.append((t, best["l"], best["r"], int(best["c"])))
        pat = f"{best['l']} {best['r']}"
        inner_l = best["l"][1:-1]
        inner_r = best["r"][1:-1]
        rep = f"{_M}{inner_l}{_C}{inner_r}{_M}"
        enc = enc.select(
            F.expr(f"replace(enc, {_sql_str(pat)}, {_sql_str(rep)})")
            .alias("enc"), "mult")
    return merges


@register(
    "bpe_train_merges_wordcount",
    oracle=_oracle(),
    tags=("text", "tokenizer", "iterative", "scale-pattern"),
)
def bpe_train_merges_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merge-learning loop at (unique text, multiplicity) granularity
    (round-8 verdict item 7) — production BPE's representation: collapse
    exact-duplicate texts to one weighted row BEFORE the loop (the
    dedup_exact_groups hash-agg composed in front), count pairs as
    mult-weighted sums, rewrite only distinct texts. At 100 TB this is
    the difference between rewriting the corpus 10x and rewriting the
    vocabulary 10x. The oracle is IDENTICAL to bpe_train_merges' unrolled
    per-document chain, so a green row proves the collapsed loop learns
    the exact same merge table with the exact same adoption counts —
    agreement with the plain variant is checked through the shared
    oracle, and on planted duplicate-heavy corpora by
    tests/test_round9_ops.py."""
    rows = [(t, l[1:-1], r[1:-1], c)
            for t, l, r, c in _train(spark, sf_dir, unique_weighted=True)]
    return spark.createDataFrame(
        rows, "merge_rank int, left_tok string, right_tok string, "
              "pair_count long").orderBy("merge_rank")


def _sql_str(s: str) -> str:
    """SQL string literal for text that may contain the \\x01 marker."""
    body = s.replace("\\", "\\\\").replace("'", "\\'")
    return "'" + body.replace("\x01", "' || char(1) || '") + "'"


@register(
    "bpe_encode_stats",
    oracle=f"""
WITH {_merge_ctes()},
before AS (SELECT doc_id, array_length(string_split(enc, ' ')) AS n
           FROM e0),
after AS (SELECT doc_id, array_length(string_split(enc, ' ')) AS n
          FROM e{_N_MERGES})
SELECT d.source,
       cast(count(*) AS bigint) AS n_docs,
       cast(sum(b.n) AS bigint) AS tokens_before,
       cast(sum(a.n) AS bigint) AS tokens_after,
       round(sum(a.n) * 1.0 / sum(b.n), 6) AS compression
FROM documents d
JOIN before b ON b.doc_id = d.doc_id
JOIN after a ON a.doc_id = d.doc_id
GROUP BY d.source ORDER BY d.source""",
    tags=("text", "tokenizer", "iterative"),
)
def bpe_encode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY pass of the trained tokenizer: run the {_N_MERGES}-merge
    loop, then measure per-source token counts before/after encoding —
    the compression-ratio check a tokenizer-training pipeline reads to
    decide whether the vocabulary fits the corpus (templated sources
    compress hardest; diverse sources barely move — read next to
    entropy_by_source). Encoding itself is the chain of greedy replaces,
    pure map-side; the measurement is one aggregate."""
    d = load_table(spark, sf_dir, "documents")
    enc0 = d.select("doc_id", "source", F.expr(
        "concat(char(1), replace(text, ' ', concat(char(1), ' ', char(1))),"
        " char(1))").alias("enc"))
    merges = _train(spark, sf_dir)
    enc = enc0.withColumn("nb", F.size(F.split("enc", " ")))
    for _, l, r, _c in merges:
        pat = f"{l} {r}"
        rep = f"{_M}{l[1:-1]}{_C}{r[1:-1]}{_M}"
        enc = enc.withColumn("enc", F.expr(
            f"replace(enc, {_sql_str(pat)}, {_sql_str(rep)})"))
    sizes = enc.select(
        "source", "nb", F.size(F.split("enc", " ")).alias("na"))
    return (sizes.groupBy("source")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("nb").cast("bigint").alias("tokens_before"),
                 F.sum("na").cast("bigint").alias("tokens_after"),
                 F.round(F.sum("na") / F.sum("nb"), 6).alias("compression"))
            .orderBy("source"))
