"""Operator library. Importing this package registers every query in
redpanda_iceberg_duckdb_spark.registry.QUERIES.

Driver-verification ordering (which 50 queries the correctness gate checks
first) is NOT decided here — `__spark_entry__._VERIFY_FIRST` pins the names
that need a driver-green row this round, so import order below is purely
topical.
"""

from . import (  # noqa: F401
    trade_queries,   # reference-parity Q1-Q6 (the §2.11 contract)
    tpch,            # TPC-H core shapes
    tpch_extra,      # TPC-H joins: outer/semi/anti/multi-fact
    tpch_shapes,     # Q2/Q8/Q11/Q16/Q20/Q21/Q22 analogues
    windows,         # window-function family
    multimodal,
    scalar,
    clusters,
    dedup,
    sampling_packing,  # stratified sample / sequence packing / z-order
    contamination,     # decontamination / repetition / containment
    incremental,       # materialized-rollup delta refresh
    range_join,        # bucketed range join (no nested-loop scans)
    analytics,
    arrays,
    asof,
    cdc,
    corpus,
    sketches,
    grouping,
    text,
    lexicon,         # vocab growth / novelty / entropy / modal tokens
    profiling,       # single-scan column profile, weighted quantiles
    curation,        # mixture allocation, filter funnel, top-p, sampling
    robust,          # MAD outliers, chi-square independence
    scale_patterns,  # two-phase distinct, runtime filters, ntile, Benford
    skewed,          # hot-key join correctness query (AQE skew regime)
    udtf_ops,        # Python UDTF surface (Spark 4 LATERAL table functions)
    integrity,       # order-independent XOR table checksums
    replay,          # St5 dead-letter split replayed batch-side (driver-visible)
    maintenance_audit,  # snapshot-retention keep/expire semantics
    stream_replay,   # St4 watermark-drop + keyed-TTL-dedup batch replays
    spans,           # exact shared-substring spans (arXiv:2107.06499)
    merge_replay,    # MERGE upsert / SCD2 / outer interval join replays
    ranking,         # BM25 retrieval + inverted-index postings
    content_chunking,  # content-defined (rolling-hash) chunk boundaries
    setsim,          # exact set-similarity join via prefix filtering
    frontier,        # Pareto-frontier skyline via bucket-prune-verify
    exact_stats,     # exact percentiles, token entropy, string_agg, pivot
    temporal8,       # native session_window, interval islands, forward asof
    scale8,          # two-phase row ids, RANGE frames, equi-depth bins
    bpe_train,       # iterative BPE merge learning (ACL 2016)
    incremental_dedup,  # new-batch-vs-corpus LSH dedup (no old x old work)
    bootstrap_stats,  # Poisson-bootstrap CIs as weight columns, one pass
    minhash_audit,   # signature-agreement Jaccard estimate vs exact
    genparity,       # seeded-generator parity vs committed snapshot (F9/F8)
    pipeline_audit,  # split-leakage near-dup audit + embedding dim stats
    training_order,  # deterministic epoch shuffle (two-phase hash ranks)
    layout9,         # file-skipping audit: natural vs z-order layouts
    sketches9,       # mergeable sliding-window HLL (register-wise max)
    coverage9,       # greedy max-coverage data selection (submodular)
    experiment_stats,  # CUPED variance-reduced A/B readout (WSDM 2013)
    ivm,             # join-delta incremental view maintenance (SIGMOD 1986)
    pca_power,       # Gramian sufficient-stats PCA + power iteration
    ablation,        # leave-one-source-out metric deltas, one scan
    seqmine,         # first-occurrence precedence support pairs
    quantile_norm,   # pooled-order-statistic quantile normalization
    target_encoding,  # out-of-fold smoothed target encoding
    auc_eval,        # exact Mann-Whitney AUC, two-phase ranks
    survival,        # Kaplan-Meier product-limit curve
    offpolicy,       # IPS/SNIPS counterfactual policy value
    data_quality,    # one-pass Deequ-style constraint suite
    ivm_stream,      # recurring IVM refresh through the foreachBatch sink
    preference10,    # Bradley-Terry preference strengths (MM iteration)
    domain10,        # DSIR hashed-ngram importance weights, top-k select
    calibration10,   # ECE reliability bins + Cohen's kappa agreement
    cooccur10,       # adjacent-token PMI collocations (row-local bigrams)
    concentration10,  # Gini (two-phase ranks) + per-nation HHI
    mixture10,       # stratified K-fold + token-budget mixture selection
    markov10,        # event-type transition chain stationary distribution
    jackknife10,     # delete-one-bucket jackknife SE for ratio metrics
    drift10,         # PSI batch drift + categorical mutual information
    cdcdiff10,       # snapshot diff -> insert/update/delete changelog
    experiment10,    # difference-in-differences + Qini uplift deciles
    valuation10,     # exact 3-group Shapley data valuation
    sampling10b,     # Neyman allocation, exact largest-remainder split
    attribution10,   # U-shaped multi-touch attribution, integer credits
    dedup10b,        # sorted-neighborhood blocking graded by rank distance
    recsys10,        # item-item CF cosine neighbors, capped baskets
    basket10,        # Apriori brand pairs + interval sweep-line concurrency
    nblm10,          # integer-lattice NB confusion, bigram surprisal, Heaps
    conformal10,     # exact split-conformal intervals + coverage audit
    sketches10,      # AMS tug-of-war F2 sketch vs exact self-join size
    privacy10,       # t-closeness ordered-EMD audit (k-anon/l-div trio)
    mixture10b,      # alpha=1/2 temperature mixture, exact apportionment
    sprt10,          # Wald SPRT sequential decision on micro-nat lattice
    shard10,         # rendezvous-hashing shard audit (minimal disruption)
    sprt_stream,     # SPRT gate maintained across streaming micro-batches
    ranking11,       # Rocchio feedback + tokenizer fertility by lang
    eval11,          # decision stump, pinball loss, Fano, Davies-Bouldin
    text11,          # inter-source unigram KL divergence matrix
    features11,      # rolling-origin CV folds + WoE/IV binning
    substring_dedup,  # per-doc duplicated-span stats + removal cut-list
    state_metrics,   # streaming state-store size accounting (watermark)
    repetition12,    # Gopher repetition signals + intra-doc spans
    metrics12,       # degree assortativity + one-pass closed-form OLS
    events12,        # ordered funnel + exact time-decayed engagement
    fuzzy12,         # blocked Levenshtein fuzzy matching (ER join)
    er12,            # ER clusters: fuzzy edges -> transitive closure
    evalrank12,      # average precision via two-phase (no-global-sort) ranks
    features12,      # hashing-trick collision audit (bucket-load histogram)
    privacy12,       # Laplace-mechanism DP counts on the micro-nat lattice
    lm12,            # bigram-LM perplexity quality filter (micro-nats)
    richness12,      # Chao1 + Good-Turing from frequency-of-frequencies
    survival12,      # Nelson-Aalen cumulative hazard (nano lattice)
    corr12,          # one-pass Pearson correlation matrix (exact moments)
    sampling12,      # skip-gram count^0.75 negative-sampling table
    ridge12,         # ridge regression via exact Cramer on one moment row
    glm12,           # logistic first Newton/IRLS step on exact moments
    circular12,      # circular time-of-day stats (trig as shared literals)
    tail12,          # Hill tail-index on the micro-nat lattice
    funnel_stream,   # incrementally-maintained ordered funnel (replay)
    infotheory12,    # Markov entropy rate on the micro-nat lattice
    lm13,            # interpolated Kneser-Ney bigram perplexity by source
    ot13,            # exact 1-D / circular Wasserstein distances
    multimodal13,    # WAV/PCM decode-and-measure (audio modality)
    cox13,           # Cox proportional hazards, Newton to convergence
    eval13,          # Brier score + Murphy decomposition (train/eval cut)
    text13,          # shared-prefix boilerplate templates (hash keys)
    sparse13,        # sparse TF-IDF cosine pairs (inverted-index dots)
    position13,      # positional profile of duplicated spans (deciles)
    qte13,           # quantile treatment effects on exact order stats
    savings13,       # dedup savings report (token budget recovered)
    novelty13,       # content-novelty curve (diminishing returns)
    logrank13,       # log-rank test (Cox's score-test companion)
    boost13,         # two-round boosted stumps on exact residual lattice
    burst13,         # token burstiness cf/df (template-spam signal)
    hapax13,         # hapax share + TTR per source (lexical richness)
    wav_ingest14,    # WAV dead-letter ingest replay (audio St5)
    robust14,        # Huber location IRLS to convergence
    multimodal14,    # frame-indexed container walk + frame sampling
    rouge14,         # ROUGE-2 multiset overlap on LSH candidate pairs
    ot14,            # sliced-Wasserstein between label embedding slices
    diversity14,     # self-BLEU-2 per source (pairwise-free clipping)
    variant14,       # Spark 4 VARIANT parse-once typed extraction
    luhn14,          # Luhn mod-10 check-digit audit (PII validator)
    tws15,           # transformWithState dedup replay (state API v2)
    sql15,           # Spark 4 SQL surfaces: pipe, collation, session_window
    sinkhorn15,      # entropic OT plan (shared generated iteration)
    rater15,         # Krippendorff alpha (missing-rating agreement)
    lm15,            # speculative acceptance + beam-search decode
    causal15,        # stratified ATT on a pre-treatment covariate
    linkage15,       # Fellegi-Sunter match/unmatch field weights
    segment15,       # unigram-LM Viterbi subword segmentation
)
from .graph import (  # noqa: F401,E402
    centrality,      # PageRank (fixed, converged, personalized), HITS, Katz
    structure,       # degree stats, projection, triangles, rich club, links
    traversal,       # BFS, double sweep, sigma, SSSP, k-core, LPA
)
from .stats import (  # noqa: F401,E402
    moments,         # ANOVA/Brown-Forsythe F, Welch, Mahalanobis, rates
    rank,            # KS, Anderson-Darling, Kruskal-Wallis, Spearman
    resampling,      # md5-seeded permutation test, BH FDR
    series,          # Ljung-Box, Page-Hinkley, Kendall, Granger, PACF
)
from .timeseries import (  # noqa: F401,E402
    regularize,      # gap fill, moving stats, EWMA, sliding distinct, M4
    forecast,        # Holt, Holt-Winters, MASE, trend/seasonal strength
    shape,           # ACF, CCF, periodogram, Haar energy, SAX, DTW
    change,          # CUSUM, binary segmentation, Theil-Sen
)
from .vectors import (  # noqa: F401,E402
    search,          # exact/IVF top-k, multiprobe, recall, MRR, NDCG, MMR
    quantization,    # k-means step + training, PQ audits, ADC recall, JL
    mining,          # LSH near-dups, mutual NN, hard negatives, SemDeDup
    clustering,      # silhouette, MMD, medoids, CKA, DBSCAN, k-center
)
