"""Vector search, quantization and clustering over ``embeddings``
(vec_id, 64 float32 dims, label), grouped by domain:

- ``kernels``: the shared pieces: norms and dots on the 1e12 lattice,
  the broadcast query block, ranked top-k, the exact-vs-cell top-k pair
  behind every recall query, the 1e4 quantization, and the oracle CTEs
  that compute the same values in DuckDB;
- ``lloyd``: one Lloyd trainer for k-means (1 subspace of 64 dims) and
  product quantization (8 subspaces of 8), the nearest-sub-centroid
  encoder, the codebook literal and the trainers' recursive oracle CTEs;
- ``search``: exact and IVF top-k, multiprobe, recall, MRR, NDCG, the
  Matryoshka prefix curve and MMR diversification;
- ``quantization``: the k-means step and training, the label-cell and
  trained PQ audits, ADC recall, the JL projection;
- ``mining``: near-duplicate pairs (sign and hyperplane LSH), mutual
  nearest neighbours, hard negatives, SemDeDup;
- ``clustering``: silhouette, MMD, medoids, CKA, DBSCAN labels,
  k-center seeds.

Every query is checked exactly against a DuckDB oracle, so each keeps
the float operations both engines see identical. The lattices:

- **Dots, 1e12.** Every product of two float32 values is exact in
  float64; ``floor(x * y * 1e12)`` is then an exact int64 and integer sums
  are order-free, so Spark's JVM fold, numpy and DuckDB give the same dot
  and norm. Cosine is ``dot / (|a| * |b|)`` (the scales cancel), ranked on
  its 6-dp rounding with the candidate id as tiebreak.
- **Quantization, 1e4.** Centroid distances use ``qv = floor(x * 1e4)``
  and a cell's coordinate sums ``s``: ``sum_k (qv_k * n - s_k)^2 / n^2``
  is an exact integer over one double division, compared with ties to
  the smallest code. The sum rides int64 while
  ``sum_k (q_max * n + |s_k|)^2`` stays under ``lloyd.INT64_BOUND``, and
  ``decimal(38,0)`` (DuckDB ``hugeint``) past it.
- **Distortion, 1e6.** A squared error to be summed is carried as the
  fixed point ``floor(d_int * 1e6 / n^2)``, so sums are integer adds and
  the reported mean is one final division.

**The query block.** Exact references score a gate-bounded probe set
(``vec_id % 100 = 0 AND vec_id < 6400``: at most 64 rows at any corpus
size) against every candidate. The block is collected when the frame is
BUILT, a bounded Spark job at plan-build time, and rides a cached
broadcast into one Arrow pass over the candidate scan, so each candidate
embedding crosses the Python boundary once.
"""
