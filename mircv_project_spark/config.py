"""Engine constants.

Values pinned to the reference implementation so scores/ranks are
identical:

- BM25 k1 / b:            queryProcessor/Scorer.java:13-15
- no (k1+1) numerator:    queryProcessor/Scorer.java:26-32
- TFIDF (1+log10 tf)*idf: queryProcessor/Scorer.java:41-43
- idf = log10(N/df):      model/InvertedIndex.java:166
- 64-byte term cutoff:    model/Lexicon.java:22 (TERM_DIMENSION)
- 2048-byte block test,
  block size = floor(sqrt(df)): configuration/Configuration.java:15,
  model/UncompressedPostingList.java:241-284
"""

# --- scoring (rank-identity critical) ---
BM25_K1 = 1.5
BM25_B = 0.70
BM25_ONE_MINUS_B = 0.30  # reference hardcodes 0.30, not 1-B

# --- tokenizer ---
TERM_DIMENSION = 64  # max UTF-8 bytes per token (exclusive upper bound)

# --- posting block layout ---
# The reference splits a posting list into blocks only when its
# uncompressed byte size exceeds BLOCK_THRESHOLD; block size is
# floor(sqrt(df)) postings. We keep the same structure (per-block
# max_doc_id = block-max metadata / skip pointers).
BLOCK_THRESHOLD_BYTES = 2048
POSTING_BYTES = 8  # (int docId, int tf) — reference's uncompressed width

# --- index build scale knobs ---
# groupBy(term) skew handling: terms with df above this are salted into
# range-partitioned sub-groups before the final per-term merge.
HEAVY_TERM_DF_THRESHOLD = 100_000
HEAVY_TERM_FANOUT = 64

# default number of term buckets used to partition the postings table
# (query-side pruning: a term lookup touches exactly one bucket).
POSTINGS_TERM_BUCKETS = 64

# Token budget above which aggregate_postings switches from map-side
# partial collect (fast, per-task memory grows with input) to the
# reduce-side exchange-first aggregation (memory bounded by shuffle
# partitioning).  24M tokens ~= 2M turns at the synthetic token law;
# per-task map-side state there is ~2-3 GiB across local[32], well
# inside the 32g heap get_spark gives local[32] on a 32-core, 128 GiB
# host, while an 8x (4M-turn, ~48M-token) build OOMs without the
# switch.  On a real cluster size this to executor memory:
# budget ~= executors x per-executor-heap-share / ~100 B-per-posting.
REDUCE_SIDE_AGG_TOKENS = 24_000_000
