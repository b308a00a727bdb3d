"""Shared constants for the paired Spark-query / DuckDB-oracle contract.

Every operator exposed through ``__spark_entry__.queries()`` has an ANSI-SQL
twin in ``oracle_sql()``; both sides interpolate the SAME pattern/threshold
constants from this module so the contract can never drift silently.

Cross-engine notes (verified in-sandbox, PySpark 4.1.2 vs DuckDB):
  * regexes: Java util.regex vs RE2 — patterns below restrict themselves to
    the common subset (``\\s \\d \\b`` char classes, ``(?i)``, no backrefs);
  * ``round(x, n)``: both round half-away-from-zero for doubles;
  * ``ascii``: both return the full unicode codepoint;
  * ``split(s, '')`` / ``string_split(s, '')``: both yield per-character;
  * ``trim``: both strip ASCII space only (Python ``str.strip`` strips all
    whitespace — a documented divergence of the SQL surface; the Arrow-UDF
    kernels keep exact Python semantics);
  * int/int division yields double in both; bigint arithmetic is exact, so
    every ranking key is integer-ized (``*_e6`` fixed-point) before compare.
"""

from __future__ import annotations

# --- text cleaning (reference: src/preprocessing/text_cleaner.py:63-75,
#     pattern src/config/constants.py:21) ---
PAGE_MARKER_RE = r"(?i)-+\s*Page\s+\d+\s*-+\s*\n"
SPACE_RUN_RE = r" +"
BLANK_RUN_RE = r"\n{3,}"

# --- tokenization / text analysis ---
WS_SPLIT_RE = r"\s+"
# BPE-ish: alnum runs or single non-alnum-non-space marks
TOKEN_RE = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"
SENT_END_RE = r"[.!?]"

# language-ID stopword regexes (n-gram heuristic over function words);
# deterministic tie-break order = LANG_ORDER
LANG_STOPWORD_RE = {
    "en": r"(?i)\b(the|and|of|to|in|is|for|with)\b",
    "de": r"(?i)\b(der|die|das|und|nicht|ein|zu|mit)\b",
    "fr": r"(?i)\b(le|la|les|et|des|une|que|pour)\b",
    "es": r"(?i)\b(el|los|las|y|una|que|por|para)\b",
}
CJK_RE = r"[一-鿿]"
LANG_ORDER = ("en", "de", "fr", "es")

QUALITY_STOPWORD_RE = LANG_STOPWORD_RE["en"]

# --- hashing (polynomial rolling hash over codepoints, exact in int64) ---
HASH_MOD = 1_000_000_007
HASH_BASE = 31

# --- MinHash + LSH ---
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = 4  # MINHASH_K == LSH_BANDS * LSH_ROWS
SHINGLE_N = 3  # word n-grams
# fixed odd multipliers / offsets for the k universal hash functions
MINHASH_A = [2 * i * 1_048_583 + 1 for i in range(1, MINHASH_K + 1)]
MINHASH_B = [i * 97_911_197 % HASH_MOD for i in range(1, MINHASH_K + 1)]

# --- SimHash ---
# 24 bits: the poly hash (mod 1e9+7) carries ~30 useful bits, so bits 0..23
# are all well-mixed; 16 was too coarse on small-vocab corpora
SIMHASH_BITS = 24
SIMHASH_MAX_HAMMING = 2

# --- near-dup thresholds ---
JACCARD_THRESHOLD = 0.20
# stop-shingle pruning: shingles in more docs than this carry no dedup
# signal but cost f^2 join rows each
STOP_SHINGLE_MAX_DOCS = 10

# --- embedding / search ---
EMBED_DIM = 64
TOPK = 10
MULTI_QUERY_N = 5
MULTI_TOPK = 5
FIXED_POINT = 1_000_000  # float -> *_e6 bigint fixed point
# retrieval-quality eval: 40 queries mirrors the reference's 40-query M&A
# suite (evaluation/ma_test_queries.json), k=5 its evaluate_queries.py
# default top_k; relevance ground truth = label equality (self excluded)
RETRIEVAL_EVAL_N = 40
RETRIEVAL_EVAL_K = 5
# nDCG@k discounts, AUTHORED fixed point (the HLL_LN64_E6 precedent:
# log2 ran once at authoring time, never at query time):
# NDCG_DISC_E6[i-1] = round(1e6 / log2(i + 1)) for rank i = 1..K.
# IDCG(n_rel) = sum of the first n_rel discounts — computed by both
# engines from this same literal list, so ndcg_e6 = dcg*1e6 div idcg
# is exact-integer cross-engine.
NDCG_DISC_E6: tuple[int, ...] = (1_000_000, 630_930, 500_000, 430_677, 386_853)
assert len(NDCG_DISC_E6) == RETRIEVAL_EVAL_K
IVF_CENTROIDS = 8
IVF_PROBE = 3
# product quantization (IVFADC building block, Jégou et al. 2011): EMBED_DIM
# split into PQ_M subspaces of PQ_SUB dims, PQ_K codewords per subspace —
# codes are PQ_M small ints per vector (64x smaller than the fixed-point
# vector). Codebook stand-in = subvectors of the first PQ_K corpus vectors
# (the IVF_CENTROIDS first-N precedent; trained k-means is out of the
# determinism contract). ADC shortlist of PQ_RERANK re-ranked exactly.
PQ_M = 8
PQ_SUB = EMBED_DIM // PQ_M
PQ_K = 16
PQ_RERANK = 32
SIM_BUCKETS = ((0.8, "high"), (0.6, "medium"), (0.4, "low"))  # else "minimal"
# --- all-kNN join (every vector -> its KNN_K nearest corpus neighbors,
# IVF-blocked: candidates come only from each query's IVF_PROBE nearest
# centroid lists — the batch kNN-graph build used by kNN-LM retrieval,
# semantic-dedup graphs, and recommendation pipelines) ---
KNN_K = 5
# --- kNN label propagation (weak supervision: a seed subset carries
# trusted labels, every unlabeled vector takes the majority vote of its
# KNN_CLASSIFY_K nearest SEED neighbors inside its IVF probe set).
# Seeds = vec_id % KNN_SEED_MOD == 0 (deterministic 25% labeled split —
# a pure row function like EVAL_MOD, so it is resumable and the DuckDB
# twin replays it exactly).  Vote ties -> smaller label. ---
KNN_SEED_MOD = 4
KNN_CLASSIFY_K = 5
# graph dedup runs on RECIPROCAL nearest neighbors (mutual kNN at k=1,
# the best-buddies criterion): at k=5 the mutual graph of a near-uniform
# corpus forms a giant component (measured: 476/500 fixture docs in 6
# components), while reciprocal-NN pairs stay duplicate-selective
# (83 pairs) — k=1 is the parameter-free dedup setting, larger k is the
# retrieval-graph setting
KNN_DEDUP_K = 1
# --- MMR diversified re-ranking (Carbonell & Goldstein 1998, public):
# greedy over a relevance top-MMR_POOL shortlist, score = MMR_LAMBDA_NUM *
# rel_e12 - MMR_LAMBDA_COMP * max_sim_e12 (integer, lambda = 0.7 with the
# /10 denominator folded into both weights — no division, so no
# Spark-div-vs-DuckDB-floor seam); first pick = pure relevance
# (max_sim_e12 = 0 by contract). Ties -> smaller vec_id. ---
MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA_NUM = 7
MMR_LAMBDA_COMP = 3

# --- embedding-cosine near-dup ---
# Threshold 0.35, NOT a production 0.9: the driver embeddings are
# unit-norm randoms (max pairwise cos ~0.51 measured), so a realistic
# near-dup threshold would make the operator vacuous on driver data. The
# operators document the recall behavior at production thresholds.
EMB_NEAR_THRESHOLD = 0.35
# --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540) ---
# semantic dedup = cluster the embeddings, then inside each cluster drop
# any vector whose cosine to a BETTER cluster-mate reaches SEM_EPS
# ("better" = higher dot-to-own-centroid i.e. closer to the centroid, tie
# -> smaller vec_id — the paper keeps the example closest to the cluster
# centroid; this total order makes the keeper deterministic).  Centroids =
# first-SEM_CLUSTERS corpus vectors (the IVF_CENTROIDS stand-in precedent;
# kmeans_centroids provides the trained alternative).  0.30 is NOT a
# production ~0.95: driver embeddings are unit-norm randoms (max pairwise
# cos ~0.51), production thresholds would be vacuous on gate data.
SEM_CLUSTERS = 8
SEM_EPS = 0.30
# --- trained k-means (Lloyd) quantizer (operators/kmeans.py) ---
# init = first-KM_K vectors; KM_ITERS rounds of exact-int64-L2 assignment
# + floor(sum/count) centroid update; oracle = KM_ITERS unrolled SQL
# rounds (the PageRank unrolled-oracle precedent).
KM_K = 8
KM_ITERS = 2
# --- scalar quantization (SQ8, operators/sq.py) ---
# per-dim affine codes in [0, SQ_LEVELS]; asymmetric integer scoring,
# SQ_RERANK exact-dot re-rank (the PQ_RERANK precedent)
SQ_LEVELS = 255
SQ_RERANK = 32
# binary quantization (operators/bq.py): Hamming shortlist over the SRP
# sketch, then exact re-rank of the BQ_RERANK best (SQ_RERANK precedent)
BQ_RERANK = 32
# signed-random-projection LSH: SRP_BITS hyperplanes with deterministic
# integer components (identical in Spark and the DuckDB oracle), banded
# into SRP_BANDS equal-width bands for the candidate equi-join
SRP_BITS = 16
SRP_BANDS = 4
_SRP_MUL = 2654435761
_SRP_MOD = 1000003


def srp_hyperplanes(dim: int = 64, bits: int = SRP_BITS) -> list[list[int]]:
    """Deterministic pseudo-random integer hyperplane components — a pure
    function of (j, k) so both engines materialize identical planes."""
    return [
        [((j * dim + k) * _SRP_MUL) % _SRP_MOD - _SRP_MOD // 2 for k in range(dim)]
        for j in range(bits)
    ]


# --- bulk-delete demo list (delete_documents / cascade_delete): every
#     DELETE_EVERY-th doc id below DELETE_BOUND — one rule, four users
#     (two Spark operators + two oracle twins); the explicit bound keeps the
#     broadcast list small and the oracle EXACTLY equal at any corpus size
DELETE_EVERY = 7
DELETE_BOUND = 10_000

# --- pagination (reference: pgvector_client.py:350-377) ---
PAGE_LIMIT = 20
PAGE_OFFSET = 10

# --- search response shaping (reference: scripts/query_documents.py:127-164:
#     250-char content preview + similarity label on each hit) ---
PREVIEW_CHARS = 250

# --- driver-corpus span derivation (sources/corpus.spans_from_text) ---
# The lift from documents.text to the interleaved span schema is pure
# word-index arithmetic (fixed words per line, lines per page, figure
# cadence, one repeated footer per page) so that every STRUCTURAL count —
# lines, pages, figures, footers, their text — is exactly expressible in
# ANSI SQL. That is what lets the DuckDB oracle pair span-derived queries
# (boilerplate_flags, doc_meta, processing_report, cascade_delete) instead
# of leaving the whole span surface rows-only.
CORPUS_WORDS_PER_LINE = 4
CORPUS_LINES_PER_PAGE = 4
CORPUS_FIG_EVERY = 7  # a figure span precedes line i when i % EVERY == PHASE
CORPUS_FIG_PHASE = 3
CORPUS_FOOTER_PREFIX = "Confidential - Corp "  # + doc_id + " - page " + page

# --- driver-corpus HTML derivation (sources/htmlcorpus.html_from_text) ---
# The north rule (BASELINE.json) names "HTML boilerplate strip ... DOM
# heuristics" as part of the main-content extraction pipeline. The HTML
# fixture wraps each document's text in a deterministic page template —
# nav/header, link-list sidebar, cookie banner, share strip, footer,
# script/style/title — around content paragraphs of HTML_WORDS_PER_PARA
# words with a figure (<img>) cadence, an inline-link cadence, and an
# entity cadence. Because every structural choice is integer arithmetic on
# the word index, the EXPECTED main-content span sequence is exactly
# expressible in ANSI SQL: the extractor sees only the HTML and must strip
# exactly the boilerplate (structural tags + the link-density rule below)
# to match the oracle.
HTML_WORDS_PER_PARA = 12
HTML_IMG_EVERY = 5  # a figure precedes paragraph i when i % EVERY == PHASE
HTML_IMG_PHASE = 2
HTML_LINK_EVERY = 3  # paragraph i opens with an inline <a> when triggered
HTML_LINK_PHASE = 1
HTML_LINK_WORDS = 2  # words wrapped by the inline link (only if para longer)
HTML_AMP_EVERY = 4  # paragraph i carries an "&amp; more" entity suffix
HTML_AMP_PHASE = 0
# keep rule for non-structural blocks, integer form (no float compare):
# drop iff HTML_LD_NUM * link_chars > HTML_LD_DEN * total_chars  (ld > 1/3)
HTML_LD_NUM = 3
HTML_LD_DEN = 1
# boilerplate text-block counts emitted by the fixture template per doc —
# the report oracle reconstructs drop counts from these
HTML_NAV_ITEMS = ("Home", "Products", "Pricing", "Docs", "Blog", "Contact")
HTML_SIDEBAR_LINKS = 8
# head metadata: every page carries a canonical link (PREFIX + doc_id %
# CANONICAL_MOD for numeric ids — the modulus makes mirror pages SHARE a
# canonical, so URL-level dedup is non-vacuous); numeric doc_ids on the
# cadence below additionally carry a robots-noindex meta directive
HTML_CANONICAL_PREFIX = "https://corp.example/doc/"
HTML_CANONICAL_MOD = 97
HTML_NOINDEX_EVERY = 7
HTML_NOINDEX_PHASE = 3
# corpus-level block dedup (CCNet/RefinedWeb line-wise dedup): a main-content
# block is corpus boilerplate when its exact text recurs in >= MIN_DOCS
# DISTINCT documents — per-doc boilerplate strip can't see it (it only
# repeats across docs, never within one)
HTML_BLOCKDUP_MIN_DOCS = 2

# synthesized temporal metadata (doc_listing_full's created_at/upload_date
# and crawl_keep_latest's fetch time share ONE model — testdata carries no
# timestamps, so both derive them from doc_id by the same arithmetic,
# anchored at epoch 2024-01-01):
#   ts = SYNTH_TS_BASE + (doc_id % SYNTH_TS_DAYS) * 86400
#        + (doc_id * SYNTH_TS_MIX) % 86400
SYNTH_TS_BASE = 1704067200  # 2024-01-01T00:00:00Z (the DATE '2024-01-01' in oracles)
SYNTH_TS_DAYS = 365
SYNTH_TS_MIX = 37

# training-shard packing (operators/packing.py + its oracle): documents are
# assigned to shards by cumulative whitespace-token count in doc_id order;
# each shard targets ~PACK_TOKEN_BUDGET tokens
PACK_TOKEN_BUDGET = 1000
PACK_BAND = 4096  # docs per band of util.prefix_sums (as SPAN_BAND)
# fixed-length training-sequence packing (operators/packing.pack_sequences):
# sequence s owns global tokens [s*SEQ_LEN, (s+1)*SEQ_LEN) of the doc_id-
# ordered concatenated corpus; 2048 is the classic pretraining context
SEQ_LEN = 2048

# full-composition curation thresholds (packing.curate_corpus_full) — set
# from the measured gate-scale distributions so the filter is non-trivial
# in BOTH directions (fluency spans ~30k-77k e6, median ~34.5k; dup-passage
# coverage where present is >=90%): each threshold keeps some docs and
# drops some
CURATE_MAX_DUP_COVERAGE_E6 = 500_000
CURATE_MIN_FLUENCY_E6 = 32_000
# readability pass threshold (operators/textstats.readability flesch_e3
# >= this; ~corpus median at the gate fixtures, so the binary signal is
# informative rather than degenerate) — used by quality_agreement
READABILITY_MIN_E3 = 27_000

# deterministic stratified sampling (operators/packing.stratified_sample):
# keep a document iff md5_bits48(SAMPLE_SALT || doc_id) % 1e6 < rate_micro
# for its language stratum — a pure function of the row, so re-runs and
# the DuckDB oracle select the exact same sample.  md5 (not the poly
# hash): the keep rule needs a uniform coordinate, and base-31 poly
# hashing of short id strings has no avalanche (see packing._sample_bucket)
SAMPLE_SALT = "sample:"
# temperature-scaled source mixing (operators/packing.source_mix): the
# per-source target share is weight/sum(weight) with weight =
# floor(sqrt(n_docs) * 1000) — alpha is FIXED at 1/2 because IEEE-754
# requires sqrt (and only sqrt among the power family) to be correctly
# rounded, so floor(sqrt(n)*1000) is bit-identical across Spark and
# DuckDB; an arbitrary-alpha pow() is not, and would need fixed-point
# exp/log to stay oracle-exact.  MIX_SALT keeps the per-doc sampling
# coordinate decorrelated from stratified_sample's.
MIX_SALT = "mix:"
SAMPLE_RATES_MICRO = {"en": 500_000}  # downsample the dominant stratum
SAMPLE_DEFAULT_MICRO = 900_000
SAMPLE_MOD = 1_000_000

# DSIR importance resampling (Xie et al. 2023, public): hashed-token
# bucket model; the target distribution is the contract language slice (a
# fixture-expressible stand-in for DSIR's small quality corpus). Ratio =
# smoothed target/raw bucket frequency with the totals' constant factor
# dropped (ranking-invariant); logs banned (see the BM25 idf note), so a
# doc's weight is the arithmetic MEAN of token ratios (lm_fluency's
# documented deviation) and the selection is the paper's deterministic
# top-k variant (a Gumbel resample needs logs + an RNG).
DSIR_BUCKETS = 256
DSIR_TARGET_LANGS = ("de", "fr")
DSIR_SAMPLE_K = 100

# train/val/test assignment (operators/packing.dataset_split): bucket =
# md5_bits48(SPLIT_SALT || doc_id) % SAMPLE_MOD; val = [0, VAL), test =
# [VAL, VAL+TEST), train = the rest.  SPLIT_SALT keeps the coordinate
# decorrelated from the sampling and mixing coordinates — the same doc
# must be able to be sampled out, mixed up, and still split uniformly.
SPLIT_SALT = "split:"
SPLIT_VAL_MICRO = 10_000   # 1%
SPLIT_TEST_MICRO = 10_000  # 1%

# quality-classifier stub (operators/classifier.py): per-token weight =
# md5_bits48(CLS_SALT || token) % (2*CLS_W + 1), kept UNSHIFTED
# (non-negative) through the per-doc mean so Spark `div` == DuckDB `//`
# (negative integer division is a cross-engine hazard); the symmetric
# [-CLS_W, CLS_W] score materializes as mean - CLS_W AFTER the division.
# label = 'keep' iff score_e6 >= CLS_THRESH_E6.  The keep RATE is
# corpus-dependent (a doc's mean weight is dominated by the corpus's
# common tokens, which are shared across docs — the testdata corpus keeps
# ~4%): the threshold is a model parameter, tuned per deployment like any
# classifier cutoff; both labels are populated at every gate scale.
CLS_SALT = "cls:"
CLS_W = 1_000_000
CLS_THRESH_E6 = 0

# eval-set contamination check (operators/dedup.contamination_check):
# the held-out split is doc_id % EVAL_MOD == EVAL_RESIDUE (a pure row
# function — the same split reproduces everywhere); a training doc is
# flagged when > CONTAM_MICRO/1e6 of its distinct shingles appear in the
# eval split's shingle set
EVAL_MOD = 20
EVAL_RESIDUE = 7
CONTAM_MICRO = 200_000  # 20%

VOCAB_TOPK = 100  # global vocabulary report size

# BPE tokenizer (operators/bpe.py) — trained byte-pair merges over the
# lowercase whitespace word stream (the _words token contract).  Each merged
# token is represented by ONE private-use codepoint (chr(BPE_MARKER_BASE+t)
# for round t), which makes greedy left-to-right merge application equal to
# plain string replace() in BOTH engines — the whole train loop unrolls to
# ANSI SQL (the kmeans/PageRank unrolled-oracle precedent).  The marker
# range is reserved: corpus words containing it are excluded from training
# (the sentencepiece reserved-byte convention).
BPE_ROUNDS = 8
BPE_MARKER_BASE = 0xE000  # U+E000.. private use area

# PII redaction (operators/textstats.redact_pii) — injected-then-redacted
# like clean_text's marked_raw, since the synthetic corpus carries no PII
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_URL_RE = r"https?://[^\s]+"
PII_EMAIL_TOKEN = "[EMAIL]"
PII_URL_TOKEN = "[URL]"

HIST_BIN_CHARS = 200  # doc-length histogram bin width (chars)

# --- full-text (BM25) keyword search (operators/fulltext.py) ---
# Query sets are fixed lowercase whitespace tokens (the corpus is already a
# clean token stream); q_id 3 includes a term absent from any corpus ('
# nosuchtoken') to exercise the df=0 / idf-cap path.
FTS_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("table", "scan", "fast"),
    1: ("window", "agg", "group"),
    2: ("customer", "merge", "join"),
    3: ("vector", "hash", "nosuchtoken"),
}
FTS_TOPK = 10
# BM25 parameters k1=1.2, b=0.75 — appear in the scoring twins as the exact
# integer fractions 22/10 (k1+1), 3/10 (k1(1-b)), 9/10 (k1*b).  The idf is
# the LOG-FREE Robertson argument (2N-2df+1)/(2df+1) == (N-df+0.5)/(df+0.5):
# per-term it is order-equivalent to ln-idf (strictly decreasing in df), and
# it keeps the whole score exact int64 arithmetic — ln() is libm-dependent
# and last-ulp-divergent between the JVM and DuckDB, which would break the
# value-hash gate.  Saturation caps keep every intermediate in int64 even
# for df=1 at 10^12 docs (idf cap) and a 10^6-token whale with a
# query-term-only vocabulary (tf cap; the BM25 tf component is within 0.01%%
# of its k1+1 asymptote by tf=10^4 anyway).
FTS_TF_CAP = 10_000
FTS_IDF_CAP_E6 = 50_000_000

# Positional phrase queries (operators/fulltext.fts_phrase_topk): ordered
# token tuples matched by exact adjacency.  q_id 2 is a 3-gram rare enough
# to vanish at some scales (0 hits at sf0.01 — the honest answer), q_id 3
# contains a corpus-absent token so the phrase can never match.
FTS_PHRASES: dict[int, tuple[str, ...]] = {
    0: ("table", "scan"),
    1: ("value", "table"),
    2: ("agg", "window", "group"),
    3: ("table", "nosuchtoken"),
}

# per-doc keyword extraction (operators/fulltext.tfidf_topk_terms): top-K
# terms by tfidf_e6 = capped idf_e6 * capped tf (int64 bound: 5e7 * 1e4 =
# 5e11).  Rank ties break on token ASC.
TFIDF_TOPK = 5

# --- repetition metrics + duplicated-passage detection (operators/repetition.py) ---
# Gopher-style profile: n in (2,3,4) reads as "top n-gram char fraction",
# n in (5,8) as "duplicated n-gram char fraction" — one long-format row per
# (doc, n), both fractions emitted for every n (the reader picks its column
# per Gopher's thresholds).  Fractions are capped at 1e6 (overlapping
# occurrences can cover more chars than the doc holds).
REP_NS: tuple[int, ...] = (2, 3, 4, 5, 8)
# word-shingle width for cross-doc duplicated-passage detection (Lee et al.
# use 50 BPE tokens on web corpora; the synthetic corpus' docs are 20-130
# words, so 8 keeps the detector sensitive while still far above chance
# collision for the ~40-word vocabulary: 40^8 >> corpus shingle count)
DUP_PASSAGE_K = 8

# --- winnowing fingerprints (operators/winnow.py; Schleimer/Wilkerson/
#     Aiken 2003, SIGMOD — public) ---
# Word-level k-gram winnowing: window of WINNOW_W consecutive gram hashes,
# select the minimum (rightmost occurrence on ties — min over the
# (hash, -pos) pair), dedup selections.  Detection guarantee: any shared
# word run of length >= WINNOW_W + WINNOW_K - 1 = 8 words yields at least
# one shared fingerprint — the same 8-word sensitivity as DUP_PASSAGE_K.
# Gram hash contract: the polynomial fold of the K WORD hashes,
# ((wh1*B + wh2)%M ... ), NOT poly_hash of the joined gram string — word
# hashes are computed once per DISTINCT word and the fold is pure codegen
# arithmetic (the dsir lesson: never run the interpreted per-char fold
# once per token occurrence).
WINNOW_K = 4
WINNOW_W = 5
# fingerprints seen in more than this many docs are boilerplate-grade and
# pruned before the pair join (the STOP_SHINGLE_MAX_DOCS device)
WINNOW_MAX_DF = 10
WINNOW_MIN_SHARED = 2  # report pairs sharing at least this many fingerprints

# --- full Gopher quality-rule verdict (operators/gopher.py; Rae et al. 2021
#     appendix A1.1, public) ---
# All rules are exact-integer: fractions are *_e6 fixed-point with
# greatest(denominator, 1) guards; mean word length is *_e2.  Word counts
# are the SUM of per-line whitespace splits (lines = '\n' splits with
# blank-after-trim lines dropped) — identical to a whole-text \s+ split
# because words cannot span newlines.  Duplicate-line fractions follow the
# repetition_metrics convention: cnt >= 2 counts ALL occurrences of a
# duplicated line.  A doc with no non-empty line emits no row (both
# engines drop it identically).
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_WORD_LEN_E2 = 300  # mean chars/word in [3, 10]
GOPHER_MAX_WORD_LEN_E2 = 1000
GOPHER_SYMBOL_RE = r"(?:\.\.\.|…|#)"  # hash-or-ellipsis symbols
GOPHER_SYMBOL_MAX_E6 = 100_000  # symbol-to-word ratio <= 0.1
GOPHER_BULLET_RE = r"^\s*[-*•‣▪]"
GOPHER_BULLET_MAX_E6 = 900_000  # <= 90% of lines bullet-start
GOPHER_ELLIPSIS_LINE_RE = r"(?:\.\.\.|…)\s*$"
GOPHER_ELLIPSIS_MAX_E6 = 300_000  # <= 30% of lines ellipsis-end
# a word "contains an alphabetic character" iff the maximal \S+ run holds
# at least one [A-Za-z]; counted on the raw line so the regex and the
# whitespace split agree on word boundaries
GOPHER_ALPHA_WORD_RE = r"(?:^|\s)[^A-Za-z\s]*[A-Za-z]\S*"
GOPHER_ALPHA_MIN_E6 = 800_000  # >= 80% of words contain an alpha char
GOPHER_REQ_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
# paper value: 2.  The synthetic gate vocabulary carries only "the" from
# the set (31-word DB-term corpus), so 2 would pin the rule false for every
# doc; 1 keeps the composite verdict informative at gate scale while the
# rule STRUCTURE (distinct-presence count over the published set, bitmask
# bit_or/bit_count) is unchanged — same fixture-sensitivity deviation as
# DUP_PASSAGE_K (8 vs Lee et al.'s 50).
GOPHER_MIN_REQ_STOPWORDS = 1
GOPHER_DUP_LINE_MAX_E6 = 300_000  # <= 30% of lines are duplicated
GOPHER_DUP_LINE_CHAR_MAX_E6 = 200_000  # <= 20% of chars in duplicated lines
# repetition thresholds over repetition_metrics' long rows (paper table A1;
# REP_NS carries n in (2,3,4) as top-gram rules and (5,8) as dup-gram rules)
GOPHER_TOP_NGRAM_MAX_E6 = {2: 200_000, 3: 180_000, 4: 160_000}
GOPHER_DUP_NGRAM_MAX_E6 = {5: 150_000, 8: 120_000}

# hybrid retrieval: reciprocal-rank fusion of the BM25 list and the vector
# top-k list, rrf contribution = 1e6 // (RRF_K + rank) per list (exact
# integer), candidate depth HYBRID_POOL per retriever before fusion
RRF_K = 60
HYBRID_POOL = 20

# --- link-graph PageRank (operators/graphrank.py) ---
# fixed-point integer PageRank: pr_0 = PR_SCALE for every node; each
# iteration pr'(v) = PR_BASE + (PR_DAMP_NUM * S(v)) div PR_DAMP_DEN where
# S(v) = sum over in-edges (u,v,w) of (pr(u) * w) div outw(u).  All
# quantities stay positive int64, so Spark's `div` (truncation) and
# DuckDB's `//` (floor) agree exactly and the unrolled-SQL oracle can
# value-hash the result.  Dangling mass (nodes with no out-edges) vanishes
# by construction — documented, identical on both sides.
PR_SCALE = 1_000_000
PR_DAMP_NUM = 85
PR_DAMP_DEN = 100
PR_BASE = (PR_DAMP_DEN - PR_DAMP_NUM) * PR_SCALE // PR_DAMP_DEN  # 150_000
PR_ITERS = 3

# fixed-point integer HITS (Kleinberg 1999): hub_0 = HITS_SCALE; per
# half-step auth(v) = normalize(sum_{u->v} hub(u)*n), hub(u) =
# normalize(sum_{u->v} auth(v)*n), where normalize divides by the step's
# MAX raw mass and rescales to HITS_SCALE — classic HITS L2-normalizes,
# which needs sqrt (out of contract; last-ulp-divergent across engines);
# max-normalization is the standard exact-arithmetic alternative and
# preserves each step's ranking.  int64 bound: scores <= 1e6, so a raw
# sum overflows only past 9.2e12 total in-/out-weight on ONE node.
HITS_SCALE = 1_000_000
HITS_ITERS = 2

# --- deterministic epoch shuffle (operators/packing.py epoch_shuffle):
# training data-order reproducibility — every epoch permutes the corpus
# by h = md5_bits48("epoch:<e>:" || doc_id) (the SAMPLE_SALT md5
# precedent), shard = h % EPOCH_SHARDS, position within shard = rank by
# (h, doc_id).  A resumed or re-run job reproduces the exact order from
# (doc_id, epoch) alone. ---
EPOCH_SALT = "epoch:"
EPOCH_N = 2
EPOCH_SHARDS = 8
# 48-bit hash -> 4096 hash-order bands of util.prefix_sums
EPOCH_BAND_SHIFT = 36

# --- mergeable corpus sketches (operators/sketches.py) ---
# Fixed-threshold theta sketch (the KMV/bottom-k family, Bar-Yossef et
# al. 2002; Apache DataSketches' theta with fixed p): a distinct token
# joins the sample iff md5_bits48(THETA_SALT || token) < 2^48/THETA_RATE
# — a pure per-row rule (md5, not poly_hash: the SAMPLE_SALT precedent —
# sampling needs avalanche so the keep-set is uncorrelated with token
# shape).  Intersections/Jaccards between per-source samples estimate
# the true distinct-set overlaps scaled by THETA_RATE; sketches merge by
# set union (associative), like CMS (+) and HLL (max).
THETA_SALT = "theta:"
THETA_RATE = 8
THETA_BOUND = (1 << 48) // THETA_RATE
# Count-min sketch (Cormode & Muthukrishnan 2005): CMS_D independent hash
# rows x CMS_W buckets; row hashes are poly_hash("cms{i}:" || token) %
# CMS_W.  Merging two sketches = cell-wise sum (associative), which is
# the whole point at 10^12 docs: per-partition sketches combine without
# a vocab-sized shuffle.  estimate(t) = min over rows of the t-bucket —
# ALWAYS >= the true count (one-sided error; unit-tested invariant).
CMS_D = 4
CMS_W = 256
CMS_TOPK = 20  # audit rows: top-K exact tokens vs their CMS estimates
# HyperLogLog (Flajolet 2007) over the corpus VOCABULARY, exact-integer
# variant: register j = poly_hash(token) % HLL_M; the remaining quotient
# v < HASH_MOD/HLL_M fits HLL_VBITS bits and ranks as
# HLL_VBITS - bitlength(v) + 1 (v = 0 -> HLL_VBITS + 1).  The harmonic
# mean is computed in fixed point: S = sum_j 2^(HLL_SHIFT - M_j) exactly
# in int64 (M_j <= HLL_VBITS + 1 << HLL_SHIFT), and the raw estimate is
# (HLL_ALPHA_NUM * m^2 * 2^HLL_SHIFT) div (HLL_ALPHA_DEN * S) — no
# floats, no ln, so the estimate itself value-hashes across engines.
# The standard small-range linear-counting correction needs ln() (out of
# contract); the operator reports raw + register occupancy instead and
# the unit test pins the accuracy envelope on the fixture vocab.
HLL_M = 64
HLL_VBITS = 24  # HASH_MOD / HLL_M < 2^24
HLL_SHIFT = 40
HLL_ALPHA_NUM = 709  # alpha_64 = 0.709 (Flajolet Fig. 3)
HLL_ALPHA_DEN = 1000
# Flajolet's small-range correction est = m * ln(m / V) (V = empty
# registers) applies when est_raw < 5m/2 and V > 0.  ln() at QUERY time
# is out of contract (libm, last-ulp-divergent) — but V has only HLL_M
# possible values, so the correction ships as an AUTHORED fixed-point
# lookup table (ln ran once, here, at authoring time; both engines
# interpolate the same literals): HLL_LN64_E6[V] = round(ln(64/V)*1e6).
HLL_SMALL_RANGE_MAX = 5 * HLL_M // 2  # 160
# Bloom filter (Bloom 1970), the membership sketch: BLOOM_BITS bits
# stored as BLOOM_BITS/BLOOM_WORD int64 words holding BLOOM_WORD bits
# each (32 bits per word keeps every mask = 1<<bit far from the int64
# sign bit, so bit_or/& agree across engines); the BLOOM_K positions of
# a key are poly_hash("bf{i}:" || key) % BLOOM_BITS.  Merge = per-word
# bitwise OR (associative, idempotent).  One-sided error: a key that
# was inserted is ALWAYS reported maybe-present (no false negatives) —
# the invariant the contamination pre-filter relies on.
# Sizing: FPR ~= (1 - e^(-K*n/BITS))^K; the fixture eval split holds
# 1.1k/1.4k/9.8k distinct shingles at sf0.001/0.01/0.1, so 65536 bits
# (a 2048-word, 16 KB broadcast) keeps FPR at 0.01%/0.02%/4.7% — sized
# for the largest fixture, and still 5 orders of magnitude smaller than
# broadcasting the shingle strings at production eval-set sizes.
BLOOM_BITS = 65536
BLOOM_WORD = 32
BLOOM_K = 3
HLL_LN64_E6: tuple[int, ...] = (
    0,  # V = 0 unused (correction requires V > 0)
    4158883, 3465736, 3060271, 2772589, 2549445, 2367124, 2212973,
    2079442, 1961659, 1856298, 1760988, 1673976, 1593934, 1519826,
    1450833, 1386294, 1325670, 1268511, 1214444, 1163151, 1114361,
    1067841, 1023389, 980829, 940007, 900787, 863046, 826679,
    791587, 757686, 724896, 693147, 662376, 632523, 603535,
    575364, 547965, 521297, 495321, 470004, 445311, 421213,
    397683, 374693, 352221, 330242, 308735, 287682, 267063,
    246860, 227057, 207639, 188591, 169899, 151550, 133531,
    115832, 98440, 81346, 64539, 48009, 31749, 15748,
    0,
)

# crawl-frontier priority (operators/graphrank.crawl_frontier): re-fetch
# priority = (pagerank * (FRONTIER_CHANGE_BASE + change_ratio_e6))
# div FRONTIER_CHANGE_BASE — a page that changed on every recrawl doubles
# its pagerank priority, a never-changing page keeps it. Positive int64
# throughout (pr <= ~PR_SCALE bound, ratio <= 1e6: product < 2^52).
FRONTIER_CHANGE_BASE = 1_000_000
# politeness scheduling (graphrank.frontier_schedule): one fetch per host
# per wave; per-host queue depth cap (bounds scheduler state AND the
# per-host window). wave = row_number over (host, priority desc, canonical).
FRONTIER_HOST_DEPTH = 16
FRONTIER_HOST_RE = "^[a-z]+://([^/]+)"

# anchor-text search (operators/fulltext.anchor_bm25_topk): BM25 over the
# per-target anchor "documents" (every anchor text pointing at a target,
# tf weighted by occurrence count). Queries mix chrome labels, corpus
# words that reach content-link texts, and an absent token (df=0 path).
ANCHOR_QUERIES: dict[int, tuple[str, ...]] = {
    0: ("more",),
    1: ("home", "pricing"),
    2: ("table", "scan", "fast"),
    3: ("accept", "nosuchanchor"),
}

# ---------------------------------------------------------------------------
# Event-stream analytics (operators/eventflow.py + the HDR sketch in
# operators/sketches.py).  The events table carries IEEE-double `value`
# and microsecond timestamps; nothing in this family ever sums doubles —
# * timestamps are exact epoch MICROSECONDS (Spark unix_micros == DuckDB
#   epoch_us; the events_rollup oracle already pins second-level epoch
#   agreement, micros is the same internal value),
# * `value` is exact 2-decimal in the fixture, so round(value*100) is an
#   exact int64 fixed-point (EVT_VALUE_E2; the fixture property is
#   asserted in tests/test_eventflow.py),
# * orderings use the (ts_us, event_id) total order encoded as the
#   fixed-width sortable string key EVT_KEY_FMT — byte-wise string
#   comparison and min() are engine-neutral, struct min is not.  Widths
#   are sized for any non-negative int64 (20 digits).
EVT_KEY_FMT = "%020d-%020d"
# as-of join (eventflow.asof_join_events): each ASOF_LEFT event picks up
# the latest STRICTLY-earlier ASOF_RIGHT event of the same user (ties on
# right ts broken by max event_id; a right event at exactly the left ts
# does NOT match — DuckDB `ASOF LEFT JOIN ... ON r.ts < l.ts` semantics).
ASOF_LEFT = "purchase"
ASOF_RIGHT = "click"
# conversion funnel (eventflow.event_funnel): ordered step chain; step k
# must be STRICTLY after the user's chosen step k-1 event in the
# (ts_us, event_id) order, each step choosing its EARLIEST admissible
# event; completion = reaching the last step within FUNNEL_HORIZON_US of
# step 1.
FUNNEL_STEPS: tuple[str, ...] = ("signup", "click", "purchase")
FUNNEL_HORIZON_US = 7 * 24 * 3600 * 1_000_000  # 7 days
# retention cohorts (eventflow.retention_cohorts): epoch-aligned weeks
# (week = floor(epoch_seconds / 604800)); cohort = week of the user's
# first event; ages tracked up to RETENTION_MAX_WEEKS.
WEEK_S = 7 * 24 * 3600
RETENTION_MAX_WEEKS = 8
# HDR-style log-bucketed quantile sketch (sketches.hdr_sketch; the
# HdrHistogram public design): for fixed-point v >= 0 with
# S = HDR_SUB_BITS,  e = max(0, bitlength(v) - S),  m = v >> e,
# bucket = e * 2^S + m  (monotone nondecreasing in v),
# lower bound lb = m << e.  Relative quantile error <= 2^-(S-1) ~ 3.1%.
# Merge of two sketches = per-(key, bucket) count SUM (associative) —
# partitions sketch independently at 10^12 rows and only ~e_max * 2^S
# summary rows per key ever move.  Quantile readout: rank r_p =
# ceil(p * n / 100), estimate = lb of the first bucket whose cumulative
# count reaches r_p; the exact audit value is computed BY COUNTING over
# the distinct-value frame (the short_outliers precedent), never by
# sorting raw rows.
HDR_SUB_BITS = 6
HDR_PCTS: tuple[int, ...] = (50, 90, 99)
# bucketized range join (eventflow.range_join): intervals explode to the
# epoch-seconds buckets they cover, points hash to exactly ONE bucket, so
# the join is a plain equi-join on (keys…, bucket) + containment filter —
# never a cross/broadcast-nested-loop product, and no post-join dedup
# (one bucket per point).  Bucket width trades interval fanout
# (ceil(len/bucket)+1 rows per interval) against per-bucket collision
# width; 1 h suits session-scale intervals.
RANGE_BUCKET_S = 3600
# hypertable rollup cascade (eventflow.rollup_hourly/rollup_cascade —
# the TimescaleDB continuous-aggregate concept): the hourly partial
# table carries ONLY columns that re-fold associatively to coarser
# grains (count/min/max/exact-int64 sum of value_e2) plus the per-group
# HLL user registers — the device that lets COUNT DISTINCT cascade
# (register max-merge over any regrouping == registers of the union
# set), with the exact count kept alongside as the audit column.
DAY_S = 24 * 3600
# hourly-rate anomaly flags (eventflow.rollup_anomalies): per event_type,
# median and MAD of the hourly event counts computed EXACTLY BY COUNTING
# over the distinct-count frame (lower median at rank ceil(n/2) — the
# deterministic contract; short_outliers precedent), flag iff
# |n - median| > ANOM_K * greatest(MAD, 1).  Plain integer MAD multiples
# (no 1.4826 normal-consistency factor — it would demand a float and buys
# nothing for thresholding).
ANOM_K = 3
# interleaved image-text pair mining (multimodal.media_pairs — the
# OBELICS/LAION-style caption-mining op over an interleaved span table):
# per media span, caption = nearest FOLLOWING non-boilerplate text span,
# context = nearest PRECEDING non-boilerplate text span (boilerplate by
# the north-rule repeated-line flag, so a page footer between a figure
# and its surrounding prose never pollutes the pair); a pair is kept for
# training when the caption holds >= MIN_WORDS whitespace words.
MM_PAIR_MIN_WORDS = 3
# UniMax language-budget allocation (packing.unimax_alloc — Chung et
# al. 2023, "UniMax: Fairer and More Effective Language Sampling",
# public): per-language capacity = n_tokens * UNIMAX_MAX_EPOCHS; the
# total training budget B = total_corpus_tokens * UNIMAX_BUDGET_E6 /
# 1e6 waterfills ascending by capacity — a language is CAPPED (gets its
# full capacity) iff cap * (L - rank + 1) <= B - sum(smaller caps), and
# once one language is uncapped every remaining one splits the leftover
# evenly (the standard waterfill closed form; the greedy min(cap,
# remaining/left) recurrence provably caps a PREFIX of the ascending
# order, so one ranked window pass computes the whole allocation).
# Integer div throughout; the division remainder goes +1 token to the
# first (R mod n_uncapped) uncapped languages in rank order so the
# allocations sum EXACTLY to B.  (lang count is bounded ~10^2-10^4, so
# the single ranked window over the per-language aggregate is safe —
# unlike sources, which can be millions: source_mix's broadcast-totals
# shape.)
UNIMAX_MAX_EPOCHS = 2
UNIMAX_BUDGET_E6 = 1_500_000  # budget = 1.5x the corpus token mass
# (2 epochs / 1.5x: with the fixture's 5-language token shares this
# caps the two smallest languages and leaves three sharing the
# leftover — both waterfill branches live under the gate)
# bucketed-batching padding-waste report (packing.pad_efficiency): each
# doc's whitespace token count rounds UP to the smallest power-of-two
# bucket in [PAD_MIN_BUCKET, PAD_MAX_LEN] (the length-bucketed batching
# every trainer runs to bound padding); docs longer than PAD_MAX_LEN
# truncate.  pad = bucket - min(n_tokens, PAD_MAX_LEN); utilization_e6
# = 1e6 * real_tokens div (real + pad).  The bucket ladder is a
# BOUNDED case chain (6 edges), identical in both engines — never a
# float log2 (misrounds at exact powers).
PAD_MIN_BUCKET = 16
PAD_MAX_LEN = 64
# (16..64 spans the fixture's 10-99-token docs: every bucket is
# populated AND the truncation branch fires; a production run would
# set 64..2048 — the ladder is the contract, not the edge values)
# C4-style line-level corpus cleaning (textstats.c4_line_stats /
# c4_clean — Raffel et al. 2020 §2.2, public): a line is KEPT iff it
# has >= C4_MIN_LINE_WORDS whitespace words AND ends in a terminal
# punctuation mark (C4_TERMINAL_RE on the line) AND does not contain
# 'javascript' (case-insensitive); a DOC is kept iff >= C4_MIN_KEPT
# lines survive AND the page contains neither 'lorem ipsum' (any case)
# nor a '{'.  The driver corpus is single-line word soup, so the
# fixture side (textstats._c4_page) lifts documents.text into a lined
# page by PURE word-index arithmetic (the htmlcorpus meet-in-the-middle
# pattern): line i = the next C4_WORDS_PER_LINE words, suffixed '.'
# unless (doc_id + i) % C4_PUNCT_EVERY == 0, prefixed the literal word
# 'javascript' when (doc_id * C4_JS_MULT + i) % C4_JS_EVERY == 0, and
# the page gains a ' lorem ipsum' / ' {' tail line on the doc_id
# cadences below — every rule fires on real fixture rows and the
# DuckDB oracle re-derives page AND verdicts from documents directly.
C4_WORDS_PER_LINE = 6
C4_MIN_LINE_WORDS = 5
C4_MIN_KEPT = 3
C4_TERMINAL_RE = r'[.!?"]$'
C4_PUNCT_EVERY = 3
C4_JS_MULT = 31
C4_JS_EVERY = 11
C4_LOREM_EVERY = 17
C4_BRACE_EVERY = 19
# greedy k-center coreset selection (kmeans.kcenter_coreset — Gonzalez
# 1985 farthest-point traversal, public; the diversity-selection step a
# data-curation pipeline runs to pick a small representative subset):
# seed = smallest vec_id, then KC_K-1 rounds of "pick the point with
# the MAX min-L2^2 distance to the chosen set" (exact int64 fixed-point
# distances, <= 64*(2e6)^2 = 2.56e14 — float64-exact too; ties -> the
# smaller vec_id; already-chosen ids excluded so a fully-duplicated
# corpus cannot loop).  Determinism makes the whole traversal a pure
# function of the corpus, replayable in SQL by unrolling KC_K rounds
# (the kmeans unrolled-oracle precedent).
KC_K = 8
# Heaps-law vocabulary-growth diagnostic (textstats.vocab_growth): at
# each doc_id threshold, the running corpus token mass and distinct
# vocabulary size — vocabulary tracked by FIRST-OCCURRENCE doc (min
# doc_id per token), so the cumulative-distinct curve needs one
# hash agg + a bounded threshold explode, never an ordered scan.
# Fixed power-of-two ladder; thresholds past the corpus end show the
# saturated totals (harmless, and the curve stays scale-comparable).
VG_THRESHOLDS: tuple[int, ...] = (64, 128, 256, 512, 1024, 2048, 4096)
# Matryoshka truncation-quality report (search.mrl_recall — Kusupati et
# al. 2022, public: MRL embeddings serve truncated prefixes at lower
# cost; before shipping a truncation a pipeline measures how much of the
# full-dim top-k the prefix preserves).  For each query (vec_id <
# MULTI_QUERY_N) and each prefix dim, brute top-TOPK by the EXACT
# integer prefix dot (prefix of the fixed-point vector; ties ->
# smaller vec_id, the standard ranking contract) and report the overlap
# with the full-dim top-TOPK as recall ppm.  The full-dim row (dim =
# EMBED_DIM, recall 1e6) stays in the output as the audit anchor.
MRL_DIMS: tuple[int, ...] = (8, 16, 32, 64)
# INVARIANT: EMBED_DIM must stay a member of MRL_DIMS — the full-dim
# frame is mrl_recall's anchor and the operator asserts this at call
# time (search.mrl_recall); change both together.
# deterministic curriculum ordering (packing.curriculum_order): docs
# ordered easiest-first by the readability flesch_e3 signal (ties ->
# doc_id), position = the exclusive count of the banded
# util.prefix_sums (as epoch_shuffle) over band = (-flesch_e3) div
# CURR_BAND_E3 (integer truncation is monotone, so the band never
# decreases along the DESC order and the within-band window handles the
# rest) — the band-offsets window runs over #bands rows, never docs.
# The oracle ranks with the PLAIN global window: an independent
# algorithm pinning the banded scan.  Zero-word docs (no readability
# row) are excluded, matching the readability operator's domain.
CURR_BAND_E3 = 10_000
# exact-count deterministic sampling (packing.exact_sample): the K docs
# with the SMALLEST 48-bit salted-md5 coordinate (ties -> doc_id) — the
# budget-exact complement to rate-based stratified_sample (a rate
# cannot hit a headcount; bottom-k-by-hash is the standard trick, and
# it is STABLE under corpus growth: a doc only leaves the sample when a
# smaller-keyed doc arrives, which is what makes it a uniform sample
# without replacement).  Plan contract: TakeOrderedAndProject
# (per-partition bottom-k + driver merge of k rows) — NEVER a global
# sort (the paginate lesson); row_number only over the collected k.
EXACT_SAMPLE_K = 100
EXACT_SAMPLE_SALT = "exact:"
