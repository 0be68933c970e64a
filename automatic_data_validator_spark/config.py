"""Engine thresholds and constants.

Mirrors the reference's semantic constants (reference: config.py:14,
38-58; data_analyzer.py thresholds) so check outputs agree; the
execution-model constants (sample caps, file-size caps) disappear —
Spark profiles the full table in one pass instead of sampling.
"""

from __future__ import annotations

# --- semantic thresholds (reference: config.py:43,56-58) -----------------
CATEGORICAL_THRESHOLD = 0.05        # unique/total below this => categorical
OUTLIER_ZSCORE_THRESHOLD = 3.0      # |x - mean| / std above this => outlier
HIGH_NULL_DROP_THRESHOLD = 0.9      # reference data_corrector.py:562-565
IMPUTE_MEDIAN_NULL_SHARE = 0.3      # median if < 30% null else mean
                                    # (reference data_corrector.py:568-577)
NUMERIC_CONVERT_THRESHOLD = 0.8     # reference schema_manager.py:112-121
DATETIME_CONVERT_THRESHOLD = 0.8    # reference data_analyzer.py:190-195
CORRELATION_THRESHOLD = 0.8         # reference data_analyzer.py:358-374
MISSING_CORRELATION_THRESHOLD = 0.5  # reference data_analyzer.py:124-137

# date formats tried in order (reference: config.py:44-53), as Spark
# datetime patterns (reference uses strptime patterns).
DATE_FORMATS: list[str] = [
    "yyyy-MM-dd",
    "MM/dd/yyyy",
    "dd/MM/yyyy",
    "yyyy-MM-dd HH:mm:ss",
    "MM/dd/yyyy HH:mm:ss",
    "dd-MM-yyyy",
    "yyyy/MM/dd",
    "dd.MM.yyyy",
]

# quality-score deductions (reference: data_analyzer.py:457-477):
# score = 100 - min(missing_pct*0.5, 20) - min(dup_pct*0.3, 15)
#             - min(outlier_pct*0.2, 10) - min(n_issues*5, 15)
# as (multiplier, cap) pairs, byte-identical to the reference.
QUALITY_WEIGHTS = {
    "missing": (0.5, 20.0),
    "duplicates": (0.3, 15.0),
    "outliers": (0.2, 10.0),
    "consistency": (5.0, 15.0),
}

# regex cleaning patterns (reference: text_processor.py:48-56)
TEXT_PATTERNS = {
    "url": r"https?://\S+|www\.\S+",
    "email": r"\b[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Z|a-z]{2,}\b",
    "phone": r"\+?1?\d{9,15}",
    "html_tag": r"<[^>]+>",
    "special_chars": r"[^A-Za-z0-9\s]",
    "extra_whitespace": r"\s+",
    "numbers": r"\b\d+\b",
}

# encoding artifacts -> replacement (reference: text_processor.py:165-169,527-531)
ENCODING_ARTIFACTS = {
    "\u00e2\u20ac\u2122": "'",      # mis-decoded right single quote
    "\u00e2\u20ac\u0153": '"',      # mis-decoded left double quote
    "\u00e2\u20ac\u009d": '"',      # mis-decoded right double quote
    "\u00e2\u20ac\u201c": "-",      # mis-decoded en dash
    "\u00c2\u00a0": " ",             # mis-decoded nbsp
    "\u00e2\u20ac": '"',             # bare truncated artifact (fallback, last)
}

# small English stopword list for the language heuristic
# (reference: text_processor.py:171-182 — ratio > 0.1 => English)
EN_STOPWORDS = [
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to",
    "for", "of", "with", "by", "is", "are", "was", "were", "be",
    "been", "it", "this", "that", "as", "from",
]
EN_STOPWORD_RATIO = 0.1

# --- scale knobs ----------------------------------------------------------
# Default salt fan-out for two-phase dedup of skewed keys. Sized so a
# single hot key spreads over this many reducers before final combine.
DEFAULT_SALT_BUCKETS = 16
# A key prefix is "hot" when its sampled share exceeds this.
HOT_PREFIX_SHARE = 0.05
# Broadcast the referential catalog when its estimated row count is
# below this (at ~64B/row this stays well under the 8GB broadcast cap).
BROADCAST_ROW_LIMIT = 5_000_000
# LSH band-buckets larger than this yield no candidate pairs: their id
# list is left empty by the bucket aggregate (a degenerate bucket —
# empty/boilerplate texts — goes quadratic: 10^6 identical docs =>
# 5*10^11 pairs from ONE bucket). neardup_dedup returns the capped
# buckets as its oversize audit.
LSH_MAX_BUCKET_SIZE = 2_000
# Connected-components pair sets at or below this edge count are solved
# driver-side with one collect + union-find instead of the iterative
# cluster loop (2 jobs/round of pure scheduling overhead at this size).
# 1M edges ≈ tens of MB of driver rows — the same order the drop-list
# broadcast already admits. 0 disables the fallback.
CC_DRIVER_EDGE_LIMIT = 1_000_000
# run_validation returns its violation rows as ONE partition (one
# output file) when their exact count, known from its phases' own
# counts, is at most this. ~1M rows of (doc_id, rule_id,
# partition_id, detail) is tens of MB of parquet — about one file's
# worth; above it the phases' own partitioning is kept.
VIOLATIONS_ONE_FILE_ROWS = 1_000_000
# accuracy for percentile_approx (1/eps); 10k => ~0.01% rank error.
PERCENTILE_ACCURACY = 10_000
# Checkpoint-registry retention (reference session_manager.py caps live
# sessions and expires them: config.py:80-81 SESSION_TIMEOUT_HOURS=24,
# MAX_SESSIONS=100).
CHECKPOINT_MAX_AGE_HOURS = 24.0
CHECKPOINT_MAX_SESSIONS = 100
