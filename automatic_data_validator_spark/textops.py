"""Text analysis & cleaning operators.

Re-expresses the reference's text_processor.py surface (stats 80-94,
regex cleaning patterns 48-56 applied 462-548, encoding-artifact fixes
165-169/527-531, English-stopword language heuristic 171-182, chunking
355-426) as Spark column expressions — every function here returns a
Column or DataFrame built purely from ``pyspark.sql.functions``; no
Python executes per row, so the whole suite stays inside whole-stage
codegen.

Also provides the training-pipeline text ops: quality scoring and
BPE-ish token counting.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import config
from .session import local_frame


# --- basic stats (reference text_processor.py:80-94) -----------------------

def word_count(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


# --- cleaning (reference text_processor.py:48-56, 462-548) -----------------

def clean_text(col, remove: list[str] | None = None) -> Column:
    """Chained regexp_replace using the reference's exact patterns.

    remove: subset of config.TEXT_PATTERNS keys, applied in the listed
    order, then whitespace is collapsed and trimmed.
    """
    c = F.col(col) if isinstance(col, str) else col
    remove = remove or ["url", "email", "html_tag"]
    for key in remove:
        c = F.regexp_replace(c, config.TEXT_PATTERNS[key], " ")
    c = F.regexp_replace(c, config.TEXT_PATTERNS["extra_whitespace"], " ")
    return F.trim(c)


def fix_encoding_artifacts(col) -> Column:
    """Replace mojibake sequences (reference text_processor.py:527-531)."""
    c = F.col(col) if isinstance(col, str) else col
    for bad, good in config.ENCODING_ARTIFACTS.items():
        c = F.regexp_replace(c, bad, good)
    return c


def has_encoding_artifacts(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    cond = F.lit(False)
    for bad in config.ENCODING_ARTIFACTS:
        cond = cond | c.contains(bad)
    return cond


# --- language heuristic (reference text_processor.py:171-182) --------------

def _let(bound_expr, body):
    """Lambda-let: evaluate ``bound_expr`` ONCE and bind it into
    ``body`` as a HOF variable. Interpreted HOF lambdas have no
    common-subexpression elimination, so re-referencing an expensive
    expression (a split, a join) inside or across lambdas re-evaluates
    it per element/use — measured 2.7x on minhash shingles
    (dedup.word_shingles)."""
    return F.element_at(F.transform(F.array(bound_expr), body), 1)


def english_stopword_ratio(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stop = F.array(*[F.lit(w) for w in config.EN_STOPWORDS])

    def ratio_of(words):
        hits = F.size(F.filter(words, lambda w: F.array_contains(stop, w)))
        return hits.cast("double") / F.greatest(F.size(words), F.lit(1))

    return _let(F.split(F.lower(F.trim(c)), r"\s+"), ratio_of)


# --- quality scoring --------------------------------------------------------

def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc quality features: length, words, mean word length,
    punctuation ratio, stopword ratio, digit ratio, upper ratio.
    One narrow projection — no shuffle."""
    c = F.col(text_col)
    n_chars = F.length(c)
    nz = F.greatest(n_chars, F.lit(1)).cast("double")
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        word_count(c).alias("q_words"),
        (n_chars.cast("double") / F.greatest(word_count(c), F.lit(1))).alias("q_mean_word_len"),
        (
            F.length(F.regexp_replace(c, r"[^\p{Punct}]", "")).cast("double") / nz
        ).alias("q_punct_ratio"),
        english_stopword_ratio(c).alias("q_stopword_ratio"),
        (F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double") / nz).alias("q_digit_ratio"),
        (F.length(F.regexp_replace(c, r"[^A-Z]", "")).cast("double") / nz).alias("q_upper_ratio"),
    )


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Composite 0-100 quality score from the features (weights chosen
    to mirror the reference's deduction style, data_analyzer.py:457-477)."""
    feats = quality_features(df, text_col)
    score = (
        F.lit(100.0)
        - F.when(F.col("q_words") < 5, F.lit(30.0)).otherwise(F.lit(0.0))
        - F.when(F.col("q_punct_ratio") > 0.3, F.lit(20.0)).otherwise(F.lit(0.0))
        - F.when(F.col("q_digit_ratio") > 0.3, F.lit(20.0)).otherwise(F.lit(0.0))
        - F.when(F.col("q_upper_ratio") > 0.5, F.lit(10.0)).otherwise(F.lit(0.0))
        - F.when(F.col("q_mean_word_len") > 15, F.lit(20.0)).otherwise(F.lit(0.0))
    )
    return feats.withColumn("q_score", F.greatest(score, F.lit(0.0)))


# --- token counting ---------------------------------------------------------

# BPE-ish pre-tokenizer: word pieces, numbers, punctuation runs —
# approximates GPT-2-style regex splitting with RE2-compatible syntax.
_BPE_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def token_count_bpe(col) -> Column:
    """BPE-ish token count via regexp_extract_all + size (JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(_BPE_REGEX), F.lit(0)))


# --- chunking (reference text_processor.py:355-426) -------------------------

def chunk_text(col, chunk_words: int = 64, overlap_words: int = 8) -> Column:
    """Split text into overlapping word-window chunks — the reference's
    chunk_text_for_vector_db as one expression. Returns
    array<struct<id:int, text:string, length:int, n_words:int>>;
    stride = chunk_words - overlap_words."""
    c = F.col(col) if isinstance(col, str) else col
    stride = max(chunk_words - overlap_words, 1)

    def chunks_of(words):
        # words is let-bound: the split runs once per ROW, not once per
        # chunk (interpreted HOF lambdas re-evaluate captured exprs)
        n = F.size(words)
        n_chunks = F.greatest(
            F.ceil((n - F.lit(overlap_words)).cast("double") / stride).cast("int"),
            F.lit(1),
        )
        # chained transforms: the join text is also built once per chunk
        raw = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.struct(
                i.cast("int").alias("id"),
                F.array_join(F.slice(words, i * stride + 1, chunk_words), " ").alias("text"),
                F.least(n - i * stride, F.lit(chunk_words)).cast("int").alias("n_words"),
            ),
        )
        return F.transform(
            raw,
            lambda ch: F.struct(
                ch["id"].alias("id"),
                ch["text"].alias("text"),
                F.length(ch["text"]).alias("length"),
                ch["n_words"].alias("n_words"),
            ),
        )

    return _let(F.split(F.trim(c), r"\s+"), chunks_of)


def remove_stopwords(col, stopwords: list[str] | None = None) -> Column:
    """Filter stopwords out of the text (reference templates use NLTK,
    text_processor.py:489-518; same semantics, JVM-side)."""
    c = F.col(col) if isinstance(col, str) else col
    stops = F.array(*[F.lit(w) for w in (stopwords or config.EN_STOPWORDS)])
    kept = F.filter(
        F.split(F.trim(c), r"\s+"),
        lambda w: ~F.array_contains(stops, F.lower(w)),
    )
    return F.array_join(kept, " ")


def cleaning_suggestions(
    df: DataFrame, text_col: str = "text", simple: bool = False
) -> "list[dict] | list[str]":
    """Ordered cleaning suggestions composed from corpus-level signals
    (reference text_processor.py:582-643 ``get_cleaning_suggestions``;
    ``simple=True`` mirrors the plain-string variant at :184-216).

    ONE fused aggregation computes every trigger share; the reference
    analyzes a single text eagerly, so its per-text booleans become
    corpus shares here (present = share > 0; the special-character
    trigger keeps the reference's 0.1 ratio threshold as a corpus
    mean). Priority order and wording match the reference so emitted
    reports line up."""
    c = F.col(text_col)
    stripped = F.length(F.regexp_replace(c, config.TEXT_PATTERNS["special_chars"], ""))
    ln = F.length(c)
    row = df.agg(
        F.avg(c.rlike(config.TEXT_PATTERNS["html_tag"]).cast("double")).alias("html"),
        F.avg(c.rlike(config.TEXT_PATTERNS["url"]).cast("double")).alias("url"),
        F.avg(c.rlike(config.TEXT_PATTERNS["email"]).cast("double")).alias("email"),
        F.avg(
            F.when(ln > 0, (ln - stripped).cast("double") / ln).otherwise(F.lit(0.0))
        ).alias("special_ratio"),
        F.avg(c.rlike(r"\s{2,}").cast("double")).alias("ws"),
        F.avg(has_encoding_artifacts(c).cast("double")).alias("enc"),
        F.avg(
            (english_stopword_ratio(c) > config.EN_STOPWORD_RATIO).cast("double")
        ).alias("english"),
    ).collect()[0]

    def present(key: str) -> bool:
        return (row[key] or 0.0) > 0.0

    out: list[dict] = []
    if present("html"):
        out.append({
            "type": "html_removal", "priority": "high",
            "description": "Remove HTML tags from text",
            "template": "basic_cleaning",
            "impact": "Removes formatting artifacts and improves text quality",
        })
    if present("url"):
        out.append({
            "type": "url_removal", "priority": "medium",
            "description": "Remove or extract URLs",
            "template": "basic_cleaning",
            "impact": "Reduces noise and focuses on actual content",
        })
    if present("email"):
        out.append({
            "type": "email_removal", "priority": "medium",
            "description": "Remove or extract email addresses",
            "template": "basic_cleaning",
            "impact": "Reduces noise and protects PII",
        })
    if (row["special_ratio"] or 0.0) > 0.1:
        out.append({
            "type": "special_char_cleanup", "priority": "medium",
            "description": "Clean excessive special characters",
            "template": "basic_cleaning",
            "impact": "Reduces noise and focuses on actual content",
        })
    if present("enc"):
        out.append({
            "type": "encoding_fix", "priority": "high",
            "description": "Fix text encoding issues",
            "template": "document_processing",
            "impact": "Improves text readability and processing accuracy",
        })
    if (row["english"] or 0.0) > 0.5:
        out.append({
            "type": "nlp_processing", "priority": "medium",
            "description": "Apply NLP preprocessing (tokenization, "
                           "lemmatization, stop word removal)",
            "template": "advanced_nlp_cleaning",
            "impact": "Prepares text for machine learning and analysis",
        })
    if present("ws"):
        out.append({
            "type": "whitespace_normalization", "priority": "low",
            "description": "Normalize whitespace and line breaks",
            "template": "document_processing",
            "impact": "Improves text consistency and readability",
        })
    prio = {"high": 3, "medium": 2, "low": 1}
    out.sort(key=lambda s: prio[s["priority"]], reverse=True)  # stable
    if simple:
        # the plain-string variant appends its four unconditional steps
        return [s["description"] for s in out] + [
            "Convert to lowercase",
            "Remove stop words",
            "Apply lemmatization or stemming",
            "Tokenize text",
        ]
    return out


# --- before/after change report (reference text_processor.py:645-718) -------

def text_change_report(
    original: DataFrame, cleaned: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Corpus-level before/after text-change report — the distributed
    analog of the reference's per-text ``generate_text_report`` /
    ``_analyze_text_changes`` / ``_compare_text_quality``
    (text_processor.py:645-718): character/word/sentence/vocabulary
    change, removed-element counts (urls/emails/html tags), derived
    quality terms (average_chars_per_word, vocabulary_richness), and
    resolved-issue doc counts (contains_html / contains_urls /
    encoding_issues), as long-format rows
    ``(metric, before, after, change)``.

    Cost model: ONE fused aggregation per side (every term is an
    algebraic sum over a narrow projection — no shuffle beyond the
    final one-row agg); the driver assembles the tiny report frame.
    NULL texts count as empty strings on both sides.
    """
    spark = original.sparkSession

    def side(df: DataFrame) -> dict:
        c = F.coalesce(F.col(text_col), F.lit(""))
        t = F.trim(c)
        words = F.split(F.trim(F.lower(c)), r"\s+")
        n_words = F.when(t == "", F.lit(0)).otherwise(F.size(words))
        n_distinct = F.when(t == "", F.lit(0)).otherwise(
            F.size(F.array_distinct(words))
        )
        n_sentences = F.size(
            F.filter(F.split(c, r"[.!?]+"), lambda s: F.trim(s) != "")
        )
        row = df.agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length(c)).alias("total_chars"),
            F.sum(n_words).alias("total_words"),
            F.sum(n_sentences).alias("total_sentences"),
            F.sum(n_distinct).alias("distinct_words"),
            F.sum(F.regexp_count(c, F.lit(config.TEXT_PATTERNS["url"]))).alias("urls"),
            F.sum(F.regexp_count(c, F.lit(config.TEXT_PATTERNS["email"]))).alias("emails"),
            F.sum(
                F.regexp_count(c, F.lit(config.TEXT_PATTERNS["html_tag"]))
            ).alias("html_tags"),
            F.sum(c.rlike(config.TEXT_PATTERNS["html_tag"]).cast("long")).alias(
                "docs_with_html"
            ),
            F.sum(c.rlike(config.TEXT_PATTERNS["url"]).cast("long")).alias(
                "docs_with_urls"
            ),
            F.sum(has_encoding_artifacts(c).cast("long")).alias(
                "docs_with_encoding_artifacts"
            ),
        ).collect()[0]
        return {k: float(row[k] or 0) for k in row.asDict()}

    b = side(original)
    a = side(cleaned)

    rows: list[tuple] = []
    for m in (
        "n_docs",
        "total_chars",
        "total_words",
        "total_sentences",
        "distinct_words",
        "urls",
        "emails",
        "html_tags",
        "docs_with_html",
        "docs_with_urls",
        "docs_with_encoding_artifacts",
    ):
        rows.append((m, b[m], a[m], a[m] - b[m]))
    # derived quality terms (reference _compare_text_quality wording)
    acw_b = b["total_chars"] / max(b["total_words"], 1.0)
    acw_a = a["total_chars"] / max(a["total_words"], 1.0)
    rows.append(("average_chars_per_word", acw_b, acw_a, acw_a - acw_b))
    vr_b = b["distinct_words"] / max(b["total_words"], 1.0)
    vr_a = a["distinct_words"] / max(a["total_words"], 1.0)
    rows.append(("vocabulary_richness", vr_b, vr_a, vr_a - vr_b))
    # reference summary terms: length_reduction + reduction_percentage
    red = b["total_chars"] - a["total_chars"]
    rows.append(("length_reduction", b["total_chars"], a["total_chars"], -red))
    pct = (red / b["total_chars"] * 100.0) if b["total_chars"] > 0 else 0.0
    rows.append(("reduction_percentage", None, None, pct))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("metric", T.StringType(), False),
            T.StructField("before", T.DoubleType(), True),
            T.StructField("after", T.DoubleType(), True),
            T.StructField("change", T.DoubleType(), True),
        ]
    )
    return local_frame(spark, rows, schema)
