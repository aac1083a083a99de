"""§2.G — text analysis over the ``documents`` table.

LLM-data-pipeline operators (BASELINE.json north star): tokenization,
TF-IDF, language stats, a language-ID heuristic, quality scoring, token
counting, and document fingerprinting. All tokenization is JVM
``split``/HOF — per-document work with no Python row path.

Scale notes: per-document features (quality, fingerprint, token counts)
are computed with higher-order functions on the token array — zero
shuffles, embarrassingly parallel over 100 TB. Corpus-level statistics
(TF-IDF document frequencies) are partial-aggregated groupBys keyed on
the term — the classic word-count shuffle, whose reduce-side input is
bounded by vocabulary size, not corpus size.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..functions.text import ALL_STOPWORDS, STOPWORDS, tokens
from ..plans.registry import register
from ..sources.parquet import load


def _tokens_exploded(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    return d.select("doc_id", F.explode(tokens("text")).alias("term"))


@register(
    "text_tokenize_counts",
    category="text",
    oracle="""
        SELECT term, count(*) AS cnt FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
        ) WHERE term <> '' GROUP BY term
    """,
)
def text_tokenize_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token frequency — the canonical word-count (and the shape
    of the reference's hit-count [R-mem])."""
    return (
        _tokens_exploded(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@register(
    "text_tfidf_topterms",
    category="text",
    oracle="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc_id, term, count(*) AS tf
            FROM toks WHERE term <> '' GROUP BY doc_id, term
        ),
        dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
            SELECT tf.doc_id, tf.term,
                   tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS tfidf_raw,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) DESC,
                                tf.term
                   ) AS rnk
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, term, round(tfidf_raw, 6) AS tfidf, CAST(rnk AS INTEGER) AS rnk
        FROM scored WHERE rnk <= 3
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF with idf = ln(N/df); top-3 terms per document.

    N is carried as a broadcast 1-row aggregate (no driver-side
    ``collect`` — operators never act). The TF matrix is PERSISTED
    (r9, guide §2.4): the document-frequency aggregate and the scoring
    join both consume it, and without the cache the token explode +
    (doc, term) rollup planned and ran twice. Materializing the TF
    matrix is the canonical TF-IDF pipeline decision — it is the
    rolled-up token table (≈ distinct (doc, term) pairs), the same
    budget class as the dedup family's shingle substrate."""
    tf = (
        _tokens_exploded(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .cache()
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = load(spark, sf_dir, "documents").agg(F.count(F.lit(1)).alias("n_docs"))
    tfidf_raw = F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))
    w = Window.partitionBy("doc_id").orderBy(tfidf_raw.desc(), F.asc("term"))
    return (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            tfidf_raw.alias("tfidf_raw"),
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.round("tfidf_raw", 6).alias("tfidf"), "rnk")
    )


@register(
    "text_lang_stats",
    category="text",
    oracle="""
        SELECT lang, count(*) AS n_docs,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY lang
    """,
)
def text_lang_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """avg emitted as exact-int-sum / count — both engines divide the
    identical integers, so the double is bit-identical with no rounding."""
    d = load(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.sum("n_chars").alias("total_chars"),
    )


_LANG_ORDER = ("en", "fr", "es", "de", "zh")


@register(
    "text_langid_heuristic",
    category="text",
    oracle="""
        SELECT doc_id, lang, {scores},
               CASE {cases} ELSE 'und' END AS pred_lang
        FROM documents
    """.format(
        scores=", ".join(
            "CAST(len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
            f"{list(STOPWORDS[lg])})) AS INTEGER) AS s_{lg}"
            for lg in _LANG_ORDER
        ),
        cases=" ".join(
            "WHEN "
            + " AND ".join(
                f"len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
                f"{list(STOPWORDS[lg])})) >= "
                f"len(list_intersect(list_distinct(string_split(lower(text), ' ')), "
                f"{list(STOPWORDS[other])}))"
                for other in _LANG_ORDER
                if other != lg
            )
            + f" THEN '{lg}'"
            for lg in _LANG_ORDER
        ),
    ),
)
def text_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Function-word language-ID heuristic: score each language by its
    function words present, predict the argmax (ties broken by a fixed
    language priority — spelled as the same CASE chain in both engines).
    An n-gram-profile upgrade would follow the same blocked-join shape."""
    d = load(spark, sf_dir, "documents")
    # materialize distinct tokens, then scores, so the argmax CASE chain
    # compares cheap column refs instead of re-splitting text ~8× per row
    toked = d.select(
        "doc_id", "lang", F.array_distinct(tokens("text")).alias("dtoks")
    )
    scored = toked.select(
        "doc_id",
        "lang",
        *[
            F.size(
                F.array_intersect(
                    "dtoks", F.array(*[F.lit(w) for w in STOPWORDS[lg]])
                )
            ).alias(f"s_{lg}")
            for lg in _LANG_ORDER
        ],
    )
    pred = F.lit("und")
    for lg in reversed(_LANG_ORDER):
        cond = None
        for other in _LANG_ORDER:
            if other == lg:
                continue
            c = F.col(f"s_{lg}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lg).otherwise(pred)
    return scored.select(
        "doc_id",
        "lang",
        *[f"s_{lg}" for lg in _LANG_ORDER],
        pred.alias("pred_lang"),
    )


@register(
    "text_quality_score",
    category="text",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        stats AS (
            SELECT doc_id,
                   count(*) AS n_tokens,
                   count(DISTINCT term) AS n_distinct,
                   sum(length(term)) AS sum_len,
                   count(CASE WHEN term IN {ALL_STOPWORDS} THEN 1 END) AS n_stop
            FROM toks WHERE term <> '' GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               CAST(sum_len AS DOUBLE) / n_tokens AS avg_token_len,
               CAST(n_distinct AS DOUBLE) / n_tokens AS type_token_ratio,
               CAST(n_stop AS DOUBLE) / n_tokens AS stopword_ratio,
               0.5 * (CAST(n_distinct AS DOUBLE) / n_tokens)
                   + 0.3 * (1 - CAST(n_stop AS DOUBLE) / n_tokens)
                   + 0.2 * least(1.0, n_tokens / 100.0) AS quality
        FROM stats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length, lexical diversity, stopword
    ratio) + a composite score — computed with HOFs on the token array:
    no explode, no shuffle, O(doc) per doc.

    Ratios are emitted UNROUNDED: both engines divide identical integers
    and combine with the same literal weights in the same order, so the
    doubles are bit-identical (rounding would risk half-ties for
    power-of-two token counts)."""
    d = load(spark, sf_dir, "documents")
    # materialize the token array once; every feature below folds over
    # the column ref instead of re-splitting the text. Zero-token docs
    # are dropped — the oracle's unnest emits no rows for them, and
    # keeping them would divide by zero (an ANSI abort)
    toked = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") > 0
    )
    toks = F.col("toks")
    n_tokens = F.size(toks).cast("double")
    n_distinct = F.size(F.array_distinct(toks)).cast("double")
    sum_len = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast(
        "double"
    )
    n_stop = F.size(
        F.filter(toks, lambda t: t.isin(*ALL_STOPWORDS))
    ).cast("double")
    ttr = n_distinct / n_tokens
    stop_ratio = n_stop / n_tokens
    quality = (
        0.5 * ttr
        + 0.3 * (1 - stop_ratio)
        + 0.2 * F.least(F.lit(1.0), n_tokens / 100.0)
    )
    return toked.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        (sum_len / n_tokens).alias("avg_token_len"),
        ttr.alias("type_token_ratio"),
        stop_ratio.alias("stopword_ratio"),
        quality.alias("quality"),
    )


@register(
    "text_token_count",
    category="text",
    oracle="""
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha,
               CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
               CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_bpe_tokens
        FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting three ways: whitespace, regex word classes (a
    BPE-ish pre-tokenizer split), and the chars/4 BPE estimate."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0))
        .cast("bigint")
        .alias("n_alpha"),
        F.size(F.regexp_extract_all("text", F.lit("[0-9]+"), 0))
        .cast("bigint")
        .alias("n_num"),
        F.ceil(F.col("n_chars") / 4.0).alias("est_bpe_tokens"),
    )


@register(
    "text_fingerprint",
    category="text",
    oracle="""
        SELECT doc_id,
               md5(array_to_string(list_sort(list_distinct(
                   string_split(lower(text), ' '))), ' ')) AS fingerprint
        FROM documents
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-form document fingerprint (sorted distinct token bag →
    md5) — the standard clustering key for template/boilerplate
    detection in web-scale corpora."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.array_distinct(tokens("text"))))
        ).alias("fingerprint"),
    )


_POLY_B = 1000003  # polynomial base
_POLY_M = (1 << 31) - 1  # Mersenne-prime modulus: acc*B + h < 2^51, no
# overflow under ANSI mode (Spark 4 default throws on long overflow)
_WINNOW_W = 4  # winnowing window: min token-hash over 4 consecutive


@register(
    "text_rolling_fingerprint",
    category="text",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      x -> x != '')) AS term,
                   generate_subscripts(list_filter(string_split(lower(text),
                                                                ' '),
                                       x -> x != ''), 1) AS i
            FROM documents
        ),
        content AS (
            SELECT doc_id,
                   list_reduce(
                     list_prepend(CAST(0 AS BIGINT),
                       list_transform(
                         list_filter(string_split(lower(text), ' '),
                                     x -> x != ''),
                         t -> CAST(concat('0x', substring(md5(t), 1, 15))
                                   AS BIGINT) % {_POLY_M})),
                     (acc, h) -> (acc * {_POLY_B} + h) % {_POLY_M}
                   ) AS content_hash
            FROM documents
        ),
        hashed AS (
            SELECT doc_id, i,
                   CAST(concat('0x', substring(md5(term), 1, 15)) AS BIGINT)
                       AS h,
                   count(*) OVER (PARTITION BY doc_id) AS n
            FROM toks
        ),
        wmins AS (
            SELECT doc_id,
                   min(h) OVER (PARTITION BY doc_id ORDER BY i
                                ROWS BETWEEN CURRENT ROW
                                AND {_WINNOW_W - 1} FOLLOWING) AS wmin,
                   i, n
            FROM hashed
        ),
        winnow AS (
            SELECT doc_id,
                   md5(string_agg(DISTINCT wmin, ',' ORDER BY wmin))
                       AS winnow_sig
            FROM wmins WHERE i + {_WINNOW_W - 1} <= n
            GROUP BY doc_id
        )
        SELECT c.doc_id, c.content_hash,
               coalesce(w.winnow_sig, '') AS winnow_sig
        FROM content c LEFT JOIN winnow w ON c.doc_id = w.doc_id
    """,
)
def text_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive document fingerprints via rolling hashes.

    Two sketches per doc, both pure JVM:

    * ``content_hash`` — Rabin-Karp polynomial fold over the token
      sequence: ``acc = (acc*B + h) mod M`` with ``h`` the md5-portable
      60-bit token hash mod a Mersenne-prime M (md5 is the one hash
      both engines share — see dedup._mh_expr — which upgraded this
      query from rows-only to fully oracle-backed). Order-sensitive,
      so re-ordered boilerplate gets a different key than
      ``text_fingerprint``'s sorted bag.
    * ``winnow_sig`` — winnowing: hash each token once (relational
      explode), take the min hash of every ``_WINNOW_W``-token window
      (lead chain over the doc_id window partitioning — same
      single-shuffle shape as the shingle pipeline), then md5 the
      sorted distinct window minima. Local edits perturb only nearby
      windows, so near-identical docs share most winnow minima — the
      MOSS/plagiarism-detection fingerprint, here as the 100 TB-safe
      keyed pipeline."""
    d = load(spark, sf_dir, "documents")
    toked = d.select("doc_id", tokens("text").alias("toks"))
    content = toked.select(
        "doc_id",
        F.expr(
            f"aggregate(toks, 0L, (acc, t) -> "
            f"(acc * {_POLY_B}L + "
            f"CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT)"
            f" % {_POLY_M}L) % {_POLY_M}L)"
        ).alias("content_hash"),
    )

    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "term"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    hashed = tok.select(
        "doc_id",
        "pos",
        F.expr(
            "CAST(conv(substring(md5(term), 1, 15), 16, 10) AS BIGINT)"
        ).alias("h"),
    )
    leads = [F.lead("h", i).over(w).alias(f"h{i}") for i in range(1, _WINNOW_W)]
    windows = (
        hashed.select("doc_id", "h", *leads)
        .filter(F.col(f"h{_WINNOW_W - 1}").isNotNull())
        .select(
            "doc_id",
            F.least("h", *[f"h{i}" for i in range(1, _WINNOW_W)]).alias("wmin"),
        )
    )
    winnow = (
        windows.groupBy("doc_id")
        .agg(F.md5(F.concat_ws(",", F.array_sort(F.collect_set("wmin")))).alias("winnow_sig"))
    )
    return content.join(winnow, "doc_id", "left").select(
        "doc_id", "content_hash", F.coalesce("winnow_sig", F.lit("")).alias("winnow_sig")
    )


@register(
    "text_normalize",
    category="text",
    oracle="""
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   '  +', ' ', 'g')) AS norm_text,
               md5(trim(regexp_replace(
                   regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                   '  +', ' ', 'g'))) AS norm_hash
        FROM documents
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text normalization — the first stage of every corpus
    pipeline (and the input convention the dedup operators assume):
    lowercase, strip non-alphanumerics to spaces, collapse runs of
    whitespace, trim. Pure JVM ``regexp_replace`` chain inside codegen
    (Spark replaces globally by default; the oracle needs DuckDB's
    explicit 'g' flag — a classic cross-engine trap, pinned here). The
    md5 of the normalized form doubles as the exact-dedup key."""
    d = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[^a-z0-9 ]", " "), "  +", " "
        )
    )
    return d.select(
        "doc_id", norm.alias("norm_text"), F.md5(norm).alias("norm_hash")
    )


_PII_EMAIL_RE = r"[A-Za-z0-9._]+@[A-Za-z0-9.]+"
_PII_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@register(
    "text_pii_redact",
    category="text",
    oracle=f"""
        WITH contaminated AS (
            SELECT doc_id,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user' || doc_id ||
                             '@example.com from 10.' || (doc_id % 256) ||
                             '.0.' || (doc_id % 100)
                        ELSE text END AS raw
            FROM documents
        )
        SELECT doc_id,
               len(regexp_extract_all(raw, '{_PII_EMAIL_RE}')) AS n_emails,
               len(regexp_extract_all(raw, '{_PII_IP_RE}')) AS n_ips,
               md5(regexp_replace(
                   regexp_replace(raw, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PII_IP_RE}', '<IP>', 'g')) AS redacted_hash
        FROM contaminated
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact email addresses and IPv4
    literals. The corpus is synthetic and clean, so a deterministic
    contamination step (every third doc gains a derived email + IP)
    first makes the redaction observable end-to-end — the same
    synthesize-then-parse round-trip the firewall queries use. Both
    count (``regexp_count``) and rewrite (``regexp_replace``) are JVM
    regex inside codegen; the md5 of the redacted text proves the
    rewrites byte-identical across engines."""
    d = load(spark, sf_dir, "documents")
    raw = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id"),
            F.lit("@example.com from 10."),
            F.col("doc_id") % 256,
            F.lit(".0."),
            F.col("doc_id") % 100,
        ),
    ).otherwise(F.col("text"))
    redacted = F.regexp_replace(
        F.regexp_replace(raw, _PII_EMAIL_RE, "<EMAIL>"), _PII_IP_RE, "<IP>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(_PII_EMAIL_RE)).cast("bigint").alias("n_emails"),
        F.regexp_count(raw, F.lit(_PII_IP_RE)).cast("bigint").alias("n_ips"),
        F.md5(redacted).alias("redacted_hash"),
    )


@register(
    "corpus_quality_filter",
    category="text",
    oracle=f"""
        WITH toked AS (
            SELECT doc_id, lang, n_chars, text,
                   list_filter(string_split(lower(text), ' '), t -> t <> '')
                       AS toks
            FROM documents
        ),
        feats AS (
            SELECT doc_id, lang, n_chars, text,
                   len(toks) AS n_tokens,
                   len(list_distinct(toks)) AS n_distinct,
                   len(list_filter(toks, t -> list_contains(
                       [{", ".join(repr(w) for w in ALL_STOPWORDS)}], t)))
                       AS n_stop
            FROM toked
        )
        SELECT doc_id, lang, n_tokens,
               CASE
                   WHEN text IS NULL THEN 'empty'
                   WHEN n_chars < 20 THEN 'too_short'
                   WHEN n_tokens < 5 THEN 'too_few_tokens'
                   WHEN CAST(n_distinct AS DOUBLE) / n_tokens < 0.3
                       THEN 'repetitive'
                   WHEN CAST(n_stop AS DOUBLE) / n_tokens < 0.02
                       THEN 'no_function_words'
                   ELSE 'keep'
               END AS verdict
        FROM feats
    """,
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation deliverable the individual quality features feed: a
    keep/drop VERDICT per document with the first failing rule as the
    reason — empty → too_short → too_few_tokens → repetitive (low
    type-token ratio) → no_function_words → keep. Rule precedence is a
    single CASE chain, so every document gets exactly one verdict and
    the drop reasons are auditable aggregates (``GROUP BY verdict`` is
    the corpus-health dashboard).

    Same HOF-over-token-array shape as ``text_quality_score`` (no
    explode, no shuffle, O(doc) per doc); ratio thresholds compare
    bit-identical doubles on both engines (identical integer divisions,
    no rounding). NULL text is an explicit first rule — a NULL
    propagating through the CASE would otherwise fall to the ELSE and
    silently 'keep' unparseable rows."""
    d = load(spark, sf_dir, "documents")
    toks = tokens("text")
    toked = d.select("doc_id", "lang", "n_chars", "text", toks.alias("toks"))
    n_tokens = F.size("toks")
    ttr = F.size(F.array_distinct("toks")).cast("double") / n_tokens
    stop_ratio = (
        F.size(F.filter("toks", lambda t: t.isin(*ALL_STOPWORDS))).cast("double")
        / n_tokens
    )
    verdict = (
        F.when(F.col("text").isNull(), "empty")
        .when(F.col("n_chars") < 20, "too_short")
        .when(n_tokens < 5, "too_few_tokens")
        .when(ttr < 0.3, "repetitive")
        .when(stop_ratio < 0.02, "no_function_words")
        .otherwise("keep")
    )
    return toked.select(
        "doc_id", "lang", n_tokens.cast("bigint").alias("n_tokens"),
        verdict.alias("verdict"),
    )


@register(
    "text_collocations_lift",
    category="text",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS i
            FROM documents
        ),
        uni AS (SELECT term, count(*) AS n FROM toks GROUP BY term),
        tot AS (SELECT count(*) AS big_n FROM toks),
        bg AS (
            SELECT t1.term AS w1, t2.term AS w2, count(*) AS n_ab
            FROM toks t1
            JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
            GROUP BY t1.term, t2.term
        )
        SELECT w1, w2, n_ab,
               round(CAST(n_ab AS DOUBLE) * big_n
                     / (CAST(u1.n AS DOUBLE) * u2.n), 6) AS lift
        FROM bg
        JOIN uni u1 ON u1.term = w1
        JOIN uni u2 ON u2.term = w2
        CROSS JOIN tot
        WHERE n_ab >= 10
          AND CAST(n_ab AS DOUBLE) * big_n
              / (CAST(u1.n AS DOUBLE) * u2.n) >= 1.3
    """,
)
def text_collocations_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent word pairs occurring together far
    more than unigram frequencies predict — lift
    ``P(ab) / (P(a)·P(b))`` ≥ 1.3 with support ≥ 10 (thresholds
    tuned to this corpus's near-uniform synthetic word order), the PMI idea kept
    as an exact integer rational (PMI's log is a libm transcendental
    whose last ULP differs across engines; the MONOTONE transform
    changes nothing about the ranking and keeps the differential
    hash-exact).

    One bigram pipeline, then two joins against the unigram table. The
    unigram relation is vocabulary-sized → broadcast both probes; the
    corpus-total is a 1-row cross join. Support-10 prunes the pair
    table before the joins. The unigram table is PERSISTED (r9, guide
    §2.4): the two broadcast probes alias different columns, so their
    subtrees are canonically different and each re-ran the token
    explode; the corpus total is Σ n over the same cache (identical
    integer by construction) instead of a third corpus pass — one
    unigram pass + one bigram pass total, at any scale.

    r10 (guide §2.4, VERDICT item 5 — the one touched-query r9
    regression): the bigram stream is generated by ZIPPING THE TOKEN
    ARRAY WITH ITSELF SHIFTED ONE (explode of
    arrays_zip(slice(tk,1,n-1), slice(tk,2,n-1))) instead of
    posexplode + a doc-keyed window lead. Adjacent-pair formation is a
    per-row array operation — it never needed the corpus-wide
    hash-partition + SORT the window form paid before the pair count
    could even start (2 exchanges + 1 sort → 1 exchange in the bigram
    arm). Same pairs by construction: slice(tk,1,n-1)[i] = tk[i],
    slice(tk,2,n-1)[i] = tk[i+1]; docs with < 2 tokens (and NULL text,
    whose size() is NULL) produce no bigram either way."""
    d = load(spark, sf_dir, "documents")
    toked = d.select(tokens("text").alias("tk"))
    uni = (
        toked.select(F.explode("tk").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .cache()
    )
    tot = uni.agg(F.sum("n").cast("long").alias("big_n"))
    bg = (
        toked.filter(F.size("tk") >= 2)
        .select(
            F.explode(
                F.expr(
                    "arrays_zip(slice(tk, 1, size(tk) - 1),"
                    " slice(tk, 2, size(tk) - 1))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.0").alias("w1"), F.col("p.1").alias("w2"))
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= 10)
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("n").alias("n1"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("n").alias("n2"))
    lift = (
        F.col("n_ab").cast("double")
        * F.col("big_n")
        / (F.col("n1").cast("double") * F.col("n2"))
    )
    return (
        bg.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(tot))
        .filter(lift >= 1.3)
        .select("w1", "w2", "n_ab", F.round(lift, 6).alias("lift"))
    )


@register(
    "text_diversity_simpson",
    category="text",
    oracle="""
        WITH tf AS (
            SELECT doc_id, term, count(*) AS n FROM (
                SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
                FROM documents
            ) WHERE term <> '' GROUP BY doc_id, term
        ),
        per AS (
            SELECT doc_id,
                   CAST(sum(n) AS BIGINT) AS n_tokens,
                   CAST(sum(n * (n - 1)) AS BIGINT) AS d2
            FROM tf GROUP BY doc_id
        )
        SELECT doc_id, n_tokens,
               round(1.0 - CAST(d2 AS DOUBLE)
                           / CAST(n_tokens * (n_tokens - 1) AS DOUBLE),
                     6) AS simpson_diversity
        FROM per WHERE n_tokens >= 2
    """,
)
def text_diversity_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document lexical diversity as the Gini-Simpson index
    1 − Σ nᵢ(nᵢ−1) / (N(N−1)) — the probability two tokens drawn
    without replacement differ. The repetition-quality gate's
    principled cousin (low diversity ⇒ template/boilerplate text).

    Chosen over Shannon entropy deliberately: Simpson is a RATIONAL in
    the integer counts, so both engines compute exact BIGINTs and one
    final IEEE division — hash-deterministic with no transcendental
    whose last ULP could differ cross-engine (the log-sum class needs
    quantization; this needs nothing). Two keyed aggregations
    (doc,term)→doc, both map-side partial; single-token docs are
    excluded (index undefined at N<2) on both sides."""
    tf = (
        _tokens_exploded(spark, sf_dir)
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("n").alias("n_tokens"),
        F.sum(F.col("n") * (F.col("n") - 1)).alias("d2"),
    )
    return per.filter(F.col("n_tokens") >= 2).select(
        "doc_id",
        "n_tokens",
        F.round(
            F.lit(1.0)
            - F.col("d2").cast("double")
            / (F.col("n_tokens") * (F.col("n_tokens") - 1)).cast("double"),
            6,
        ).alias("simpson_diversity"),
    )


@register(
    "text_zipf_slope",
    category="text",
    oracle="""
        WITH tf AS (
            SELECT term, count(*) AS freq FROM (
                SELECT unnest(string_split(lower(text), ' ')) AS term
                FROM documents
            ) WHERE term <> '' GROUP BY term
        ),
        ranked AS (
            SELECT freq,
                   row_number() OVER (ORDER BY freq DESC, term) AS rnk
            FROM tf
        ),
        pts AS (
            SELECT CAST(round(ln(rnk) * 1000) AS BIGINT) AS x,
                   CAST(round(ln(freq) * 1000) AS BIGINT) AS y
            FROM ranked WHERE rnk <= 500
        ),
        s AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * y) AS BIGINT) AS sxy,
                   CAST(sum(x * x) AS BIGINT) AS sxx
            FROM pts
        )
        SELECT n AS n_terms,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope
        FROM s
    """,
)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law exponent of the corpus: the least-squares slope of
    log-frequency against log-rank over the top-500 vocabulary —
    natural text sits near −1; synthetic or templated corpora drift,
    making the slope a cheap corpus-health check.

    Exactness discipline (the repo's integer-moments pattern): each
    (ln rank, ln freq) point is quantized to milli-units ONCE —
    ln of a small integer agrees across engines far beyond 1e-3 —
    and the regression runs entirely on BIGINT sufficient statistics
    (n·Σxy − ΣxΣy)/(n·Σxx − Σx²), bounded well inside int64 at
    n=500. One double division at the end. Scale shape: the ranking
    sorts the VOCABULARY (already aggregated), never the token
    stream; everything before it is two map-side-partial aggs."""
    tf = (
        _tokens_exploded(spark, sf_dir)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    ranked = tf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.desc("freq"), F.asc("term")))
        .alias("rnk"),
    ).filter(F.col("rnk") <= 500)
    pts = ranked.select(
        F.round(F.log(F.col("rnk").cast("double")) * 1000).cast("long").alias("x"),
        F.round(F.log(F.col("freq").cast("double")) * 1000).cast("long").alias("y"),
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double"),
            6,
        ).alias("zipf_slope"),
    )


@register(
    "text_bigram_surprisal",
    category="text",
    oracle="""
        WITH tok AS (
            SELECT doc_id, term, i AS pos FROM (
                SELECT doc_id,
                       unnest(string_split(lower(text), ' ')) AS term,
                       generate_subscripts(string_split(lower(text), ' '), 1)
                           AS i
                FROM documents
            ) WHERE term <> ''
        ),
        big AS (
            SELECT doc_id, term AS w1,
                   lead(term) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
            FROM tok
        ),
        big2 AS (SELECT doc_id, w1, w2 FROM big WHERE w2 IS NOT NULL),
        c2 AS (SELECT w1, w2, count(*) AS n2 FROM big2 GROUP BY w1, w2),
        c1 AS (SELECT w1, count(*) AS n1 FROM big2 GROUP BY w1),
        v AS (SELECT count(DISTINCT term) AS vocab FROM tok),
        sc AS (
            SELECT c2.w1, c2.w2,
                   CAST(round(-log2(CAST(n2 + 1 AS DOUBLE)
                                    / CAST(n1 + vocab AS DOUBLE)) * 1000000)
                        AS BIGINT) AS micro_bits
            FROM c2 JOIN c1 ON c1.w1 = c2.w1 CROSS JOIN v
        )
        SELECT big2.doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(CAST(sum(micro_bits) AS DOUBLE)
                     / (count(*) * 1000000.0), 6) AS avg_surprisal_bits
        FROM big2 JOIN sc ON sc.w1 = big2.w1 AND sc.w2 = big2.w2
        GROUP BY big2.doc_id
    """,
)
def text_bigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, the real pipeline shape: train a
    bigram LM on the corpus (add-one smoothing over the corpus
    vocabulary) and score each document by its average per-bigram
    surprisal, −log2 P(w₂|w₁) — high-surprisal docs are gibberish or
    off-distribution, low-surprisal docs are templated; both tails get
    human review in a curation run. The perplexity-proxy step up from
    ``text_rarity_score``'s unigram document frequencies.

    Exactness: surprisal is quantized to micro-bits BIGINT ONCE per
    bigram TYPE (log2 of a ratio of exact integers agrees across
    engines far beyond 1e-6), then the per-doc average is exact
    integer sums and a single final division — no
    order-of-double-summation anywhere. Scale shape: bigram model
    counts are vocabulary²-bounded (not corpus-bounded) and partial-
    aggregate map-side; the scoring join keys the token stream once on
    (w1, w2); the vocab scalar is a 1-row broadcast.

    r9 (guide §2.4): the bigram stream is PERSISTED — model training
    (c2) and document scoring both read it, and unpersisted the
    explode + per-doc window ran once per reference (three times).
    Materializing the bigram stream is the train-then-score pipeline's
    natural checkpoint, the same corpus-sized budget class as the
    dedup shingle substrate. The left-context count c1 is Σ n2 per w1
    over the vocabulary²-bounded c2 — the identical integers the third
    corpus pass used to recompute."""
    tok = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "term"))
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        tok.select(
            "doc_id",
            F.col("term").alias("w1"),
            F.lead("term", 1).over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .cache()
    )
    c2 = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").cast("long").alias("n1"))
    v = tok.agg(F.countDistinct("term").alias("vocab"))
    sc = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .select(
            "w1", "w2",
            F.round(
                -F.log2(
                    (F.col("n2") + 1).cast("double")
                    / (F.col("n1") + F.col("vocab")).cast("double")
                )
                * 1000000
            )
            .cast("long")
            .alias("micro_bits"),
        )
    )
    return (
        big.join(sc, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(
                F.sum("micro_bits").cast("double")
                / (F.count(F.lit(1)) * F.lit(1000000.0)),
                6,
            ).alias("avg_surprisal_bits"),
        )
    )


@register(
    "text_vocab_growth",
    category="text",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) AS term
            FROM documents WHERE text IS NOT NULL
        ),
        buckets AS (
            SELECT doc_id, ntile(10) OVER (ORDER BY doc_id) AS bucket
            FROM (SELECT DISTINCT doc_id FROM toks)
        ),
        doc_tokens AS (
            SELECT t.doc_id, b.bucket, count(*) AS n_tok
            FROM toks t JOIN buckets b ON b.doc_id = t.doc_id
            GROUP BY t.doc_id, b.bucket
        ),
        per_bucket AS (
            SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens
            FROM doc_tokens GROUP BY bucket
        ),
        firsts AS (
            SELECT b.bucket, count(*) AS new_terms
            FROM (SELECT term, min(doc_id) AS first_doc
                  FROM toks GROUP BY term) f
            JOIN buckets b ON b.doc_id = f.first_doc
            GROUP BY b.bucket
        )
        SELECT p.bucket,
               CAST(sum(p.n_docs) OVER w AS BIGINT) AS docs_cum,
               CAST(sum(p.n_tokens) OVER w AS BIGINT) AS tokens_cum,
               CAST(sum(coalesce(f.new_terms, 0)) OVER w AS BIGINT)
                   AS vocab_cum
        FROM per_bucket p LEFT JOIN firsts f ON f.bucket = p.bucket
        WINDOW w AS (ORDER BY p.bucket ROWS UNBOUNDED PRECEDING)
    """,
)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve: cumulative distinct terms
    vs cumulative tokens at ten doc-id checkpoints — the corpus-health
    fingerprint (a natural corpus grows vocabulary ~ tokens^β with
    β≈0.5; a flattening curve means the crawl is recycling content,
    a too-steep one means encoding noise is minting junk terms). The
    whole-corpus companion of the per-doc novelty score.

    All-integer: docs bucket into deciles by unique doc_id (exact
    ntile(10) semantics — deterministic in both engines), each term
    charges its FIRST document's bucket (min doc_id — the novelty
    ownership rule), and the curve is three cumulative BIGINT sums
    over a 10-row relation. Corpus-sized work: the token explode
    (shared tokenizer), one term-keyed min(), one doc-keyed count —
    each map-side combined.

    Scale path (the r5 verdict's one perf-weak flag, fixed): the
    oracle's ``ntile(10) OVER (ORDER BY doc_id)`` is NOT mirrored as
    an unpartitioned Spark window (that plan single-partitions the
    whole doc-id universe to sort it, then broadcasts a
    doc-cardinality bucket map twice — both die at 10^9 docs).
    Instead the 9 decile boundary doc_ids are computed with
    partitioned-window rank arithmetic — coarse-group counts
    (|docs|/4096 rows) -> cumulative offsets over that bounded
    relation -> per-group row_number — and ONLY the 9-value boundary
    array is broadcast (one row); bucket assignment is the codegen
    expression ``1 + #(boundaries < doc_id)`` applied independently
    to the doc-keyed and term-keyed branches, so no doc-sized sort,
    broadcast, or bucket join exists anywhere. Boundary arithmetic
    reproduces ntile exactly: with n docs, q = n div 10,
    rem = n mod 10, bucket b ends at global rank
    U(b) = b*q + least(b, rem); global ranks come from
    off(g) + row_number within coarse group g = doc_id div 4096 (at
    10^9 docs the offsets relation is ~244k rows — model-sized; a
    second grouping level extends the recipe past 10^12 docs). The
    n < 10 degenerate case holds too: duplicate-rank boundaries
    collapse in the count-of-strictly-smaller expression."""
    d = load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    toks = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    # Per-doc token counts, persisted (r9, guide §2.4): doc-sized (two
    # longs per doc — ~1/1000 corpus budget class), and it DOUBLES as
    # the distinct-doc relation (a doc appears iff it has ≥1 token,
    # exactly the toks-distinct semantics) and as per_bucket's input —
    # collapsing two of the query's four token-explode corpus passes.
    # The remaining two explodes (this rollup + the term-keyed firsts)
    # are the structural minimum without materializing the token table
    # itself.
    dtc = (
        toks.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tok"))
        .cache()
    )
    docs = dtc.select("doc_id")
    # integer division, NOT floor(x/4096): the float quotient is exact
    # only for doc_id < 2^53, and the recipe claims the full BIGINT
    # doc_id domain — a misassigned coarse group would corrupt every
    # downstream global rank
    grouped = docs.withColumn("g", F.expr("doc_id div 4096"))
    gcounts = grouped.groupBy("g").agg(F.count(F.lit(1)).alias("cnt"))
    # cumulative offsets over the BOUNDED coarse-group relation — the
    # only unpartitioned window below the final 10-row curve, and it
    # never sees doc-sized data
    goff = gcounts.select(
        "g",
        (
            F.sum("cnt").over(
                Window.orderBy("g").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            )
            - F.col("cnt")
        ).alias("off"),
    )
    ranked = grouped.join(F.broadcast(goff), "g").select(
        "doc_id",
        (
            F.col("off")
            + F.row_number().over(Window.partitionBy("g").orderBy("doc_id"))
        ).alias("r"),
    )
    # target upper ranks U(b) = b*q + least(b, rem), b = 1..9 — exact
    # ntile(10) boundaries. n = Σ coarse-group counts (the BOUNDED
    # relation — no second pass over the doc universe; identical to
    # count(docs) by construction)
    targets = (
        gcounts.agg(F.sum("cnt").cast("long").alias("n"))
        .select(F.explode(F.sequence(F.lit(1), F.lit(9))).alias("b"), "n")
        .select(
            (
                F.col("b") * F.floor(F.col("n") / F.lit(10))
                + F.least(F.col("b"), F.col("n") % F.lit(10))
            ).alias("u")
        )
    )
    # 9 boundary doc_ids -> ONE broadcast row holding the sorted array
    barr = ranked.join(
        F.broadcast(targets), ranked["r"] == targets["u"]
    ).agg(F.sort_array(F.collect_list("doc_id")).alias("bounds"))

    def bucket_of(doc_col: str):
        return (
            F.lit(1)
            + F.size(F.filter("bounds", lambda ub: ub < F.col(doc_col)))
        ).alias("bucket")

    per_bucket = (
        dtc.crossJoin(F.broadcast(barr))
        .select(bucket_of("doc_id"), "n_tok")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )
    firsts = (
        toks.groupBy("term")
        .agg(F.min("doc_id").alias("first_doc"))
        .crossJoin(F.broadcast(barr))
        .select(bucket_of("first_doc"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_bucket.join(firsts, "bucket", "left")
        .select(
            "bucket",
            F.sum("n_docs").over(w).cast("long").alias("docs_cum"),
            F.sum("n_tokens").over(w).cast("long").alias("tokens_cum"),
            F.sum(F.coalesce("new_terms", F.lit(0)))
            .over(w)
            .cast("long")
            .alias("vocab_cum"),
        )
    )
