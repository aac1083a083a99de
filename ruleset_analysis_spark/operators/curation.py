"""§2 addendum — corpus-curation operators for training-data pipelines.

The three quality gates every large-scale LLM data pipeline runs
between raw crawl and tokenizer, expressed Spark-first:

* **repetition** (Gopher-style filters): the fraction of duplicated
  word n-grams inside a document is the cheapest high-precision
  quality signal — boilerplate, scraped lists and generation loops
  all light it up;
* **benchmark contamination**: documents sharing verbatim n-grams
  with an evaluation set must be quarantined before training — the
  industry-standard 'n-gram decontamination' pass;
* **fixed-token chunking**: the doc → bounded-length-chunk explosion
  that precedes tokenization/packing.

All three stay JVM-side (posexplode + window lead, higher-order
functions, md5) and reuse the dedup module's cached shingle relation
where semantics allow — contamination costs one broadcast join on top
of a relation the near-dup queries already materialized.

Reference provenance: the public reference [R-mem, SURVEY.md §0] has
no curation surface; these extend it per the §2.G extension charter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.text import tokens
from ..plans.registry import register
from ..sources.parquet import load

# Token budget per chunk for doc_chunk_fixed_tokens — small enough that
# sf0.001 docs still split into several chunks, stands in for the
# 2k-8k-token budgets of real pipelines.
_CHUNK_TOKENS = 64

# Every 97th doc plays the "benchmark" / eval set for the
# contamination check — deterministic, ~1% of the corpus.
_BENCH_MOD = 97

# Contamination evidence gate (round 8): a trigram is informative only
# while its corpus-wide document frequency stays under an adaptive cap
# (base doubling per decade of corpus docs past 10k — the link-
# prediction hub-cap chain applied to n-grams). Boilerplate trigrams
# present in thousands of documents are not benchmark contamination,
# and they are precisely the keys that detonate the pair join: the
# x1000 spot tier measured 25.6e9 collision pairs with ONE df=741k
# trigram contributing 5.6e9 before this gate (cap 2048 there cuts the
# pair relation to ~3e8 and the worst key to ~1e5). Max observed df at
# the graded tiers is 7 (sf0.01) / 25 (sf0.1), so cap=256 is a
# measured NO-OP everywhere the driver hashes — both engines compute
# the identical integer cap, and the oracle applies the same gate.
_CONTAM_DF_CAP_BASE = 256
_CONTAM_DF_THRESHOLDS = (
    10_000,
    100_000,
    1_000_000,
    10_000_000,
    100_000_000,
    1_000_000_000,
)


@register(
    "text_repetition_ratio",
    category="curation",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS i
            FROM documents
        ),
        bg AS (
            SELECT t1.doc_id, t1.term || ' ' || t2.term AS s, count(*) AS cnt
            FROM toks t1
            JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
            GROUP BY t1.doc_id, t1.term || ' ' || t2.term
        )
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS total_ngrams,
               count(*) AS distinct_ngrams,
               max(cnt) AS max_rep,
               round(1 - CAST(count(*) AS DOUBLE)
                         / CAST(sum(cnt) AS DOUBLE), 6) AS dup_ratio
        FROM bg GROUP BY doc_id
    """,
)
def text_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-bigram ratio (the Gopher repetition
    filter): ``1 - distinct_bigrams / total_bigrams`` plus the
    multiplicity of the most-repeated bigram.

    Relational bigram build (posexplode + one window lead — the shape
    measured 5× faster than HOF arrays, see dedup._exploded_shingles),
    then a two-level aggregation in which BOTH levels reuse the
    window's HashPartitioning(doc_id): groupBy(doc_id, s) and
    groupBy(doc_id) are each clustered by a superset of doc_id, so the
    whole query is ONE shuffle end-to-end. Counts are integers; the
    ratio is a single double divide — hash-stable cross-engine.
    Docs with fewer than two tokens have no bigrams and drop out on
    both engines."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.posexplode(tokens("text")).alias("pos", "term"))
    w = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        tok.select("doc_id", "term", F.lead("term", 1).over(w).alias("t1"))
        .filter(F.col("t1").isNotNull())
        .select("doc_id", F.concat_ws(" ", "term", "t1").alias("s"))
        .groupBy("doc_id", "s")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return bg.groupBy("doc_id").agg(
        F.sum("cnt").alias("total_ngrams"),
        F.count(F.lit(1)).alias("distinct_ngrams"),
        F.max("cnt").alias("max_rep"),
        F.round(
            F.lit(1.0)
            - F.count(F.lit(1)).cast("double") / F.sum("cnt").cast("double"),
            6,
        ).alias("dup_ratio"),
    )


@register(
    "text_contamination_ngram",
    category="curation",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS i
            FROM documents
        ),
        tri AS (
            SELECT DISTINCT t1.doc_id,
                   t1.term || ' ' || t2.term || ' ' || t3.term AS s
            FROM toks t1
            JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
            JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
        ),
        caprel AS (
            SELECT {_CONTAM_DF_CAP_BASE} << ({" + ".join(
                f"(CASE WHEN n > {t} THEN 1 ELSE 0 END)"
                for t in _CONTAM_DF_THRESHOLDS
            )}) AS cap
            FROM (SELECT count(*) AS n FROM documents) nd
        ),
        info AS (
            SELECT s FROM tri CROSS JOIN caprel
            GROUP BY s, cap HAVING count(*) <= cap
        ),
        bench AS (
            SELECT t.doc_id AS bench_id, t.s
            FROM tri t JOIN info USING (s)
            WHERE t.doc_id % {_BENCH_MOD} = 0
        )
        SELECT c.doc_id,
               count(DISTINCT c.s) AS n_shared_ngrams,
               count(DISTINCT b.bench_id) AS n_bench_docs
        FROM tri c JOIN bench b ON b.s = c.s
        WHERE c.doc_id % {_BENCH_MOD} <> 0
        GROUP BY c.doc_id
    """,
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: for every training document, the
    number of distinct word-trigrams it shares with the "benchmark"
    slice (every 97th doc) and how many benchmark docs it
    collides with. Downstream, any hit is a quarantine verdict.

    Rides the dedup module's cached distinct-shingle relation (one
    relation feeds MinHash, SimHash, Jaccard AND decontamination), so
    the incremental cost is a single equi-join on the trigram.

    Shape (round 8 — rewritten after the x1000 spot tier killed the r3
    form twice). The r3 plan fed one pair join into a double
    countDistinct, which (a) forced a static broadcast of a benchmark
    side that grows linearly in this harness (a fixed 1/97 corpus
    FRACTION — task OOM at 5M docs), and (b) Expand-doubled the pair
    relation with the ~25-byte trigram string aboard, spilling >30 GB
    of shuffle at x1000. The two aggregates want different relations:

    * ``n_shared_ngrams`` never needs pairs at all — it is a LEFT SEMI
      join of the doc's distinct trigrams against the distinct bench
      trigram set (the substrate guarantees (doc_id, s) distinct), so
      its cost is linear in the corpus whatever the benchmark size;
    * ``n_bench_docs`` does need the pair relation, but only the two
      BIGINT ids: the trigram string is projected away before the
      map-side-combined (doc_id, bench_id) distinct, so the pair
      intermediate ships 16-byte rows, not Expand-doubled strings;
    * the pair relation itself is BOUNDED by the informative-trigram
      gate (_CONTAM_DF_CAP_BASE chain above — the link-prediction
      hub-cap recipe): a trigram whose corpus-wide df exceeds the
      count-adaptive cap is boilerplate, not contamination evidence,
      and exactly those keys detonate the join (x1000: one df=741k
      trigram = 5.6e9 of the 25.6e9 pairs; the cap admits ~3e8 and a
      worst key of ~1e5). The gate is a measured no-op at every
      graded tier (max df 25 at sf0.1 vs cap 256) and the oracle
      applies the identical integer chain, so cross-engine identity
      holds at EVERY tier, not just graded ones.

    All joins are AQE's choice, deliberately unhinted: at graded
    tiers the bench side re-plans to the same BroadcastHashJoins as
    the r3 form (plan-shape test pins this at sf0.001); at
    corpus-fraction scale they degrade to shuffled joins instead of a
    build-side cliff. The final doc-keyed join of the two doc-sized
    aggregate relations keeps rows identical to the r3 output (a doc
    with a shared informative trigram collides with ≥1 bench doc, so
    both sides hold exactly the colliding docs)."""
    from .dedup import _exploded_shingles

    tri = _exploded_shingles(spark, sf_dir)
    k_sql = " + ".join(
        f"(CASE WHEN n > {t} THEN 1 ELSE 0 END)"
        for t in _CONTAM_DF_THRESHOLDS
    )
    caprel = (
        load(spark, sf_dir, "documents")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.expr(f"shiftleft({_CONTAM_DF_CAP_BASE}, {k_sql})").alias("cap"))
    )
    info = (
        tri.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df_s"))
        .crossJoin(F.broadcast(caprel))
        .filter(F.col("df_s") <= F.col("cap"))
        .select("s")
    )
    corpus = tri.filter(F.col("doc_id") % _BENCH_MOD != 0).select("doc_id", "s")
    bench = (
        tri.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), "s")
        .join(info, "s", "left_semi")
    )
    shared = (
        corpus.join(bench.select("s").distinct(), "s", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_ngrams"))
    )
    bdocs = (
        corpus.join(bench, "s")
        .select("doc_id", "bench_id")
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bench_docs"))
    )
    return shared.join(bdocs, "doc_id").select(
        "doc_id", "n_shared_ngrams", "n_bench_docs"
    )


@register(
    "doc_chunk_fixed_tokens",
    category="curation",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS toks
            FROM documents
        ),
        c AS (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / {_CHUNK_TOKENS}.0)
                                        AS BIGINT))) AS chunk_id
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id, chunk_id,
               len(list_slice(toks, chunk_id * {_CHUNK_TOKENS} + 1,
                              chunk_id * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}))
                   AS n_tokens,
               md5(array_to_string(
                   list_slice(toks, chunk_id * {_CHUNK_TOKENS} + 1,
                              chunk_id * {_CHUNK_TOKENS} + {_CHUNK_TOKENS}),
                   ' ')) AS chunk_hash
        FROM c
    """,
)
def doc_chunk_fixed_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → fixed-budget token chunks (64 tokens):
    (doc_id, chunk_id, n_tokens, md5-of-chunk). The pre-tokenizer
    chunking pass; the md5 makes the rewritten text hash-checkable
    cross-engine without shipping it (the md5 oracle lever).

    Pure higher-order functions inside whole-stage codegen: tokenize
    once, build the chunk-index sequence, slice per index, hash —
    NO shuffle, NO Python; the explode multiplies rows ~n_tokens/64×
    map-side. Empty docs produce zero chunks (guarded sequence) rather
    than aborting — the dirty-data convention (SCALE.md)."""
    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    idx = F.when(
        F.col("n") > 0,
        F.sequence(
            F.lit(0),
            F.ceil(F.col("n") / F.lit(float(_CHUNK_TOKENS))).cast("long") - 1,
        ),
    ).otherwise(F.array().cast("array<long>"))
    chunk = F.slice(
        F.col("toks"),
        (F.col("chunk_id") * _CHUNK_TOKENS + 1).cast("int"),
        _CHUNK_TOKENS,
    )
    return (
        tk.select("doc_id", "toks", F.explode(idx).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


# Token budget per packed bin and shard fan-out for pack_greedy_bins.
# Shards are the parallelism knob: packing is inherently sequential
# WITHIN a shard (bin state carries across docs), so at cluster scale
# one raises the shard count, not the per-shard speed.
_PACK_BUDGET = 256
_PACK_SHARDS = 8


@register(
    "pack_greedy_bins",
    category="curation",
    oracle=f"""
        WITH RECURSIVE toks AS (
            SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
                   len(list_filter(string_split(lower(text), ' '),
                                   x -> x <> '')) AS n
            FROM documents
        ),
        ord AS (
            SELECT shard, doc_id, n,
                   row_number() OVER (PARTITION BY shard
                                      ORDER BY doc_id) AS rn
            FROM toks
        ),
        pack AS (
            SELECT shard, doc_id, n, rn, n AS fill, 0 AS bin_id
            FROM ord WHERE rn = 1
            UNION ALL
            SELECT o.shard, o.doc_id, o.n, o.rn,
                   CASE WHEN p.fill > 0 AND p.fill + o.n > {_PACK_BUDGET}
                        THEN o.n ELSE p.fill + o.n END,
                   CASE WHEN p.fill > 0 AND p.fill + o.n > {_PACK_BUDGET}
                        THEN p.bin_id + 1 ELSE p.bin_id END
            FROM pack p JOIN ord o ON o.shard = p.shard AND o.rn = p.rn + 1
        )
        SELECT shard, doc_id, n AS n_tokens,
               CAST(bin_id AS BIGINT) AS bin_id
        FROM pack
    """,
)
def pack_greedy_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: documents fill 256-token
    bins in doc_id order within 8 deterministic shards —
    the example-packing pass that turns variable-length documents into
    dense fixed-budget training sequences.

    Packing is a running-state scan (current bin's fill carries row to
    row), which no window frame expresses, so this is the one curation
    op on the declared Python surface: token counts are computed
    JVM-side first (only (shard, doc_id, n_tokens) triples — never
    text — reach Python), then ``applyInPandas`` runs the O(rows)
    greedy loop per shard. Shards bound both parallelism and state:
    each Arrow batch is one shard's integer triples. The DuckDB oracle
    replays the identical recursion as a recursive CTE, so the
    sequential semantics are hash-verified, not just eyeballed.
    A doc longer than the budget gets a bin alone; empty docs (0
    tokens) join the current bin — dirty-data safe."""
    import pandas as pd

    d = load(spark, sf_dir, "documents")
    sized = d.select(
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens("text")).cast("long").alias("n_tokens"),
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins = []
        fill, b = 0, 0
        for n in pdf["n_tokens"]:
            if fill > 0 and fill + n > _PACK_BUDGET:
                b += 1
                fill = 0
            bins.append(b)
            fill += n
        pdf["bin_id"] = bins
        return pdf[["shard", "doc_id", "n_tokens", "bin_id"]]

    return sized.groupBy("shard").applyInPandas(
        pack, "shard long, doc_id long, n_tokens long, bin_id long"
    )


# Corpus-frequency rarity gate: tokens appearing in fewer than this
# many documents count as "rare" — the OOV/garbage signal.
_RARE_DF = 3


@register(
    "text_rarity_score",
    category="curation",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term
            FROM documents
        ),
        df AS (
            SELECT term, count(DISTINCT doc_id) AS docfreq
            FROM toks GROUP BY term
        )
        SELECT t.doc_id,
               count(*) AS n_tokens,
               count(*) FILTER (WHERE df.docfreq < {_RARE_DF}) AS n_rare,
               round(CAST(count(*) FILTER (WHERE df.docfreq < {_RARE_DF})
                          AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                   AS rare_ratio,
               CAST(sum(df.docfreq) AS BIGINT) AS freq_mass
        FROM toks t JOIN df ON df.term = t.term
        GROUP BY t.doc_id
    """,
)
def text_rarity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality scoring without the transcendentals:
    per document, the fraction of tokens whose corpus document-
    frequency is below 3 ("rare"/OOV mass) and the total
    frequency mass. High rare_ratio flags garbled or off-distribution
    text — the signal an n-gram LM perplexity filter provides, kept
    as exact integer rationals so the cross-engine hash can't drift
    the way summed logs would (ln() last-ULP differs between libms).

    Two-pass shape over one tokenization: pass 1 aggregates the
    corpus document-frequency table (partial-agg'd, tiny — vocabulary-
    sized); pass 2 joins it back to the token stream on term. The DF
    table is vocabulary-sized, NOT corpus-sized, so at 100 TB it
    broadcasts (hint explicit) and the token stream never shuffles for
    the join — the same one-small-side discipline as tf-idf."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    df_tbl = tok.groupBy("term").agg(
        F.countDistinct("doc_id").alias("docfreq")
    )
    rare = F.when(F.col("docfreq") < _RARE_DF, 1)
    return (
        tok.join(F.broadcast(df_tbl), "term")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.count(rare).alias("n_rare"),
            F.round(
                F.count(rare).cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("rare_ratio"),
            F.sum("docfreq").alias("freq_mass"),
        )
    )


@register(
    "profile_corpus_columns",
    category="curation",
    oracle="""
        SELECT 'lang' AS col, count(lang) AS n_nonnull,
               count(DISTINCT lang) AS n_distinct FROM documents
        UNION ALL
        SELECT 'source', count(source), count(DISTINCT source)
        FROM documents
        UNION ALL
        SELECT 'text', count(text), count(DISTINCT text) FROM documents
        UNION ALL
        SELECT 'n_chars', count(n_chars), count(DISTINCT n_chars)
        FROM documents
    """,
)
def profile_corpus_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus audit profile: per column, non-null and distinct counts —
    the pre-training data-quality report every ingest runs first
    (null-rate spikes and cardinality collapses are how upstream
    breakage shows up before any model does).

    Spark-first shape: ONE scan computes every column's metrics as a
    single wide aggregate row, which then melts to long form via an
    inline explode — versus the oracle's UNION ALL of four scans (the
    work a naive per-column loop would do 4×, and at 100 TB, 4 full
    passes over the corpus). count(DISTINCT a), count(DISTINCT b), ...
    in one aggregate plans as Catalyst's Expand (one row per distinct
    branch) — still a single pass over the input."""
    d = load(spark, sf_dir, "documents")
    wide = d.agg(
        *[
            m
            for c in ("lang", "source", "text", "n_chars")
            for m in (
                F.count(c).alias(f"nn_{c}"),
                F.countDistinct(c).alias(f"nd_{c}"),
            )
        ]
    )
    entry = lambda c: F.struct(  # noqa: E731
        F.lit(c).alias("col"),
        F.col(f"nn_{c}").alias("n_nonnull"),
        F.col(f"nd_{c}").alias("n_distinct"),
    )
    return wide.select(
        F.explode(
            F.array(entry("lang"), entry("source"), entry("text"), entry("n_chars"))
        ).alias("p")
    ).select("p.col", "p.n_nonnull", "p.n_distinct")


@register(
    "curation_mix_weights",
    category="curation",
    oracle="""
        WITH per_source AS (
            SELECT source,
                   CAST(coalesce(sum(len(list_filter(
                            string_split(lower(text), ' '),
                            t -> t <> ''))), 0) AS BIGINT) AS tok_count
            FROM documents GROUP BY source
        ),
        capped AS (
            SELECT source, tok_count,
                   (SELECT max(tok_count) * 4 FROM per_source) // 5 AS cap
            FROM per_source
        )
        SELECT source, tok_count,
               CAST(least(tok_count, cap) AS BIGINT) AS alloc_tokens,
               CASE WHEN tok_count > 0
                    THEN round(CAST(least(tok_count, cap) AS DOUBLE)
                               / tok_count, 6)
                    ELSE 0.0 END AS sample_rate
        FROM capped
    """,
)
def curation_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix allocation: per-source token counts → capped token
    allocations and the deterministic sampling rate that realizes them
    — the 'data mixing' step between curation and tokenization (cap a
    dominant crawl source, keep small curated sources whole; the
    downstream sampler realizing the rates is
    ``curation_sample_apply``).

    Policy graded here is single-step proportional-with-cap
    (alloc = min(tokens, cap); rate = alloc/tokens, never > 1 — no
    silent upsampling), with the cap RELATIVE: ⌊4/5 of the largest
    source⌋ in pure integer arithmetic (an earlier absolute 10k-token
    cap was a config constant that stopped binding at small scale
    factors and would bind EVERYTHING at 100 TB — a relative cap
    down-weights the head of the source distribution identically at
    any corpus size, and its exact-BIGINT form has no double-rounding
    seam between engines). Exactness: counts, cap, and allocations
    are BIGINTs; the rate is one division of exact integers rounded
    6dp. Scale shape: ONE corpus scan with a map-side-partial sum to
    source-cardinality rows; the cap is a 1-row broadcast onto that
    dimension-sized relation. The rollup is PERSISTED (r9, guide
    §2.4): the cap aggregate and the allocation join both reference
    it, and unpersisted the corpus-sized tokenize-and-sum scan planned
    and ran twice (three times in curation_sample_apply, which builds
    on this query). Source-cardinality rows — trivially bounded."""
    d = load(spark, sf_dir, "documents")
    per = (
        d.groupBy("source")
        .agg(
            F.coalesce(F.sum(F.size(tokens("text"))), F.lit(0))
            .cast("long")
            .alias("tok_count")
        )
        .cache()
    )
    mx = per.agg(F.expr("max(tok_count) * 4 div 5").alias("cap"))
    per = per.join(F.broadcast(mx))
    cap = F.col("cap")
    alloc = F.least(F.col("tok_count"), cap)
    # a source of only empty/NULL docs allocates 0 at rate 0 — one
    # dirty source must not ANSI-abort the whole mix computation
    return per.select(
        "source",
        "tok_count",
        alloc.alias("alloc_tokens"),
        F.when(
            F.col("tok_count") > 0,
            F.round(alloc.cast("double") / F.col("tok_count"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("sample_rate"),
    )


# Sliding-window chunking stride: windows of _CHUNK_TOKENS starting
# every _CHUNK_STRIDE tokens (16-token overlap) — the RAG/pretraining
# recipe that keeps sentence fragments from being orphaned at hard
# chunk boundaries.
_CHUNK_STRIDE = 48


@register(
    "doc_chunk_overlap",
    category="curation",
    oracle=f"""
        WITH t AS (
            SELECT doc_id,
                   list_filter(string_split(lower(text), ' '),
                               x -> x <> '') AS toks
            FROM documents
        ),
        c AS (
            SELECT doc_id, toks,
                   unnest(range(0, CAST(ceil(len(toks) / {_CHUNK_STRIDE}.0)
                                        AS BIGINT))) AS chunk_id
            FROM t WHERE len(toks) > 0
        )
        SELECT doc_id, chunk_id,
               chunk_id * {_CHUNK_STRIDE} AS start_token,
               len(list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                              chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}))
                   AS n_tokens,
               md5(array_to_string(
                   list_slice(toks, chunk_id * {_CHUNK_STRIDE} + 1,
                              chunk_id * {_CHUNK_STRIDE} + {_CHUNK_TOKENS}),
                   ' ')) AS chunk_hash
        FROM c
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document → OVERLAPPING token chunks: 64-token windows starting
    every 48 tokens (16-token overlap), emitted as (doc_id, chunk_id,
    start_token, n_tokens, md5-of-chunk). The sibling of
    ``doc_chunk_fixed_tokens`` for retrieval/pretraining pipelines
    where a hard boundary mid-sentence loses context — the overlap
    means every token within 16 of a boundary appears in two chunks.

    Same zero-shuffle HOF shape as the fixed chunker: tokenize once,
    explode the window-start sequence (one start per stride while
    start < n_tokens, so the expansion factor is ~n/48 map-side),
    slice per start, hash. The md5 makes the emitted chunk text
    hash-checkable cross-engine without shipping it. Empty docs emit
    zero chunks (guarded sequence), never an abort."""
    d = load(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks")).withColumn(
        "n", F.size("toks")
    )
    idx = F.when(
        F.col("n") > 0,
        F.sequence(
            F.lit(0),
            F.ceil(F.col("n") / F.lit(float(_CHUNK_STRIDE))).cast("long") - 1,
        ),
    ).otherwise(F.array().cast("array<long>"))
    chunk = F.slice(
        F.col("toks"),
        (F.col("chunk_id") * _CHUNK_STRIDE + 1).cast("int"),
        _CHUNK_TOKENS,
    )
    return (
        tk.select("doc_id", "toks", F.explode(idx).alias("chunk_id"))
        .select(
            "doc_id",
            "chunk_id",
            (F.col("chunk_id") * _CHUNK_STRIDE).alias("start_token"),
            F.size(chunk).alias("n_tokens"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"),
        )
    )


@register(
    "curation_sample_apply",
    category="curation",
    oracle="""
        WITH per_source AS (
            SELECT source,
                   CAST(coalesce(sum(len(list_filter(
                            string_split(lower(text), ' '),
                            t -> t <> ''))), 0) AS BIGINT) AS tok_count
            FROM documents GROUP BY source
        ),
        rates AS (
            SELECT source,
                   CASE WHEN tok_count > 0
                        THEN round(CAST(least(tok_count,
                                   (SELECT max(tok_count) * 4
                                    FROM per_source) // 5) AS DOUBLE)
                                   / tok_count, 6)
                        ELSE 0.0 END AS sample_rate
            FROM per_source
        )
        SELECT d.doc_id, d.source, r.sample_rate
        FROM documents d JOIN rates r ON r.source = d.source
        WHERE CAST(CAST(concat('0x', substring(md5(d.text), 1, 15))
                        AS BIGINT) AS DOUBLE)
              / 1152921504606846976.0 < r.sample_rate
    """,
)
def curation_sample_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZE the training mix: apply ``curation_mix_weights``'
    per-source sampling rates as a deterministic content-hash keep/drop
    — the step that turns the allocation table into an actual sampled
    corpus, closing the mix-weights loop (compute rates → sample by
    them) inside the graded surface.

    The keep test is ``u < rate`` with u = the md5-portable 60-bit
    BIGINT (dedup._mh_expr protocol) scaled by 2⁻⁶⁰ — a power-of-two
    scaling, so u is EXACTLY the integer's value in double on both
    engines, and the rate is one 6dp-rounded division of exact BIGINTs:
    the comparison is bit-deterministic cross-engine with no boundary
    hazard. Membership is a pure function of (text, source-level rate):
    re-runs reproduce the split, corpus growth only dilutes the rate,
    engine swaps agree. A rate-1.0 source keeps every document
    (u < 1.0 always: u ∈ [0,1)); a NULL-text document hashes to NULL
    and drops — under-sampling, never a crash (dirty-data convention).

    Scale shape: the rates relation is source-cardinality and
    broadcast; the keep test is per-row expression algebra inside
    codegen — ONE corpus scan beyond the rate aggregation, no new
    shuffle of the corpus."""
    rates = curation_mix_weights(spark, sf_dir).select("source", "sample_rate")
    d = load(spark, sf_dir, "documents")
    u = F.expr(
        "CAST(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"
        " AS DOUBLE)"
    ) / F.lit(float(2**60))
    return (
        d.join(F.broadcast(rates), "source")
        .filter(u < F.col("sample_rate"))
        .select("doc_id", "source", "sample_rate")
    )


def _quality_verdict_cte() -> str:
    """The corpus_quality_filter verdict chain as a reusable oracle CTE
    (text_analysis.py owns the Spark twin; same rule precedence)."""
    from .text_analysis import ALL_STOPWORDS

    stop = ", ".join(repr(w) for w in ALL_STOPWORDS)
    return f"""
        WITH toked AS (
            SELECT doc_id, lang, n_chars, text,
                   list_filter(string_split(lower(text), ' '), t -> t <> '')
                       AS toks
            FROM documents
        ),
        q AS (
            SELECT doc_id, text,
                   CAST(len(toks) AS BIGINT) AS n_tokens,
                   CASE
                       WHEN text IS NULL THEN 'empty'
                       WHEN n_chars < 20 THEN 'too_short'
                       WHEN len(toks) < 5 THEN 'too_few_tokens'
                       WHEN CAST(len(list_distinct(toks)) AS DOUBLE)
                                / len(toks) < 0.3 THEN 'repetitive'
                       WHEN CAST(len(list_filter(toks, t ->
                                list_contains([{stop}], t))) AS DOUBLE)
                                / len(toks) < 0.02 THEN 'no_function_words'
                       ELSE 'keep'
                   END AS verdict
            FROM toked
        )
    """


def _pipeline_oracle() -> str:
    return _quality_verdict_cte() + """
        , fp AS (
            SELECT q.*,
                   md5(text) AS f,
                   CAST(CAST(concat('0x', substring(md5(text), 1, 15))
                             AS BIGINT) AS DOUBLE)
                       / 1152921504606846976.0 AS u,
                   min(CASE WHEN verdict = 'keep' THEN doc_id END)
                       OVER (PARTITION BY md5(text)) AS canon
            FROM q
        )
        SELECT doc_id, n_tokens,
               CASE
                   WHEN verdict <> 'keep' THEN concat('drop:', verdict)
                   WHEN doc_id <> canon THEN 'dup'
                   WHEN u < 0.7 THEN 'train'
                   WHEN u < 0.9 THEN 'eval'
                   ELSE 'test'
               END AS disposition
        FROM fp
    """


@register(
    "curation_pipeline_e2e",
    category="curation",
    oracle=_pipeline_oracle(),
)
def curation_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP curation pipeline, end to end in one plan: quality
    gate → exact dedup → deterministic train/eval/test split, emitting
    one auditable disposition row per document ('drop:<reason>' /
    'dup' / 'train' / 'eval' / 'test') plus its token count — the
    lineage record a 100 TB curation run has to be able to produce for
    every input document.

    Stage composition (all graded primitives, composed not re-derived):
    the verdict chain IS ``corpus_quality_filter`` (imported, not
    copied); dedup keeps the min doc_id per md5(text) fingerprint
    AMONG KEEPERS (a dropped doc never canonicalizes away a kept dup —
    the FILTERed window min does this in one pass, no separate dedup
    join); the split is the ``curation_sample_apply`` content-hash
    protocol (60-bit md5 prefix scaled by 2⁻⁶⁰ — exact in double, so
    the 0.7/0.9 cuts are bit-deterministic cross-engine and re-runs
    reproduce the split under corpus growth).

    Scale shape: one corpus scan computes tokens + verdict + hash in
    codegen; the ONLY exchange is the fingerprint window (keyed on
    md5(text) — uniform by construction, no skew); disposition is pure
    row algebra after it. NULL text hashes to a NULL fingerprint
    partition, but every such row is already 'drop:empty' before the
    dedup rule looks at it."""
    from .text_analysis import corpus_quality_filter

    q = corpus_quality_filter(spark, sf_dir).select(
        "doc_id", "n_tokens", "verdict"
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    j = d.join(q, "doc_id")
    u = F.expr(
        "CAST(CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"
        " AS DOUBLE)"
    ) / F.lit(float(2**60))
    canon = F.min(
        F.when(F.col("verdict") == "keep", F.col("doc_id"))
    ).over(Window.partitionBy(F.md5("text")))
    disposition = (
        F.when(
            F.col("verdict") != "keep",
            F.concat(F.lit("drop:"), F.col("verdict")),
        )
        .when(F.col("doc_id") != canon, "dup")
        .when(u < 0.7, "train")
        .when(u < 0.9, "eval")
        .otherwise("test")
    )
    return j.select(
        "doc_id", "n_tokens", disposition.alias("disposition")
    )


_BOILER_MIN_DOCS = 3  # a shingle in >= this many docs is boilerplate


@register(
    "corpus_boilerplate_ngrams",
    category="curation",
    oracle=f"""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS i
            FROM documents
        ),
        tri AS (
            SELECT DISTINCT t1.doc_id,
                   t1.term || ' ' || t2.term || ' ' || t3.term AS tri
            FROM toks t1
            JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
            JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
        ),
        boiler AS (
            SELECT tri FROM tri GROUP BY tri
            HAVING count(*) >= {_BOILER_MIN_DOCS}
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(count(b.tri) AS BIGINT) AS n_boiler
        FROM tri t LEFT JOIN boiler b ON b.tri = t.tri
        GROUP BY t.doc_id
    """,
)
def corpus_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-frequency boilerplate measurement — the CCNet/RefinedWeb
    cleaning signal the per-document repetition ratio cannot see: a
    navigation bar or cookie banner repeats across DOCUMENTS, not
    within one, so it is invisible to ``text_repetition_ratio`` and
    only shows up as word-trigrams whose document frequency exceeds a
    corpus threshold. Emits per-doc (distinct shingles, boilerplate
    shingles); the drop rule is a downstream integer comparison on the
    two counts (exact rational, no float ratio in the graded output).

    Rides the dedup family's cached shingle relation (one keyed
    shuffle, already persisted for the near-dup queries — this query
    adds NO new corpus scan), then two shingle-keyed exchanges:
    document frequency per shingle, and a left join back tagging each
    doc's shingles. At 100 TB both are classic map-side-combine
    aggregations on the shingle key; the boilerplate relation is tiny
    (df >= threshold trims the long tail) and broadcast-joins back.
    Docs with no complete trigram (NULL/short text) have no shingle
    row and are absent on both sides, the standing convention."""
    from .dedup import _exploded_shingles

    tri = _exploded_shingles(spark, sf_dir).select("doc_id", "s")
    boiler = (
        tri.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= _BOILER_MIN_DOCS)
        .select("s", F.lit(1).alias("is_b"))
    )
    return (
        tri.join(boiler, "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(F.coalesce(F.col("is_b"), F.lit(0))).cast("long").alias("n_boiler"),
        )
    )


@register(
    "text_ngram_novelty",
    category="curation",
    oracle="""
        WITH toks AS (
            SELECT doc_id,
                   unnest(string_split(lower(text), ' ')) AS term,
                   generate_subscripts(string_split(lower(text), ' '), 1) AS i
            FROM documents
        ),
        tri AS (
            SELECT DISTINCT t1.doc_id,
                   t1.term || ' ' || t2.term || ' ' || t3.term AS tri
            FROM toks t1
            JOIN toks t2 ON t2.doc_id = t1.doc_id AND t2.i = t1.i + 1
            JOIN toks t3 ON t3.doc_id = t1.doc_id AND t3.i = t1.i + 2
        ),
        firsts AS (
            SELECT tri, min(doc_id) AS first_doc FROM tri GROUP BY tri
        )
        SELECT t.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.first_doc = t.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel,
               round((100.0 * sum(CASE WHEN f.first_doc = t.doc_id
                                       THEN 1 ELSE 0 END))
                     / count(*), 4) AS novelty_pct
        FROM tri t JOIN firsts f ON f.tri = t.tri
        GROUP BY t.doc_id
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document NOVELTY score: the fraction of a doc's distinct
    word-trigrams that the corpus has never seen in any earlier doc
    (earliest doc_id owns the shingle) — the dual of
    ``corpus_boilerplate_ngrams``: that flags what repeats everywhere,
    this flags what each doc adds. The standard ingest-ordering signal
    for dedup-aware curation: a crawl whose novelty curve collapses is
    re-crawling itself, and low-novelty docs are the first dropped
    when packing a token budget.

    Shape: rides the dedup family's cached shingle relation (zero new
    corpus scan), one shingle-keyed map-side-combined min() for the
    first-owner relation, then a join back ON THE SAME KEY — Catalyst
    reuses the aggregation's hash partitioning for the probe side, so
    the marginal cost over the boilerplate query is one exchange-free
    join plus the doc-keyed rollup. At 100 TB the first-owner relation
    is the shingle vocabulary (≪ corpus); ownership-by-min is
    associative, so partial aggregation holds. novelty_pct divides two
    exact BIGINTs in one double op — identical IEEE tree both engines.
    Docs with no complete trigram have no shingle row and are absent
    on both sides (standing convention)."""
    from .dedup import _exploded_shingles

    tri = _exploded_shingles(spark, sf_dir).select("doc_id", "s")
    firsts = tri.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        tri.join(firsts, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            novel.cast("long").alias("n_novel"),
            F.round(
                (F.lit(100.0) * novel) / F.count(F.lit(1)), 4
            ).alias("novelty_pct"),
        )
    )


@register(
    "curation_temperature_mix",
    category="curation",
    oracle="""
        WITH per_source AS (
            SELECT source,
                   CAST(coalesce(sum(len(list_filter(
                            string_split(lower(text), ' '),
                            t -> t <> ''))), 0) AS BIGINT) AS tok_count
            FROM documents GROUP BY source
        ),
        t AS (
            SELECT source, tok_count,
                   CAST(round(1000000.0 * sqrt(CAST(tok_count AS DOUBLE)))
                        AS BIGINT) AS wq
            FROM per_source
        )
        SELECT source, tok_count,
               round(CAST(wq AS DOUBLE)
                     / (SELECT CAST(sum(wq) AS DOUBLE) FROM t), 6)
                   AS mix_weight,
               CAST(round((CAST(wq AS DOUBLE)
                           / (SELECT CAST(sum(wq) AS DOUBLE) FROM t))
                          * 1000000) AS BIGINT) AS alloc_ppm
        FROM t
    """,
)
def curation_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-scaled source mixing at τ = 0.5: each source's
    sampling weight ∝ its token count^τ — the standard multilingual /
    multi-source rebalancing (upweight the tail, temper the head)
    beside the hard relative cap of ``curation_mix_weights``. Emits
    the normalized mix weight and an integer parts-per-million
    allocation (what a downstream sampler actually consumes).

    τ = 0.5 is not just the literature's default — it is the ONE
    non-integer temperature that is exactly portable: sqrt is
    correctly rounded in IEEE 754 (pow(x, τ) is not), so both engines
    compute bit-identical weights from the exact integer token counts,
    each weight is then quantized to integer micro-units BEFORE the
    normalizing sum, so the cross-engine reduction is associative
    BIGINT addition (the quantized-reduction convention,
    cf. agg_chi2_independence) — never an order-sensitive float fold.

    Shape: one corpus-scan token count (map-side combined, the same
    aggregation the cap-based mix runs), then scalar algebra on the
    broadcast-sized source relation; the 1-row total joins keylessly —
    the allowlisted O(1) BNLJ pattern."""
    from .text_analysis import tokens

    d = load(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.coalesce(
            F.sum(F.size(tokens("text"))), F.lit(0)
        ).cast("long").alias("tok_count")
    )
    t = per.select(
        "source",
        "tok_count",
        F.round(
            F.lit(1000000.0) * F.sqrt(F.col("tok_count").cast("double"))
        ).cast("long").alias("wq"),
    )
    tot = t.agg(F.sum("wq").alias("tw"))
    mix = F.col("wq").cast("double") / F.col("tw").cast("double")
    return t.join(F.broadcast(tot)).select(
        "source",
        "tok_count",
        F.round(mix, 6).alias("mix_weight"),
        F.round(mix * F.lit(1000000)).cast("long").alias("alloc_ppm"),
    )
