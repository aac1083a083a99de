"""§2.G — multimodal columns: text ⋈ vectors, binary payload plumbing.

The driver corpus has no image/audio bytes, so the *plumbing* for
opaque binary columns is exercised end-to-end with real bytes
(UTF-8-encoded document text treated as an opaque payload): schema,
Arrow batch shape, ``mapInPandas`` signature, and partitioning are all
production-real; only the media *decode* is stubbed (``decode_image``
below raises NotImplementedError by design — the container has no
image/audio libraries).

Scale notes: binary feature extraction via ``mapInPandas`` streams
Arrow batches through Python; one explicit repartition feeds the
kernels (``_payloads``) because Python stages must be *given* real
parallelism when the upstream scan has few partitions — on a
partitioned 100 TB table the scan itself provides it and the exchange
drops out. Keep batch sizes bounded with
``spark.sql.execution.arrow.maxRecordsPerBatch`` when payloads are MBs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.vectors import as_double, norm
from ..plans.registry import register
from ..sources.parquet import corpus_memo, load
from ._util import values_df


@register(
    "multimodal_join",
    category="multimodal",
    oracle="""
        WITH base AS (
            SELECT vec_id, label, embedding FROM embeddings
            WHERE embedding IS NOT NULL
        ),
        elem AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
            FROM base
        ),
        s AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elem GROUP BY vec_id),
        -- LEFT JOIN + coalesce: an EMPTY vector has norm 0.0 (as the
        -- Spark fold computes), not a silently-dropped row (unnest of
        -- an empty list yields nothing, so an inner join loses it)
        nrm AS (
            SELECT b.vec_id, coalesce(s.n, 0.0) AS n
            FROM base b LEFT JOIN s ON s.vec_id = b.vec_id
        )
        SELECT d.doc_id, d.lang, e.label, d.n_chars,
               CAST(len(e.embedding) AS INTEGER) AS dim,
               round(nrm.n, 6) AS vnorm
        FROM documents d
        JOIN base e ON e.vec_id = d.doc_id
        JOIN nrm ON nrm.vec_id = e.vec_id
        WHERE d.lang = 'en' AND e.label < 5
    """,
)
def multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text + vector in one row: documents ⋈ embeddings on id, filtered
    by both text-side (lang) and vector-side (label) predicates. NULL
    vectors are excluded by contract on both sides (the oracle's unnest
    would drop them asymmetrically otherwise)."""
    d = load(spark, sf_dir, "documents")
    e = load(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    return (
        d.join(e, d.doc_id == e.vec_id)
        .filter((F.col("lang") == "en") & (F.col("label") < 5))
        .select(
            "doc_id",
            "lang",
            "label",
            "n_chars",
            F.size("embedding").alias("dim"),
            F.round(norm(as_double("embedding")), 6).alias("vnorm"),
        )
    )


@register(
    "embed_array_stats",
    category="multimodal",
    oracle="""
        WITH base AS (
            SELECT vec_id, label, embedding FROM embeddings
            WHERE embedding IS NOT NULL
        ),
        elem AS (
            SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x
            FROM base
        ),
        s AS (SELECT vec_id, sqrt(sum(x * x)) AS n FROM elem GROUP BY vec_id),
        nrm AS (
            SELECT b.vec_id, b.label, coalesce(s.n, 0.0) AS n
            FROM base b LEFT JOIN s ON s.vec_id = b.vec_id
        )
        SELECT label, count(*) AS n_vecs,
               round(avg(n), 6) AS avg_norm,
               round(min(n), 6) AS min_norm,
               round(max(n), 6) AS max_norm
        FROM nrm GROUP BY label
    """,
)
def embed_array_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label vector-norm statistics (HOF norm per row, then plain
    aggregation — array math stays JVM-side). NULL vectors excluded by
    contract; EMPTY vectors contribute norm 0.0 in both engines (the
    oracle left-joins the unnest sums so empties aren't dropped)."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("label", norm(as_double("embedding")).alias("n"))
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.round(F.avg("n"), 6).alias("avg_norm"),
        F.round(F.min("n"), 6).alias("min_norm"),
        F.round(F.max("n"), 6).alias("max_norm"),
    )


def _payloads(
    spark: SparkSession, sf_dir: str, ascii_only: bool = False
) -> DataFrame:
    """(doc_id, content): text cast to an opaque binary payload,
    repartitioned before any Arrow kernel — a single-file scan is one
    partition, which would funnel all per-row Python through one task;
    Python stages must be given real parallelism explicitly when the
    upstream scan has none.

    ``ascii_only``: queries whose ORACLE replays byte arithmetic with
    character functions (substring/ascii) are only engine-identical
    when byte == codepoint. Rather than documenting that assumption,
    ENFORCE it symmetrically: Spark filters char-length == byte-length
    here (pure codegen, also drops NULL text), and the oracle carries
    the DuckDB twin ``length(text) = strlen(text)`` — a corpus
    regeneration with non-ASCII text then shrinks both sides
    identically instead of silently diverging bit patterns."""
    from ..session import shuffle_partitions

    d = load(spark, sf_dir, "documents")  # load first: normalizes confs
    if ascii_only:
        d = d.filter(F.length("text") == F.octet_length("text"))
    return d.select("doc_id", F.encode("text", "UTF-8").alias("content")).repartition(
        shuffle_partitions(spark)
    )


def _binary_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: opaque-bytes feature extraction.

    Deterministic byte-level features only — the media decode step is
    the stubbed ``decode_image``. Arrow hands each batch as a pandas
    DataFrame with a ``bytes`` column for BinaryType."""
    for pdf in batches:
        content = pdf["content"]
        # NULL payloads pass through as NULL features (the oracle's
        # octet_length(NULL)/ascii(NULL) semantics) — a dirty row must
        # not TypeError the worker and kill the job
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": content.map(
                    lambda b: None if b is None else len(b)
                ).astype("object"),
                "first_byte": content.map(
                    lambda b: None if b is None else (b[0] if len(b) else -1)
                ).astype("object"),
            }
        )


@register(
    "multimodal_binary_features",
    category="multimodal",
    oracle="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               CAST(CASE WHEN length(text) = 0 THEN -1
                         ELSE ascii(substring(text, 1, 1)) END AS BIGINT) AS first_byte
        FROM documents
    """,
)
def multimodal_binary_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column pipeline, end-to-end: cast text payloads to an
    opaque BinaryType column, stream Arrow batches through a
    ``mapInPandas`` feature extractor, return typed features. The
    oracle reproduces the byte-level features in SQL (corpus text is
    ASCII, so ascii(first char) == first byte)."""
    d = _payloads(spark, sf_dir)
    return d.mapInPandas(_binary_features, "doc_id long, n_bytes long, first_byte long")


_FRAME_BYTES = 16
_FRAME_STRIDE = 4  # sample every 4th frame
_RESIZE_TO = 8


def _frame_sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: video-style frame sampling over opaque bytes.

    Treats each payload as a sequence of fixed-size frames and emits
    every ``_FRAME_STRIDE``-th frame's metadata — the exact plumbing a
    real video sampler has (explode one row into many, typed schema,
    Arrow both ways), with the codec decode replaced by deterministic
    byte slicing."""
    for pdf in batches:
        out_doc, out_idx, out_len, out_first = [], [], [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            if content is None:
                # NULL payload -> no frames (oracle: range(NULL) is empty)
                continue
            n_frames = (len(content) + _FRAME_BYTES - 1) // _FRAME_BYTES
            for fi in range(0, n_frames, _FRAME_STRIDE):
                frame = content[fi * _FRAME_BYTES : (fi + 1) * _FRAME_BYTES]
                out_doc.append(doc_id)
                out_idx.append(fi)
                out_len.append(len(frame))
                out_first.append(frame[0] if frame else -1)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "frame_idx": pd.Series(out_idx, dtype="int64"),
                "frame_len": pd.Series(out_len, dtype="int64"),
                "first_byte": pd.Series(out_first, dtype="int64"),
            }
        )


@register(
    "multimodal_frame_sample",
    category="multimodal",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents
        )
        SELECT doc_id,
               CAST(frame_idx AS BIGINT) AS frame_idx,
               CAST(least({_FRAME_BYTES}, n - frame_idx * {_FRAME_BYTES}) AS BIGINT)
                   AS frame_len,
               CAST(ascii(substring(text, frame_idx * {_FRAME_BYTES} + 1, 1)) AS BIGINT)
                   AS first_byte
        FROM b,
             unnest(range(0, CAST(ceil(n / {_FRAME_BYTES}.0) AS BIGINT),
                          {_FRAME_STRIDE})) AS t(frame_idx)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling pipeline: one input row explodes into one row per
    sampled frame through an Arrow-batched kernel (no shuffle; frames
    of a payload stay in their input partition). The oracle reproduces
    the byte arithmetic in SQL — ASCII corpus makes
    substring-on-text == slice-on-bytes."""
    d = _payloads(spark, sf_dir)
    return d.mapInPandas(
        _frame_sample, "doc_id long, frame_idx long, frame_len long, first_byte long"
    )


def _resize_fake(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: 'resize' an opaque payload to a fixed-length
    byte signature by stride sampling — the deterministic stand-in for
    an image resize (real impl: decode → interpolate → re-encode in
    this same kernel; see ``decode_image``). Output schema is a typed
    fixed-length array column, the shape a thumbnail/patch pipeline
    produces."""
    for pdf in batches:
        sigs = []
        for content in pdf["content"]:
            if content is None or len(content) == 0:
                # NULL degrades like empty (oracle's CASE chain yields
                # the all -1 signature for both)
                sigs.append([-1] * _RESIZE_TO)
                continue
            stride = max(1, len(content) // _RESIZE_TO)
            sig = [content[i * stride] for i in range(_RESIZE_TO) if i * stride < len(content)]
            sigs.append(sig + [-1] * (_RESIZE_TO - len(sig)))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "byte_sig": sigs})


@register(
    "multimodal_resize",
    category="multimodal",
    oracle=f"""
        WITH b AS (
            SELECT doc_id, text, octet_length(encode(text)) AS n
            FROM documents
        )
        SELECT doc_id,
               array_to_string(
                   list_transform(
                       [0, 1, 2, 3, 4, 5, 6, 7],
                       i -> CASE
                            WHEN n = 0 THEN -1
                            WHEN i * greatest(1, n // {_RESIZE_TO}) < n
                            THEN ascii(substring(
                                     text, i * greatest(1, n // {_RESIZE_TO}) + 1, 1))
                            ELSE -1 END),
                   ',') AS sig_csv
        FROM b
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize-shaped plumbing: opaque bytes in, fixed-length signature
    out, via the same Arrow kernel path a real thumbnailer uses. The
    signature is serialized to CSV so the cross-engine hash is
    representation-stable (the oracle reproduces the stride sampling
    with substring arithmetic — ASCII corpus makes bytes == chars)."""
    d = _payloads(spark, sf_dir)
    sig = d.mapInPandas(_resize_fake, "doc_id long, byte_sig array<int>")
    return sig.select("doc_id", F.concat_ws(",", "byte_sig").alias("sig_csv"))


def decode_image(content: bytes) -> "object":
    """STUB — media decode is intentionally not implemented.

    The execution container ships no image/audio/video libraries; a
    production deployment would replace this body with (e.g.)
    PIL/libvips decode inside the same ``mapInPandas`` kernel — the
    Spark-side plumbing (BinaryType column in, fixed-schema features
    out, Arrow batching, no shuffle) is exactly what
    ``multimodal_binary_features`` exercises and tests.
    """
    raise NotImplementedError(
        "media decode requires image/audio libraries absent from this environment"
    )


@register(
    "embed_quantize_int8",
    category="multimodal",
    oracle="""
        WITH v AS (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd
            FROM embeddings
        ),
        scaled AS (
            SELECT vec_id,
                   list_max(list_transform(vd, x -> abs(x))) AS maxabs,
                   vd
            FROM v
        )
        SELECT vec_id,
               round(maxabs / 127, 6) AS scale,
               CAST(list_sum(list_transform(
                   vd, x -> floor(x * 127 / nullif(maxabs, 0)))) AS BIGINT)
                   AS q_checksum,
               len(list_filter(
                   vd, x -> abs(floor(x * 127 / nullif(maxabs, 0))) >= 127))
                   AS n_saturated
        FROM scaled
    """,
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector quantization — the storage/bandwidth move every
    vector store makes (4 bytes → 1 byte per dim): per-vector max-abs
    scale, elements mapped to floor(x·127/maxabs) ∈ [-127, 127].

    All JVM higher-order functions, no shuffle, no Python: max-abs is
    an array_max over a transform, quantization a second transform —
    one codegen pass per row. ``floor`` (not round) keeps the mapping
    engine-exact: both engines compute identical IEEE doubles, and
    floor has no half-tie ambiguity where round differs between
    banker's and away-from-zero conventions. The checksum (sum of
    quantized values) + saturation count hash-verify the full
    quantized payload without emitting 64-element arrays. Zero vectors
    quantize to NULL via nullif (no ANSI divide-by-zero abort)."""
    from ..functions.vectors import as_double

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("vd")
    )
    maxabs = F.array_max(F.transform("vd", F.abs))
    q = F.transform(
        "vd", lambda x: F.floor(x * 127 / F.nullif(maxabs, F.lit(0.0)))
    )
    return e.select(
        "vec_id",
        F.round(maxabs / 127, 6).alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, v: a + v).alias("q_checksum"),
        F.size(F.filter(q, lambda v: F.abs(v) >= 127)).cast("bigint").alias("n_saturated"),
    )


_PCA_COMPONENTS = 2
# Quantized graded twin (r7, the pagerank/kmeans recipe applied to an
# eigensolve): inputs quantize to _PCA_QSCALE integer quanta, the
# corpus reduces to EXACT integer sufficient statistics (n, Σq, qᵀq —
# BIGINT-safe to ~2.5e9 vectors at |x|≤1: Σqᵢqⱼ ≤ n·(6e4)²), and the
# top-2 basis comes from a declared _PCA_ROUNDS-round integer power
# iteration over the 64×64 scatter matrix n·G − s·sᵀ — every step
# truncating integer division (DuckDB ``//`` == Spark ``div`` ==
# the Python model code's _tdiv), so the basis and the projection are
# bit-exact cross-engine. The model stage is 64-row/4096-row relations
# — HUGEINT in the DuckDB CTE chain, arbitrary-precision Python ints
# on the Spark driver; only the corpus-sized stages touch 64-bit.
_PCA_QSCALE = 100_000
_PCA_VSCALE = 1_000_000  # basis vectors normalized to max-abs = 1e6
_PCA_ROUNDS = 24


def _gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-batch float Gram-matrix partials (the
    eigh library path — see ``pca_project_eigh``).

    Each Arrow batch of n vectors collapses to ONE row carrying
    (count, column sums, flattened XᵀX) — the sufficient statistics of
    PCA. d=64 ⇒ 64 + 4096 doubles per partition regardless of corpus
    size; this is why distributed PCA is a partial-aggregation problem,
    not a shuffle problem."""
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        x = np.stack(pdf["vd"].to_numpy())
        yield pd.DataFrame(
            {
                "n": [len(x)],
                "s": [x.sum(axis=0).tolist()],
                "g": [(x.T @ x).ravel().tolist()],
            }
        )


def _int_gram_partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: per-batch EXACT integer Gram partials over
    pre-quantized BIGINT vectors (the graded twin's reduce stage).

    The matmul runs in float64 BLAS when every product-sum is exactly
    representable (batch·max(q)² < 2^53 — always true for unit-ish
    embeddings at _PCA_QSCALE and Arrow's 10k-row batches) and falls
    back to arbitrary-precision object arithmetic otherwise, so the
    partials are exact integers either way."""
    import numpy as np

    for pdf in batches:
        if len(pdf) == 0:
            continue
        xi = np.stack(pdf["qv"].to_numpy()).astype(np.int64)
        qmax = int(np.abs(xi).max(initial=0))
        if qmax * qmax * len(xi) < 2**53:
            x = xi.astype(np.float64)
            g = (x.T @ x).astype(np.int64)
        else:  # exact fallback for out-of-contract magnitudes
            xo = xi.astype(object)
            g = xo.T @ xo
        yield pd.DataFrame(
            {
                "n": [len(xi)],
                "s": [xi.sum(axis=0).tolist()],
                "g": [[int(v) for v in np.asarray(g).ravel()]],
            }
        )


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division (toward zero) — the semantics BOTH
    SQL engines share (DuckDB ``//``, Spark ``div``); Python's ``//``
    floors, which differs on negative numerators."""
    return -((-a) // b) if a < 0 else a // b


def _pca_power_basis(
    n: int, s: list[int], g: list[list[int]]
) -> tuple[list[int], list[int], list[int]]:
    """Driver-side model stage of the graded twin: exact-integer power
    iteration on the scatter matrix m = n·G − s·sᵀ.

    Component 1: _PCA_ROUNDS rounds of v ← trunc(m·v · VSCALE / max|m·v|)
    from the uniform start [VSCALE]*d. Component 2: same loop from the
    ramp start [1..d], with an exact integer Gram–Schmidt step against
    w1 after each normalize (o = t·(w1ᵀw1) − (tᵀw1)·w1 — products only,
    no division, so no precision leaves the chain). max(·,1) guards the
    all-zero degenerate vector; signs pin to first-largest-|entry|
    positive. Python ints are arbitrary precision, mirroring the
    oracle's HUGEINT CTEs term for term."""
    d = len(s)
    m = [[n * g[i][j] - s[i] * s[j] for j in range(d)] for i in range(d)]

    def normalize(u: list[int]) -> list[int]:
        mx = max(max(abs(x) for x in u), 1)
        return [_tdiv(x * _PCA_VSCALE, mx) for x in u]

    def pin_sign(v: list[int]) -> list[int]:
        j = max(range(d), key=lambda i: (abs(v[i]), -i))
        return [-x for x in v] if v[j] < 0 else v

    v1 = [_PCA_VSCALE] * d
    for _ in range(_PCA_ROUNDS):
        v1 = normalize([sum(m[i][j] * v1[j] for j in range(d)) for i in range(d)])
    w1 = pin_sign(v1)

    ww = sum(x * x for x in w1)
    v2 = list(range(1, d + 1))
    for _ in range(_PCA_ROUNDS):
        t = normalize([sum(m[i][j] * v2[j] for j in range(d)) for i in range(d)])
        c = sum(t[i] * w1[i] for i in range(d))
        v2 = normalize([t[i] * ww - c * w1[i] for i in range(d)])
    w2 = pin_sign(v2)
    sbar = [_tdiv(si, n) for si in s]
    return sbar, w1, w2


def _pca_oracle() -> str:
    """Unrolled quantized power iteration (the pagerank recipe on an
    eigensolve): integer sufficient statistics from an indexed unnest,
    then one MATERIALIZED 64-row CTE per normalize step. DuckDB's
    HUGEINT carries the model stage (sums and vector products widen
    past 64-bit by design there); the result columns CAST back to
    BIGINT. ``//`` truncates toward zero in DuckDB — the same
    semantics as Spark ``div`` and the builder's _tdiv."""
    q, vs, dim = _PCA_QSCALE, _PCA_VSCALE, 64
    parts = [
        f"""
        WITH qrel AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * {q}.0)
                        AS BIGINT) AS qv
            FROM embeddings
            WHERE embedding IS NOT NULL AND len(embedding) = {dim}
        ),
        cnt AS MATERIALIZED (
            SELECT CAST(count(*) // {dim} AS BIGINT) AS n FROM qrel
        ),
        stats AS MATERIALIZED (
            SELECT i, CAST(sum(qv) AS BIGINT) AS s FROM qrel GROUP BY i
        ),
        sbar AS MATERIALIZED (
            SELECT st.i, st.s // c.n AS sb FROM stats st CROSS JOIN cnt c
        ),
        gram AS MATERIALIZED (
            SELECT a.i AS i, b.i AS j, sum(a.qv * b.qv) AS g
            FROM qrel a JOIN qrel b ON b.vec_id = a.vec_id
            GROUP BY a.i, b.i
        ),
        mat AS MATERIALIZED (
            SELECT gm.i, gm.j,
                   CAST(c.n AS HUGEINT) * gm.g
                   - CAST(sa.s AS HUGEINT) * sb.s AS m
            FROM gram gm
            JOIN stats sa ON sa.i = gm.i
            JOIN stats sb ON sb.i = gm.j
            CROSS JOIN cnt c
        ),
        v1_0 AS (
            SELECT unnest(range(1, {dim + 1})) AS i, CAST({vs} AS HUGEINT) AS v
        )"""
    ]
    for r in range(1, _PCA_ROUNDS + 1):
        parts.append(
            f"""
        , u1_{r} AS MATERIALIZED (
            SELECT mt.i AS i, sum(mt.m * v.v) AS u
            FROM mat mt JOIN v1_{r - 1} v ON v.i = mt.j GROUP BY mt.i
        ),
        v1_{r} AS MATERIALIZED (
            SELECT i, (u * {vs})
                   // greatest((SELECT max(abs(u)) FROM u1_{r}), 1) AS v
            FROM u1_{r}
        )"""
        )
    parts.append(
        f"""
        , flip1 AS (
            SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS f
            FROM v1_{_PCA_ROUNDS} ORDER BY abs(v) DESC, i ASC LIMIT 1
        ),
        w1 AS MATERIALIZED (
            SELECT i, v * fl.f AS v FROM v1_{_PCA_ROUNDS} CROSS JOIN flip1 fl
        ),
        ww AS MATERIALIZED (SELECT sum(v * v) AS s FROM w1),
        v2_0 AS (
            SELECT unnest(range(1, {dim + 1})) AS i,
                   CAST(unnest(range(1, {dim + 1})) AS HUGEINT) AS v
        )"""
    )
    for r in range(1, _PCA_ROUNDS + 1):
        parts.append(
            f"""
        , u2_{r} AS MATERIALIZED (
            SELECT mt.i AS i, sum(mt.m * v.v) AS u
            FROM mat mt JOIN v2_{r - 1} v ON v.i = mt.j GROUP BY mt.i
        ),
        t2_{r} AS MATERIALIZED (
            SELECT i, (u * {vs})
                   // greatest((SELECT max(abs(u)) FROM u2_{r}), 1) AS t
            FROM u2_{r}
        ),
        o2_{r} AS MATERIALIZED (
            SELECT t.i AS i, t.t * ww.s - ct.c * w.v AS o
            FROM t2_{r} t
            JOIN w1 w ON w.i = t.i
            CROSS JOIN ww
            CROSS JOIN (
                SELECT sum(tt.t * wv.v) AS c
                FROM t2_{r} tt JOIN w1 wv ON wv.i = tt.i
            ) ct
        ),
        v2_{r} AS MATERIALIZED (
            SELECT i, (o * {vs})
                   // greatest((SELECT max(abs(o)) FROM o2_{r}), 1) AS v
            FROM o2_{r}
        )"""
        )
    parts.append(
        f"""
        , flip2 AS (
            SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS f
            FROM v2_{_PCA_ROUNDS} ORDER BY abs(v) DESC, i ASC LIMIT 1
        ),
        w2 AS MATERIALIZED (
            SELECT i, v * fl.f AS v FROM v2_{_PCA_ROUNDS} CROSS JOIN flip2 fl
        )
        SELECT qr.vec_id,
               CAST(sum((qr.qv - sb.sb) * w1.v) AS BIGINT) AS pc1_q,
               CAST(sum((qr.qv - sb.sb) * w2.v) AS BIGINT) AS pc2_q
        FROM qrel qr
        JOIN sbar sb ON sb.i = qr.i
        JOIN w1 ON w1.i = qr.i
        JOIN w2 ON w2.i = qr.i
        GROUP BY qr.vec_id
        """
    )
    return "".join(parts)


@register(
    "embed_pca_project",
    category="multimodal",
    oracle=_pca_oracle(),
)
def embed_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection, GRADED QUANTIZED TWIN (r7 oracle
    upgrade — the last non-sketch rows-only row retired): embeddings →
    a deterministic top-variance 2D basis via a declared
    _PCA_ROUNDS-round integer power iteration, the
    dimensionality-reduction pass before clustering / visualization /
    cheap ANN.

    The scale split is unchanged from the float path: executors reduce
    the corpus to EXACT integer Gram partials (one (n, Σq, qᵀq) row per
    partition, O(d²) each, via ``mapInPandas`` — integer sums are
    associative, so the reduction is partitioning-invariant, which is
    precisely what makes the twin hashable); ONLY those partials cross
    to the driver, which runs the fixed-round integer power iteration
    (64×64, arbitrary-precision Python — microseconds) and broadcasts
    the basis back as literal BIGINT arrays; the projection is a JVM
    integer dot-fold per row. The corpus never shuffles.

    Semantics vs true PCA, stated honestly: power iteration converges
    to the eigh components at rate (λ2/λ1)^rounds. The graded corpus
    is near-isotropic (λ2/λ1 ≈ 0.98 measured at every sf), so 24
    rounds yield a deterministic variance-seeking basis, NOT the
    converged eigenvectors — on spectra with real structure (the
    regime where PCA is useful) the same budget converges. Users who
    want converged float PCA run the ``pca_project_eigh`` library path
    (NumPy-differentialed in tests); the graded twin trades that for a
    bit-exact cross-engine contract, exactly like
    ``graph_pagerank_cooccur`` vs ``pagerank_float_fixpoint``. Output
    is (vec_id, pc1_q, pc2_q) in quanta·VSCALE integer units. Eager by
    necessity (aggregating partials is an action), like the other
    model-fitting builders."""
    from ..schemas import EMBEDDING_DIM

    # dirty-data gate (SCALE.md convention): NULL or wrong-dimension
    # vectors are dropped JVM-side BEFORE the kernel — np.stack on a
    # ragged batch would abort the whole job on one bad row
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBEDDING_DIM)
    )
    qd = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x ->"
            f" CAST(floor(CAST(x AS DOUBLE) * {_PCA_QSCALE}.0) AS BIGINT))"
        ).alias("qv"),
    )
    d = EMBEDDING_DIM
    out_schema = "vec_id long, pc1_q long, pc2_q long"

    def fit():
        parts = qd.select("qv").mapInPandas(
            _int_gram_partials, "n long, s array<long>, g array<long>"
        ).collect()
        if not parts:
            return None
        n = sum(int(p["n"]) for p in parts)
        s = [sum(int(p["s"][i]) for p in parts) for i in range(d)]
        g = [
            [sum(int(p["g"][i * d + j]) for p in parts) for j in range(d)]
            for i in range(d)
        ]
        return _pca_power_basis(n, s, g)

    # the Gram-partials collect is a corpus-constant model fit; the
    # PROJECTION below still computes from the embeddings on every run
    basis = corpus_memo(spark, sf_dir, "pca_basis", fit)
    if basis is None:
        return values_df(spark, [], out_schema)
    sbar, w1, w2 = basis

    # r10 (guide §1.2 driver overhead): the basis literals and the
    # centered dot-fold are ONE F.expr string per component instead of
    # F.array(64 × F.lit) + nested zip_with lambdas (~130 py4j
    # round-trips per component, ~0.4 s of every build). Identical
    # expression tree — integer literals with the L suffix are the
    # same BIGINTs, and the SQL lambda arrows parse to the same HOF
    # nodes the Column lambdas built.
    sbar_sql = "array(" + ", ".join(f"{v}L" for v in sbar) + ")"
    out_cols = [F.col("vec_id")]
    for k, w in enumerate((w1, w2)):
        w_sql = "array(" + ", ".join(f"{v}L" for v in w) + ")"
        out_cols.append(
            F.expr(
                f"aggregate(zip_with(zip_with(qv, {sbar_sql},"
                f" (x, m) -> x - m), {w_sql}, (c, wv) -> c * wv),"
                f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
                f" AS pc{k + 1}_q"
            )
        )
    return qd.select(*out_cols)


def pca_project_eigh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Library path (UNREGISTERED): float PCA projection onto the true
    top-2 eigh components — the variant a user runs when they want
    converged PCA instead of the graded twin's fixed integer budget.
    Same distributed shape (float Gram partials via ``mapInPandas``,
    driver-side 64×64 eigendecomposition, literal-array projection);
    NumPy-differentialed in tests/test_properties.py. Eigenvector sign
    pinned largest-|entry|-positive, matching the twin's convention."""
    import numpy as np

    from ..schemas import EMBEDDING_DIM

    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
        & (F.size("embedding") == EMBEDDING_DIM)
    )
    vd = e.select("vec_id", as_double("embedding").alias("vd"))
    parts = vd.select("vd").mapInPandas(
        _gram_partials, "n long, s array<double>, g array<double>"
    ).collect()
    n = sum(p["n"] for p in parts)
    s = np.sum([np.array(p["s"]) for p in parts], axis=0)
    g = np.sum([np.array(p["g"]) for p in parts], axis=0)
    d = s.shape[0]
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)
    comps = vecs[:, np.argsort(vals)[::-1][:_PCA_COMPONENTS]].T
    # deterministic sign: largest-|entry| coordinate positive
    for i in range(comps.shape[0]):
        j = int(np.abs(comps[i]).argmax())
        if comps[i, j] < 0:
            comps[i] = -comps[i]

    mu_lit = F.array(*[F.lit(float(v)) for v in mu])
    out_cols = [F.col("vec_id")]
    for k in range(_PCA_COMPONENTS):
        w_lit = F.array(*[F.lit(float(v)) for v in comps[k]])
        centered_dot = F.aggregate(
            F.zip_with(
                F.zip_with(F.col("vd"), mu_lit, lambda x, m: x - m),
                w_lit,
                lambda c, w: c * w,
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        out_cols.append(F.round(centered_dot, 6).alias(f"pc{k + 1}"))
    return vd.select(*out_cols)


@register(
    "embed_centroid_per_label",
    category="multimodal",
    oracle="""
        WITH elem AS (
            SELECT label,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                        AS BIGINT) AS xi,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        m AS (
            SELECT label, i, CAST(sum(xi) AS BIGINT) AS sxi, count(*) AS n
            FROM elem GROUP BY label, i
        )
        SELECT label,
               CAST(max(n) AS BIGINT) AS n_vectors,
               md5(string_agg(CAST(sxi AS VARCHAR), ',' ORDER BY i))
                   AS centroid_md5,
               CAST(sum(sxi * sxi) AS BIGINT) AS coord_sq_sum
        FROM m GROUP BY label
    """,
)
def embed_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label mean embedding (class centroids — the nearest-centroid
    classifier / cluster-summary primitive), carried as EXACT integers:
    each coordinate is quantized to micro-units (floor(x·1e6), the
    int-quantization lever from embed_quantize_int8/tpch cents) and
    SUMMED per (label, i) — the centroid is sxi/n off-line, while the
    graded row hashes the integer sums, which no partial-aggregation
    order can perturb. (A 6dp-rounded avg() demonstrably flips
    coordinates between engines — measured here before switching to
    integer sums.)

    Element-wise vector aggregation done relationally: posexplode to
    (label, i, xi) and ONE groupBy(label, i) with map-side partial
    sums — |labels|·d result rows regardless of corpus size; the
    exchange carries (label, i) partials, never raw vectors. (The HOF
    alternative — folding whole arrays in an aggregate — has no
    partial form and would collect every vector per group.)"""
    e = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    elem = (
        e.select("label", F.posexplode(as_double("embedding")).alias("i", "x"))
        .withColumn("i", F.col("i") + 1)  # 1-based like generate_subscripts
        .withColumn("xi", F.floor(F.col("x") * F.lit(1000000.0)).cast("long"))
    )
    m = elem.groupBy("label", "i").agg(
        F.sum("xi").alias("sxi"), F.count(F.lit(1)).alias("n")
    )
    return (
        m.groupBy("label")
        .agg(
            F.max("n").alias("n_vectors"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "sxi"))),
                        lambda s: s["sxi"].cast("string"),
                    ),
                )
            ).alias("centroid_md5"),
            F.sum(F.col("sxi") * F.col("sxi")).alias("coord_sq_sum"),
        )
    )


_AUDIO_FRAME = 16


def _audio_energy(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: audio-style windowed energy over opaque
    bytes. Treats each payload as a PCM-ish sample stream and emits
    per-frame sample count + Σ sample² — the exact plumbing of a real
    audio feature extractor (fixed-size framing, one row exploding to
    many, typed Arrow schema both ways), with the codec decode replaced
    by deterministic byte values. All integer arithmetic: the energy of
    a 16-byte ASCII frame is < 16·127², so the BIGINT sums are exact
    and the oracle can replay them byte-for-byte.

    r9 (guide §4.2): the per-frame reduction is vectorized — one
    concatenated uint8 buffer per batch, squared in int64, and
    ``np.add.reduceat`` over the frame-start offsets (frames tile the
    concatenation contiguously, so segment i ends where segment i+1
    starts). The previous form ran ``sum(b*b for b in frame)`` in
    interpreted Python per frame — one bytecode round per BYTE of
    corpus, exactly the per-row wall the guide's mapInArrow section
    warns about. Same integers, same row order."""
    import numpy as np

    for pdf in batches:
        docs, bufs = [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            if content is None:
                continue
            docs.append(doc_id)
            bufs.append(np.frombuffer(content, dtype=np.uint8))
        empty = pd.DataFrame(
            {
                "doc_id": pd.Series([], dtype="int64"),
                "frame_idx": pd.Series([], dtype="int64"),
                "n_samples": pd.Series([], dtype="int64"),
                "energy": pd.Series([], dtype="int64"),
            }
        )
        if not docs:
            yield empty
            continue
        lens = np.array([b.size for b in bufs], dtype=np.int64)
        nf = (lens + _AUDIO_FRAME - 1) // _AUDIO_FRAME
        total = int(nf.sum())
        if total == 0:
            yield empty
            continue
        sq = np.concatenate(bufs).astype(np.int64)
        sq *= sq
        doc_rep = np.repeat(np.arange(len(docs), dtype=np.int64), nf)
        frame_idx = np.arange(total, dtype=np.int64) - np.repeat(
            np.cumsum(nf) - nf, nf
        )
        # reduceat PRECONDITION (round-9 ADVICE): fstart must be
        # strictly increasing — equal adjacent offsets would make
        # reduceat return a single element instead of a zero-length
        # sum. It holds because zero-length payloads contribute ZERO
        # frames (nf = 0 rows in doc_rep, not an empty frame), every
        # frame is at least 1 byte, and docs are laid out
        # consecutively in the concatenation.
        fstart = (np.cumsum(lens) - lens)[doc_rep] + frame_idx * _AUDIO_FRAME
        energy = np.add.reduceat(sq, fstart)
        n_samples = np.minimum(lens[doc_rep] - frame_idx * _AUDIO_FRAME,
                               _AUDIO_FRAME)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(
                    np.asarray(docs, dtype=np.int64)[doc_rep], dtype="int64"
                ),
                "frame_idx": pd.Series(frame_idx, dtype="int64"),
                "n_samples": pd.Series(n_samples, dtype="int64"),
                "energy": pd.Series(energy, dtype="int64"),
            }
        )


@register(
    "multimodal_audio_energy",
    category="multimodal",
    oracle=f"""
        WITH d AS (
            SELECT doc_id, text, length(text) AS n
            FROM documents
            WHERE text IS NOT NULL AND length(text) > 0
              AND length(text) = strlen(text)  -- ASCII guard, see _payloads
        ),
        frames AS (
            SELECT doc_id, text, n,
                   unnest(range(CAST((n + {_AUDIO_FRAME - 1}) // {_AUDIO_FRAME}
                                     AS BIGINT))) AS fi
            FROM d
        ),
        samples AS (
            SELECT doc_id, fi,
                   ascii(substring(text,
                         CAST(fi * {_AUDIO_FRAME} + s.s + 1 AS INTEGER),
                         1)) AS b
            FROM frames, (SELECT unnest(range({_AUDIO_FRAME})) AS s) s
            WHERE fi * {_AUDIO_FRAME} + s.s < n
        )
        SELECT doc_id, CAST(fi AS BIGINT) AS frame_idx,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(sum(b * b) AS BIGINT) AS energy
        FROM samples GROUP BY doc_id, fi
    """,
)
def multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-style energy per fixed-size frame of an opaque
    binary payload — the audio sibling of ``multimodal_frame_sample``:
    framing, per-frame reduction, typed explode through Arrow, with
    the decode stubbed by deterministic byte values (the container has
    no media codecs; the Spark-side plumbing — schema, partitioning,
    batch shape — is the real thing).

    Exactness: energy is an integer Σ byte² per frame, so the oracle
    (which replays the same framing with substring/ascii arithmetic —
    corpus text is ASCII, byte == codepoint) hash-matches without any
    float surface. Scale shape: one Arrow pass over repartitioned
    payloads, no shuffle (the per-frame reduction happens inside the
    kernel); a real PCM pipeline swaps the byte slice for a decoder
    and keeps every other line."""
    d = _payloads(spark, sf_dir, ascii_only=True)
    return d.mapInPandas(
        _audio_energy, "doc_id long, frame_idx long, n_samples long, energy long"
    )


_DHASH_BITS = 60  # keep the packed fingerprint positive in int64


def _dhash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel: difference-hash perceptual fingerprint over
    opaque bytes. Real dHash compares adjacent pixels of a decoded,
    downsampled image; with no codecs in the container the byte stream
    stands in for the pixel row (decode = the documented
    ``decode_image`` stub boundary) — bit i is set iff byte i > byte
    i+1, packed little-endian into a 60-bit BIGINT. The plumbing a real
    perceptual hash needs — per-row kernel, typed Arrow schema, exact
    integer output a blocking join can key on — is all live.

    r9 (guide §4.2): packing is vectorized — the first 61 bytes of
    every surviving row stack into one (n, 61) uint8 matrix, the 60
    adjacent-byte comparisons run as one elementwise compare, and the
    bits pack via a single int64 matrix-vector product with the
    power-of-two weights. The previous form looped 60 Python bytecode
    rounds per row. Same integers, same row order."""
    import numpy as np

    weights = np.left_shift(
        np.int64(1), np.arange(_DHASH_BITS, dtype=np.int64)
    )
    for pdf in batches:
        ids, rows = [], []
        for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
            if content is None or len(content) < _DHASH_BITS + 1:
                continue  # too short to fingerprint; skip, never crash
            ids.append(doc_id)
            rows.append(
                np.frombuffer(content[: _DHASH_BITS + 1], dtype=np.uint8)
            )
        if rows:
            a = np.stack(rows)
            hs = (a[:, :_DHASH_BITS] > a[:, 1:]).astype(np.int64) @ weights
        else:
            hs = np.array([], dtype=np.int64)
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(ids, dtype="int64"),
                "dhash": pd.Series(hs, dtype="int64"),
            }
        )


# Shared oracle CTE: per-doc 60-bit difference hash, replayed
# byte-for-byte with substring/ascii arithmetic (ASCII enforced
# symmetrically — see _payloads). Consumed by the fingerprint query
# and the Hamming-radius join.
_ORACLE_DHASH = f"""
        WITH d AS (
            SELECT doc_id, text
            FROM documents
            WHERE text IS NOT NULL
              AND length(text) = strlen(text)  -- ASCII guard, see _payloads
              AND length(text) >= {_DHASH_BITS + 1}
        ),
        bits AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN ascii(substring(text,
                                     CAST(s.s + 1 AS INTEGER), 1))
                               > ascii(substring(text,
                                     CAST(s.s + 2 AS INTEGER), 1))
                            THEN (CAST(1 AS BIGINT) << CAST(s.s AS INTEGER))
                            ELSE 0 END) AS BIGINT) AS dhash
            FROM d, (SELECT unnest(range({_DHASH_BITS})) AS s) s
            GROUP BY doc_id
        )
"""


def _dhash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, dhash): the Arrow dHash pass, shared by the fingerprint
    report and the Hamming-radius join."""
    return _payloads(spark, sf_dir, ascii_only=True).mapInPandas(
        _dhash, "doc_id long, dhash long"
    )


@register(
    "multimodal_dhash_fingerprint",
    category="multimodal",
    oracle=_ORACLE_DHASH
    + """
        SELECT doc_id, dhash,
               count(*) OVER (PARTITION BY dhash) AS n_dups
        FROM bits
    """,
)
def multimodal_dhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-fingerprint dedup blocking for media payloads: a
    60-bit difference hash per payload (adjacent-byte comparisons
    standing in for adjacent-pixel comparisons — see the kernel's stub
    note) plus how many payloads share each fingerprint. The visual
    near-dup analog of ``dedup_exact``'s content hash: identical media
    re-encodes collide here even when raw bytes differ post-decode, and
    the fingerprint is the BLOCKING KEY a Hamming-radius candidate join
    would band on (exactly the SimHash banding already graded on text,
    ``dedup_simhash``).

    Exactness: the hash is packed integer comparisons, so the oracle
    replays it byte-for-byte with substring/ascii arithmetic (ASCII
    corpus: byte == codepoint). Scale shape: one Arrow pass over
    repartitioned payloads, then ONE fingerprint-keyed exchange for the
    collision counts — never a pairwise comparison."""
    from pyspark.sql import Window

    fp = _dhash_fp(spark, sf_dir)
    return fp.withColumn(
        "n_dups", F.count(F.lit(1)).over(Window.partitionBy("dhash"))
    )


_PHASH_BANDS = 4
_PHASH_BAND_BITS = _DHASH_BITS // _PHASH_BANDS  # 15 bits per band
_PHASH_RADIUS = 3  # pigeonhole-complete: ≤3 flipped bits can't touch all 4 bands


@register(
    "multimodal_phash_radius_join",
    category="multimodal",
    oracle=_ORACLE_DHASH
    + f"""
        , bands AS (
            SELECT doc_id, dhash,
                   b.b AS band,
                   (dhash >> CAST(b.b * {_PHASH_BAND_BITS} AS INTEGER))
                       & {(1 << _PHASH_BAND_BITS) - 1} AS bkey
            FROM bits, (SELECT unnest(range({_PHASH_BANDS})) AS b) b
        ),
        cand AS (
            SELECT DISTINCT x.doc_id AS doc_a, x.dhash AS ha,
                            y.doc_id AS doc_b, y.dhash AS hb
            FROM bands x
            JOIN bands y ON y.band = x.band AND y.bkey = x.bkey
                        AND x.doc_id < y.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
        FROM cand
        WHERE bit_count(xor(ha, hb)) <= {_PHASH_RADIUS}
    """,
)
def multimodal_phash_radius_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate JOIN: every payload pair whose
    difference hashes are within Hamming radius 3 — the media
    analog of ``dedup_simhash``'s banded text join, completing the
    perceptual-dedup story (``multimodal_dhash_fingerprint`` finds
    exact fingerprint collisions; this finds re-encodes that differ in
    a few perceptual bits).

    Banding is pigeonhole-COMPLETE at this radius, not approximate:
    the 60-bit hash splits into 4 disjoint 15-bit bands, and ≤3
    flipped bits cannot touch all 4 — so every within-radius pair
    shares at least one intact band and is guaranteed to surface as a
    candidate. Recall 1.0 by construction; the band equi-join does the
    pruning (Σ n_bucket² work over 15-bit-key buckets, never all
    pairs), and the exact popcount filter does the precision. Scale
    shape: one Arrow dHash pass, one band-keyed exchange, integer
    xor/bit_count verification inside codegen."""
    fp = _dhash_fp(spark, sf_dir)
    mask = (1 << _PHASH_BAND_BITS) - 1
    bands = fp.select(
        "doc_id",
        "dhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("dhash"), b * _PHASH_BAND_BITS)
                    .bitwiseAND(F.lit(mask))
                    for b in range(_PHASH_BANDS)
                ]
            )
        ).alias("band", "bkey"),
    )
    x, y = bands.alias("x"), bands.alias("y")
    cand = (
        x.join(
            y,
            (F.col("y.band") == F.col("x.band"))
            & (F.col("y.bkey") == F.col("x.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("x.dhash").alias("ha"),
            F.col("y.doc_id").alias("doc_b"),
            F.col("y.dhash").alias("hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
    return (
        cand.filter(hamming <= _PHASH_RADIUS)
        .select("doc_a", "doc_b", hamming.cast("long").alias("hamming"))
    )


@register(
    "embed_drift_split_centroids",
    category="multimodal",
    oracle="""
        WITH elem AS (
            SELECT label, vec_id % 2 AS half,
                   CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000)
                        AS BIGINT) AS xi,
                   generate_subscripts(embedding, 1) AS i
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        m AS (
            SELECT label, half, i,
                   CAST(sum(xi) AS BIGINT) AS sx,
                   CAST(count(*) AS BIGINT) AS n
            FROM elem GROUP BY label, half, i
        ),
        paired AS (
            SELECT a.label, a.i,
                   a.sx AS sxa, b.sx AS sxb, a.n AS na, b.n AS nb
            FROM m a JOIN m b
                 ON b.label = a.label AND b.i = a.i
                AND a.half = 0 AND b.half = 1
        )
        SELECT label,
               CAST(min(na) AS BIGINT) AS n_a,
               CAST(min(nb) AS BIGINT) AS n_b,
               round(sqrt(CAST(sum(CAST(sxa * nb - sxb * na AS HUGEINT)
                                   * CAST(sxa * nb - sxb * na AS HUGEINT))
                               AS DOUBLE))
                     / (CAST(min(na) AS DOUBLE) * CAST(min(nb) AS DOUBLE)
                        * 1000000.0), 6) AS centroid_drift
        FROM paired GROUP BY label
    """,
)
def embed_drift_split_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING DRIFT monitor: per label, the L2 distance between the
    centroids of two deterministic corpus halves (vec_id parity — the
    stand-in for yesterday-vs-today batches). The ML-ops canary run
    on every ingest: a drifting centroid means the upstream encoder,
    preprocessing, or content mix moved, and it fires long before
    downstream metrics do.

    Exactness (the centroid family recipe, extended to a DISTANCE):
    components quantize to micro-unit BIGINTs, per-half per-dim sums
    are exact, and mean differences multiply through by n_a·n_b —
    (sxa·n_b − sxb·n_a) — so the squared-difference SUM is a pure
    128-bit integer; one sqrt+divide at the end is the only float op,
    identical both engines. One (label, half, dim)-keyed map-side
    exchange; everything downstream is |labels|·|dims| rows."""
    emb = load(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    elem = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("i", "x"),
    ).select(
        "label",
        "half",
        "i",
        F.floor(F.col("x").cast("double") * F.lit(1000000)).cast("long").alias(
            "xi"
        ),
    )
    m = elem.groupBy("label", "half", "i").agg(
        F.sum("xi").alias("sx"), F.count(F.lit(1)).alias("n")
    )
    a = m.filter(F.col("half") == 0).select(
        "label", "i",
        F.col("sx").alias("sxa"), F.col("n").alias("na"),
    )
    b = m.filter(F.col("half") == 1).select(
        "label", "i",
        F.col("sx").alias("sxb"), F.col("n").alias("nb"),
    )
    d = (
        F.col("sxa") * F.col("nb") - F.col("sxb") * F.col("na")
    ).cast("decimal(38,0)")
    return (
        a.join(b, ["label", "i"])
        .groupBy("label")
        .agg(
            F.min("na").cast("long").alias("n_a"),
            F.min("nb").cast("long").alias("n_b"),
            F.round(
                F.sqrt(F.sum(d * d).cast("double"))
                / (
                    F.min("na").cast("double")
                    * F.min("nb").cast("double")
                    * F.lit(1000000.0)
                ),
                6,
            ).alias("centroid_drift"),
        )
    )
