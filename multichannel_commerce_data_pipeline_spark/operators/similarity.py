"""Similarity search and embedding storage over embedding columns
(SURVEY.md §2.10 X2/X7; BASELINE north star).

Search paths:
  - brute-force cosine top-k: exact baseline. The query set is broadcast
    (it is small by construction); candidates stream through a single
    narrow stage — no shuffle of the corpus. O(|Q|·N·d) flops via
    JVM-side higher-order array functions (zip_with/aggregate), no
    Python in the loop.
  - LSH-bucketed (random hyperplane / SRP): each vector gets a
    ``n_planes``-bit signature from sign(v·plane); candidates share a
    signature bucket. Planes are derived deterministically from md5 so
    runs are reproducible without a stored model.
  - IVF (coarse-quantized inverted lists) and IVF-PQ (inverted lists of
    product-quantization codes, asymmetric-distance ranking) — the
    billion-scale layouts; plus cluster-level semantic dedup.

Storage paths (X7): symmetric int8 quantization (``quantize_int8``) and
product quantization (``pq_encode``) — both pure map-side with per-row
reconstruction-quality guards. All codebooks/centroids are
deterministic stride samples so every decision is oracle-reproducible;
swap in trained models at deployment with identical plans.

Expression discipline (the dim-factor costs): the double-cast of the
vector and its L2 norm are materialized ONCE per row in a stacked
projection — embedding them in the per-pair similarity expression would
re-evaluate O(dim) work per candidate pair (and per SRP plane). The
norm is still applied as ``dot/(na*nb)`` with the same operand values,
so results stay bit-identical to an oracle that computes norms inline.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from multichannel_commerce_data_pipeline_spark.functions import dround


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _vectorized(df: DataFrame, id_alias: str, vec_alias: str) -> DataFrame:
    """(id, v: array<double>, n: double) from ``vec_id`` and ``embedding``
    with the cast array and its norm materialized once per row (two
    stacked projections so the cast is not inlined into the norm). The
    expression trees depend only on the column names, so they are
    memoized per name tuple
    (functions.memo_cols — each aggregate/transform costs a ~20 ms
    py4j lambda round trip, and every similarity query rebuilds this
    pair of projections at least twice)."""
    from multichannel_commerce_data_pipeline_spark.functions import memo_cols

    proj = memo_cols(
        ("vectorized", id_alias, vec_alias),
        lambda: [
            F.col("vec_id").alias(id_alias),
            _as_double(F.col("embedding")).alias(vec_alias),
        ],
    )
    ncol = memo_cols(
        ("vectorized_norm", vec_alias),
        lambda: [_norm(F.col(vec_alias)).alias(f"{vec_alias}_n")],
    )
    return df.select(*proj).select("*", *ncol)


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k
    nearest corpus vectors (excluding itself). Ranking uses the rounded
    similarity with an id tie-break so results are engine-stable.
    Norms are precomputed per row, so the per-pair work is exactly one
    O(d) dot product."""
    q = F.broadcast(_vectorized(queries, "query_id", "qv"))
    c = _vectorized(embeddings, "neighbor_id", "cv")
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))
    scored = (
        c.join(q)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dround(sim, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _plane(plane: int, dim: int) -> list[float]:
    """Deterministic ±1 hyperplane from md5 — reproducible everywhere,
    no stored random state. Computed driver-side once per plane: the
    plane enters the plan as ONE array literal (O(n_planes) array ops
    per row), not dim CASE expressions per row — at dim 768+ the
    expression-per-component form explodes codegen."""
    return [
        1.0 if int(hashlib.md5(f"plane:{plane}:{i}".encode()).hexdigest()[:8], 16) % 2 == 0
        else -1.0
        for i in range(dim)
    ]


def srp_signature(vec_col, n_planes: int, dim: int):
    """Signed-random-projection bit signature of a vector column: one
    zip_with/aggregate dot product per plane against a literal array.

    ``vec_col`` should be a *materialized* double-array column (a plain
    column reference), not a nested cast expression — each plane's dot
    product references it once, and Spark re-evaluates non-trivial
    expressions at every reference."""
    import json

    sig = F.lit(0).cast("long")
    for p in range(n_planes):
        # one array literal per plane (not dim scalar literals — at
        # dim 64 × 6 planes the per-component form was ~400 expression
        # nodes and dominated codegen compile time), entered via a
        # foldable from_json so construction is ONE py4j call instead
        # of dim F.lit calls (the bloom words-literal lesson; ±1.0
        # components are exactly JSON-representable)
        plane = F.from_json(
            F.lit(json.dumps(_plane(p, dim))), "array<double>"
        )
        bit = F.when(_dot(vec_col, plane) >= 0, F.lit(2**p)).otherwise(F.lit(0))
        sig = sig + bit
    return sig


def srp_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    dim: int,
    n_planes: int = 8,
    k: int = 10,
) -> DataFrame:
    """ANN top-k via SRP-LSH buckets: exact cosine computed only within
    the query's probed buckets: its own bucket and the n_planes
    buckets at Hamming distance 1 from it
    (the classic multi-probe LSH recall fix: the corpus stays
    single-bucket, only the tiny broadcast query side fans out ×(p+1)).
    Recall is measured against cosine_topk in tests."""
    corpus = _vectorized(embeddings, "neighbor_id", "cv").select(
        "neighbor_id",
        "cv",
        "cv_n",
        srp_signature(F.col("cv"), n_planes, dim).alias("bucket"),
    )
    q = _vectorized(queries, "query_id", "qv").select(
        "query_id",
        "qv",
        "qv_n",
        srp_signature(F.col("qv"), n_planes, dim).alias("bucket"),
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(n_planes)],
    )
    q = F.broadcast(
        q.select("query_id", "qv", "qv_n", F.explode(probes).alias("bucket"))
    )
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))
    scored = (
        corpus.join(q, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dround(sim, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    dim: int,
    n_planes: int = 4,
    threshold: float = 0.45,
) -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (the dedup-by-embedding
    path): candidates are vector pairs sharing an SRP bucket or one at
    Hamming distance 1 (multi-probe: probing fans out the bucket keys
    of ONE side only), then exact cosine filters at the
    threshold. Never all-pairs: candidate count scales with bucket
    occupancy, and the buckets are deterministic md5 planes, so the
    whole operator — including which pairs are even considered — is
    reproducible in any SQL engine.

    Candidates are scored and threshold-filtered BEFORE the multi-probe
    de-duplication: a pair found through two different probe buckets has
    the same cosine either way, so dropDuplicates then shuffles only the
    tiny above-threshold (id_a, id_b, cosine) rows instead of full
    vector payloads (at dim d the difference is ~16d bytes per
    candidate).

    The signed frame feeds BOTH join sides and is deliberately NOT
    persisted: measured under the bench protocol, cache population costs
    more than recomputing the scan + n_planes O(d) dot products per side
    (2.5s vs 1.2s warm at sf0.1), and at corpus scale the second pass is
    cheap map-side work while a corpus-sized cache competes with the
    shuffle for executor memory."""
    base = _vectorized(embeddings, "vid", "v").select(
        "vid", "v", "v_n", srp_signature(F.col("v"), n_planes, dim).alias("bucket")
    )
    probes = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(2**p)) for p in range(n_planes)],
    )
    left = base.select(
        F.col("vid").alias("id_a"),
        F.col("v").alias("va"),
        F.col("v_n").alias("na"),
        "bucket",
    ).select("id_a", "va", "na", F.explode(probes).alias("bucket"))
    right = base.select(
        F.col("vid").alias("id_b"),
        F.col("v").alias("vb"),
        F.col("v_n").alias("nb"),
        "bucket",
    )
    sim = _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
    return (
        left.join(right, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dround(sim, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .dropDuplicates(["id_a", "id_b"])
    )


def quantize_int8(
    embeddings: DataFrame,
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the storage path that turns 4 bytes/dim into 1 at 100 TB corpus
    scale. scale = max|x|/127; q_i = floor(x_i/scale + 0.5) (explicit
    half-up-toward-+inf so Spark and any SQL engine agree — F.round on
    doubles is HALF_UP on the decimal rendering while DuckDB rounds
    half-to-even). Pure map-side Column work: no shuffle, no UDF.

    Returns (id, q: array<int>, scale, dequant_cos) where dequant_cos
    is the cosine between the original vector and its quantized form
    (scale cancels), the per-row quality metric a pipeline thresholds
    on before committing to the compressed layout.

    Total over ALL inputs, including the all-zero vector: scale = 0
    would make x/scale NaN with engine-dependent rendering, so the
    zero-scale branch pins codes to all-zero and dequant_cos to NULL
    (cosine against a zero vector is undefined) — a 100 TB corpus WILL
    contain zeroed embeddings from upstream failures."""
    v = _as_double(F.col("embedding"))
    base = embeddings.select(F.col("vec_id").alias("id"), v.alias("v")).select(
        "id",
        "v",
        (
            F.array_max(F.transform(F.col("v"), F.abs)) / F.lit(127.0)
        ).alias("scale"),
    )
    zero = F.col("scale") == F.lit(0.0)
    q = F.when(
        zero, F.transform(F.col("v"), lambda x: F.lit(0).cast("int"))
    ).otherwise(
        F.transform(
            F.col("v"),
            lambda x: F.floor(x / F.col("scale") + F.lit(0.5)).cast("int"),
        )
    )
    quantized = base.select("id", "v", "scale", q.alias("q"))
    qd = F.transform(F.col("q"), lambda x: x.cast("double"))
    cos = F.when(zero, F.lit(None).cast("double")).otherwise(
        _dot(F.col("v"), qd) / (_norm(F.col("v")) * _norm(qd))
    )
    return quantized.select("id", "q", "scale", cos.alias("dequant_cos"))


def _pq_codebook(
    base: DataFrame, m: int, k: int, stride: int
) -> tuple[list, list]:
    """Collect the deterministic stride-sampled codebook from a
    (id, v) frame: csub[s][j] is centroid j's subvector in subspace s,
    cn2[s][j] its squared norm folded LEFT-TO-RIGHT on the driver —
    the same fold order as the oracle's list_reduce and the engine's
    aggregate, so all three agree bit-for-bit."""
    cent_rows = sorted(
        base.filter(
            (F.col("id") % stride == 0) & (F.col("id") < k * stride)
        ).collect(),
        key=lambda r: r["id"],
    )
    if len(cent_rows) != k:
        raise ValueError(
            f"codebook needs ids 0,{stride},..,{(k - 1) * stride}; "
            f"found {len(cent_rows)}"
        )
    dim = len(cent_rows[0]["v"])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    csub = [
        [list(r["v"][s * d_sub : (s + 1) * d_sub]) for r in cent_rows]
        for s in range(m)
    ]

    def _fold_sq(xs: list) -> float:
        acc = 0.0
        for x in xs:
            acc += x * x
        return acc

    return csub, [[_fold_sq(sub) for sub in row] for row in csub]


def _sql_arr1(xs: list) -> str:
    """SQL array literal of doubles (repr round-trips exactly)."""
    return "array(" + ", ".join(f"{x!r}D" for x in xs) + ")"


def _sql_arr2(xss: list) -> str:
    """SQL array-of-arrays literal of doubles."""
    return "array(" + ", ".join(_sql_arr1(xs) for xs in xss) + ")"


def _pq_pick_best(
    frame: DataFrame, keep: list[str], vcol: str, csub: list, cn2: list
) -> DataFrame:
    """Three staged projections adding best_0..best_{m-1} argmax structs
    (score, neg, code, dot, cn2) to ``frame``: subvector slices, then
    ONE ``transform`` over the k-entry codebook literal per subspace
    producing the k dots as a single array column, then the per-subspace
    argmax built by indexing into that array.

    The per-subspace transform matters for compile cost, not semantics:
    m separate lambda folds (k iterations each at runtime) keep the
    expression tree at O(m) fold nodes where naming each of the m·k
    dots as its own column put O(m·k) folds in the plan — measured 6 s
    flat analysis+codegen overhead per run at ANY scale factor, i.e.
    pure plan cost, cut ~10x by this shape. Dots land in their own
    projection so the argmax structs reference cheap element_at only."""
    m, k = len(csub), len(csub[0])
    d_sub = len(csub[0][0])
    with_subs = frame.select(
        *keep,
        *[
            F.slice(vcol, s * d_sub + 1, d_sub).alias(f"sub_{s}")
            for s in range(m)
        ],
    )
    # Codebook literals and the per-subspace fold are built as ONE
    # F.expr string each: constructing the ~m·k·d literal nodes through
    # the Column API costs a py4j round trip per node (measured ~1.6 s
    # of pure Python/py4j time per query build); a SQL string is parsed
    # JVM-side in one call. repr() doubles round-trip exactly, so the
    # parsed literals are bit-identical to the collected codebook.
    for s in range(m):
        dots = (
            f"transform({_sql_arr2(csub[s])}, c -> "
            f"aggregate(zip_with(sub_{s}, c, (x, y) -> x * y), "
            "0.0D, (acc, x) -> acc + x))"
        )
        best = (
            f"array_max(transform(sequence(0, {k - 1}), j -> struct("
            f"cast(round(cast(element_at(dots_{s}, j + 1) "
            f"- element_at({_sql_arr1(cn2[s])}, j + 1) * 0.5D "
            "as decimal(38,10)), 6) as double) as score, "
            "-j as neg, j as code, "
            f"element_at(dots_{s}, j + 1) as dot, "
            f"element_at({_sql_arr1(cn2[s])}, j + 1) as cn2)))"
        )
        with_subs = with_subs.withColumn(f"dots_{s}", F.expr(dots))
        with_subs = with_subs.withColumn(f"best_{s}", F.expr(best))
    return with_subs.select(*keep, *[f"best_{s}" for s in range(m)])


def pq_codebook(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    stride: int = 25,
) -> tuple[list, list]:
    """Public form of the codebook collect, so callers that encode the
    same corpus repeatedly (bench reps, the IVF-PQ searcher, a
    streaming encoder) can fit once and pass ``codebook=`` — the model
    is training state, like the bucketed warehouse tables, not
    per-query state."""
    base = embeddings.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
    )
    return _pq_codebook(base, m, k, stride)


def pq_encode(
    embeddings: DataFrame,
    m: int = 8,
    k: int = 16,
    stride: int = 25,
    codebook: tuple[list, list] | None = None,
) -> DataFrame:
    """Product quantization (Jégou et al. 2011): the vector is split
    into ``m`` subspaces and each subvector is replaced by the id of
    its nearest codebook centroid — dim·4 bytes become m·log2(k) bits,
    the storage layout under billion-scale ANN indexes (IVF-PQ).

    Deterministic flavor matching :func:`ivf_assign`: the codebook for
    every subspace is the stride-sampled corpus vectors
    ``vec_id ∈ {0, stride, …, (k-1)·stride}`` sliced per subspace (a
    fixed pseudo-random sample; swap in k-means-trained codebooks at
    deployment — the encode plan is identical). The codebook is
    collected to the driver (k vectors — the bounded-collect pattern)
    and embedded as array literals, so ENCODING IS PURE MAP-SIDE: no
    join, no shuffle, every row emits its m codes in one narrow pass —
    the plan a 100 TB encode job needs (asserted in tests/test_plans.py).

    Nearest is ⁠argmin L2, computed as argmax of
    ``round(dot(sub, c) − ‖c‖²/2, 6)`` (the ‖sub‖² term is constant per
    row and cancels); the 6-dp round + min-code tie-break makes the
    argmax oracle-reproducible. ``‖c‖²`` is folded on the driver in
    left-to-right order — the same fold order as the oracle's
    ``list_reduce`` and the engine's ``aggregate``, so all three agree
    bit-for-bit.

    Returns (id, codes: array<int>, recon_cos) — recon_cos is the
    cosine between the vector and its codebook reconstruction (the
    per-row quality guard, like int8's dequant_cos; NULL for zero
    vectors). Per-subspace dots are materialized in their own
    projection before the argmax structs reference them (CollapseProject
    keeps non-cheap duplicated expressions staged, so each of the m·k
    dots evaluates once)."""
    base = embeddings.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
    )
    csub, cn2 = codebook or _pq_codebook(base, m, k, stride)
    picked = _pq_pick_best(
        base.withColumn("vnorm", _norm(F.col("v"))), ["id", "vnorm"], "v",
        csub, cn2,
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    dotsum = fold(F.array(*[F.col(f"best_{s}.dot") for s in range(m)]))
    cn2sum = fold(F.array(*[F.col(f"best_{s}.cn2") for s in range(m)]))
    staged = picked.select(
        "id",
        F.array(*[F.col(f"best_{s}.code") for s in range(m)]).alias("codes"),
        "vnorm",
        dotsum.alias("dotsum"),
        cn2sum.alias("cn2sum"),
    )
    recon = F.when(
        (F.col("vnorm") == 0) | (F.col("cn2sum") == 0), F.lit(None).cast("double")
    ).otherwise(
        dround(F.col("dotsum") / (F.col("vnorm") * F.sqrt(F.col("cn2sum"))), 4)
    )
    return staged.select("id", "codes", recon.alias("recon_cos"))


def ivfpq_index(
    embeddings: DataFrame,
    centroid_stride: int = 50,
    m: int = 8,
    k_codes: int = 16,
    code_stride: int = 25,
    codebook: tuple[list, list] | None = None,
) -> DataFrame:
    """Build the IVF-PQ inverted-list frame ``(neighbor_id, cell,
    codes)``: every corpus vector coarse-assigned to its nearest
    centroid cell and stored as its m PQ codes. This is the build-once
    artifact of the billion-scale layout — persist it (the caller owns
    storage policy) and serve every search from it; re-encoding the
    corpus per query is the wrong shape at any scale."""
    base = embeddings.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
    )
    csub, cn2 = codebook or _pq_codebook(base, m, k_codes, code_stride)
    assign, _cents = ivf_assign(embeddings, centroid_stride)
    picked = _pq_pick_best(
        assign.select(F.col("vid"), F.col("cell"), F.col("v")),
        ["vid", "cell"],
        "v",
        csub,
        cn2,
    )
    return picked.select(
        F.col("vid").alias("neighbor_id"),
        "cell",
        F.array(*[F.col(f"best_{s}.code") for s in range(m)]).alias("codes"),
    )


def ivfpq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroid_stride: int = 50,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 16,
    code_stride: int = 25,
    k: int = 10,
    codebook: tuple[list, list] | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ ANN search (Jégou et al. 2011): the corpus is
    inverted-listed under coarse centroids (:func:`ivf_assign`) and
    each vector is stored as its m PQ codes; queries probe their
    ``n_probe`` nearest cells and rank candidates by ASYMMETRIC
    DISTANCE COMPUTATION — the query's exact subvectors dotted against
    each candidate's RECONSTRUCTED codebook subvectors, looked up by
    code.

    Why this matters at 10⁹+ vectors: the candidate join carries
    ``(id, cell, codes)`` — m small ints per vector instead of dim·4
    bytes of floats — so the inverted lists that shuffle/store/serve
    are ~dim·4/m smaller than IVF-flat (32× here), which is the entire
    reason IVF-PQ is the billion-scale layout. The scored cosine is an
    approximation whose error is exactly the PQ reconstruction error
    (pq_encode's recon_cos guard measures it per row).

    ADC here is expressed per subspace as
    ``dot(q_sub_s, csub[s][code_s])`` with the centroid subvectors
    embedded as one array-of-arrays literal per subspace and the code
    as a dynamic ``element_at`` index — all JVM Column work, no UDF.
    approx_cos = Σ_s dot / (‖q‖ · sqrt(Σ_s ‖c_code‖²)), dround(4).

    Returns (query_id, neighbor_id, adc_cos, rank).

    ``index`` (optional) is a pre-built inverted-list frame from
    :func:`ivfpq_index` — the production shape: the index is built (and
    persisted) ONCE per corpus version, every search call only probes
    it, so per-query cost excludes the corpus encode entirely (the same
    build-once/probe-many split as minhash_lsh_index/probe)."""
    base = embeddings.select(
        F.col("vec_id").alias("id"), _as_double(F.col("embedding")).alias("v")
    )
    csub, cn2 = codebook or _pq_codebook(base, m, k_codes, code_stride)
    corpus_codes = (
        index
        if index is not None
        else ivfpq_index(
            embeddings, centroid_stride, m, k_codes, code_stride,
            codebook=(csub, cn2),
        )
    )
    # Probe selection: identical to ivf_topk (cosine to coarse
    # centroids, top n_probe cells per query).
    qbase = _vectorized(queries, "query_id", "qv")
    cents = F.broadcast(
        base.filter(F.col("id") % centroid_stride == 0)
        .select(F.col("id").alias("cell"), F.col("v").alias("cv"))
        .withColumn("cv_n", _norm(F.col("cv")))
    )
    qsim = _dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))
    qcells = qbase.join(cents).select(
        "query_id", "qv", "qv_n", "cell", dround(qsim, 6).alias("qcos")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.col("cell"))
    probes = (
        qcells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "qv", "qv_n", "cell")
    )
    d_sub = len(csub[0][0])
    cand = (
        corpus_codes.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "qv_n",
            "codes",
            *[
                F.slice("qv", s * d_sub + 1, d_sub).alias(f"qs_{s}")
                for s in range(m)
            ],
        )
    )
    # ADC terms in their own projection (one evaluation each), then the
    # ordered left-fold sums — the same fold order as the oracle. The
    # codebook literals ride in as parsed SQL strings (one py4j call
    # per term instead of one per literal node — see _pq_pick_best).
    terms = cand.select(
        "query_id",
        "neighbor_id",
        "qv_n",
        *[
            F.expr(
                f"aggregate(zip_with(qs_{s}, element_at({_sql_arr2(csub[s])}, "
                f"element_at(codes, {s + 1}) + 1), (x, y) -> x * y), "
                "0.0D, (acc, x) -> acc + x)"
            ).alias(f"t_{s}")
            for s in range(m)
        ],
        *[
            F.expr(
                f"element_at({_sql_arr1(cn2[s])}, "
                f"element_at(codes, {s + 1}) + 1)"
            ).alias(f"c_{s}")
            for s in range(m)
        ],
    )
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0), lambda acc, x: acc + x
    )
    tsum = fold(F.array(*[F.col(f"t_{s}") for s in range(m)]))
    csum = fold(F.array(*[F.col(f"c_{s}") for s in range(m)]))
    scored = terms.select(
        "query_id",
        "neighbor_id",
        dround(tsum / (F.col("qv_n") * F.sqrt(csum)), 4).alias("adc_cos"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cos"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cos", "rank")
    )


def ivf_assign(
    embeddings: DataFrame,
    centroid_stride: int,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF coarse quantizer, deterministic flavor: centroids are the
    corpus vectors whose id is a multiple of ``centroid_stride`` (a
    fixed pseudo-random sample — historically because k-means drifted
    per run; `operators/clustering.py kmeans_fit` now trains
    deterministic centroids in-engine, and passing its ``(cell int, cv
    array<double>)`` frame as ``centroids`` swaps them in — the
    deployment seam, exercised in tests/test_operators.py). Each
    vector joins the broadcast centroid set and keeps its
    highest-cosine centroid (argmax via keyed row_number).

    Returns (assignments: vid, v, v_n, cell, ccos; centroids).

    The argmax is a ``max(struct(ccos, -cell, …))`` group-by, NOT a
    row_number window: the broadcast join emits all C scored rows of a
    vector inside its source partition, so the partial (map-side)
    aggregate collapses them to ONE row per vector before the exchange
    — the shuffle carries N rows, where a window over the scored frame
    would sort-shuffle N·C rows (fatal at 10⁹ vectors × 10⁴ cells).
    Tie-break matches the oracle's ORDER BY ccos DESC, cell ASC via the
    negated-cell struct field; (ccos, -cell) is unique per vector so
    the max is deterministic."""
    base = _vectorized(embeddings, "vid", "v")
    # only HOW cents is built differs between the trained and stride
    # flavors — one shared scored/argmax block keeps the oracle
    # tie-break semantics in exactly one place.
    if centroids is not None:
        cents = F.broadcast(
            centroids.select(
                "cell", F.col("cv"), _norm(F.col("cv")).alias("cv_n")
            )
        )
    else:
        cents = F.broadcast(
            base.filter(F.col("vid") % centroid_stride == 0).select(
                F.col("vid").alias("cell"),
                F.col("v").alias("cv"),
                F.col("v_n").alias("cv_n"),
            )
        )
    sim = _dot(F.col("v"), F.col("cv")) / (F.col("v_n") * F.col("cv_n"))
    scored = base.join(cents).select(
        "vid", "v", "v_n", "cell", dround(sim, 6).alias("ccos")
    )
    best = F.max(
        F.struct(
            F.col("ccos"),
            (-F.col("cell")).alias("neg_cell"),
            F.col("cell"),
            F.col("v"),
            F.col("v_n"),
        )
    ).alias("best")
    assign = (
        scored.groupBy("vid")
        .agg(best)
        .select(
            "vid",
            F.col("best.v").alias("v"),
            F.col("best.v_n").alias("v_n"),
            F.col("best.cell").alias("cell"),
            F.col("best.ccos").alias("ccos"),
        )
    )
    return assign, cents


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    centroid_stride: int = 50,
    n_probe: int = 4,
    k: int = 10,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN top-k: corpus vectors are inverted-listed by nearest
    centroid; each query probes its ``n_probe`` nearest cells and ranks
    exact cosine only within them. Candidate cost is
    |Q| · n_probe · avg-cell-size instead of |Q| · N; the inverted lists
    shuffle once on cell and the (tiny) probed-query side broadcasts —
    the same plan at 10⁹ vectors with trained ``centroids`` (a ``(cell,
    cv)`` frame, e.g. from ``clustering.kmeans_fit``) swapped in."""
    assign, cents = ivf_assign(embeddings, centroid_stride, centroids=centroids)
    corpus = assign.select(
        F.col("vid").alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("v_n").alias("cv_n"),
        "cell",
    )
    qbase = _vectorized(queries, "query_id", "qv")
    qsim = _dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))
    qcells = qbase.join(cents).select(
        "query_id", "qv", "qv_n", F.col("cell"), dround(qsim, 6).alias("qcos")
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.col("cell"))
    probes = (
        qcells.withColumn("__rn", F.row_number().over(wq))
        .filter(F.col("__rn") <= n_probe)
        .select("query_id", "qv", "qv_n", "cell")
    )
    sim = _dot(F.col("qv"), F.col("cv")) / (F.col("qv_n") * F.col("cv_n"))
    scored = (
        corpus.join(F.broadcast(probes), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dround(sim, 4).alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def semantic_dedup(
    embeddings: DataFrame,
    centroid_stride: int = 50,
    threshold: float = 0.6,
) -> DataFrame:
    """SemDeDup-flavored cluster-level dedup (Abbas et al. 2023):
    vectors cluster to their nearest deterministic centroid
    (ivf_assign); within each cell the exemplar — the member closest to
    the centroid, vid tie-break — is kept, and every other member is
    dropped iff its cosine to the exemplar reaches the threshold.

    vs pairwise near-dup (embedding_near_dup_pairs): one exemplar
    comparison per vector instead of per-bucket quadratic candidates —
    O(N) similarity work after clustering, the property that makes
    semantic dedup tractable where pairwise radii explode. Plan: the
    ivf_assign shuffle, one groupBy(cell) argmax whose partial
    aggregate collapses map-side, then the (corpus/stride)-row exemplar
    frame broadcast back — the corpus itself never reshuffles for the
    comparison.

    Returns (id, cell, exemplar_id, cos_to_exemplar, keep)."""
    assign, _ = ivf_assign(embeddings, centroid_stride)
    # Both the exemplar election and the comparison consume the
    # assignment, and Spark has no DataFrame-level CSE — without a
    # materialization the corpus x centroid scoring (the dominant cost
    # of SemDeDup at any scale) executes twice. The eager
    # localCheckpoint stores the scored assignment in executor-local
    # blocks: no network shuffle of the corpus (the broadcast-back
    # design below is preserved), the scoring runs once per call (r16
    # optimization round, guide §1.2/§5 localCheckpoint).
    assign = assign.localCheckpoint(eager=True)
    exemplar = F.max(
        F.struct(
            F.col("ccos"),
            (-F.col("vid")).alias("neg_vid"),
            F.col("vid"),
            F.col("v"),
            F.col("v_n"),
        )
    ).alias("e")
    ex = (
        assign.groupBy("cell")
        .agg(exemplar)
        .select(
            "cell",
            F.col("e.vid").alias("exemplar_id"),
            F.col("e.v").alias("ev"),
            F.col("e.v_n").alias("ev_n"),
        )
    )
    sim = _dot(F.col("v"), F.col("ev")) / (F.col("v_n") * F.col("ev_n"))
    return (
        assign.join(F.broadcast(ex), "cell")
        .select(
            F.col("vid").alias("id"),
            "cell",
            "exemplar_id",
            dround(sim, 4).alias("cos_to_exemplar"),
        )
        .withColumn(
            "keep",
            (F.col("id") == F.col("exemplar_id"))
            | (F.col("cos_to_exemplar") < F.lit(threshold)),
        )
    )


def matryoshka_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    trunc_dim: int = 16,
    shortlist: int = 50,
    k: int = 10,
) -> DataFrame:
    """Coarse-to-fine ANN via dimension truncation (the Matryoshka /
    MRL funnel, Kusupati et al. 2022): stage 1 ranks the corpus by
    cosine over only the FIRST ``trunc_dim`` dimensions — 1/ (dim /
    trunc_dim) of the arithmetic and, on an MRL-trained embedding
    column, most of the ordering signal — keeping a ``shortlist`` per
    query; stage 2 reranks just the shortlist with the exact full-dim
    cosine. At serving scale this is the standard funnel: the cheap
    pass touches everything, the expensive pass touches ``shortlist``
    rows per query.

    Plan shape: stage 1 is the brute-force shape (queries broadcast,
    corpus streams one narrow stage; per-query top-``shortlist`` via a
    keyed window whose shuffle carries only (query, neighbor, tcos)
    triples). Stage 2 re-fetches full vectors by BROADCASTING the tiny
    shortlist id set back onto the corpus scan — the corpus side never
    shuffles in either stage. Both stages round through dround with id
    tie-breaks, so the whole funnel (including which candidates make
    the shortlist) is oracle-reproducible.

    Returns (query_id, neighbor_id, cosine, rank) — same contract as
    :func:`cosine_topk`, enabling recall@k comparison."""
    c = _vectorized(embeddings, "neighbor_id", "cv")
    ct = c.select(
        "neighbor_id", F.slice("cv", 1, trunc_dim).alias("tv")
    ).withColumn("tv_n", _norm(F.col("tv")))
    q = _vectorized(queries, "query_id", "qv")
    qt = F.broadcast(
        q.withColumn("qt", F.slice("qv", 1, trunc_dim))
        .withColumn("qt_n", _norm(F.col("qt")))
        .select("query_id", "qv", "qv_n", "qt", "qt_n")
    )
    tsim = _dot(F.col("tv"), F.col("qt")) / (F.col("tv_n") * F.col("qt_n"))
    s1 = (
        ct.join(qt.select("query_id", "qt", "qt_n"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", dround(tsim, 6).alias("tcos"))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.desc("tcos"), F.col("neighbor_id")
    )
    short = (
        s1.withColumn("srn", F.row_number().over(w1))
        .filter(F.col("srn") <= shortlist)
        .select("query_id", "neighbor_id")
    )
    cand = c.join(F.broadcast(short), "neighbor_id")
    full = cand.join(qt.select("query_id", "qv", "qv_n"), "query_id")
    sim = _dot(F.col("cv"), F.col("qv")) / (F.col("cv_n") * F.col("qv_n"))
    scored = full.select(
        "query_id", "neighbor_id", dround(sim, 4).alias("cosine")
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )
