"""Similarity search over embedding columns (``array<float>``).

Two tiers:
* ``cosine_topk`` — exact brute force: one narrow pass, no shuffle except the
  top-k (which AQE collapses to a single reduce). The correctness baseline.
* ``lsh_topk`` — sign-LSH bucketing: deterministic hyperplanes, candidates
  from the query's bucket only, exact re-rank inside. The scale path: at
  N docs x B buckets the scan prunes to ~N/B before any ranking.

Everything is built-in expressions (``aggregate``/``zip_with``); no Python in
the row path. Hyperplanes use ``sin(p * P1 + i * P2)`` so the identical
planes are constructible in any engine for oracle checks.
"""

from __future__ import annotations

import math
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from wpextract_spark.operators.dedup import banded_pairs


@contextmanager
def _interpreted_eval(df: DataFrame):
    """Run a block with whole-stage codegen off, then restore.

    Quantizer TRAINING actions build a fresh giant-literal plan per Lloyd's
    iteration and execute it exactly once; Janino-compiling each throwaway
    method costs ~20s per action at ANY data size (measured: 21s compiled
    vs <1s interpreted on the same plan), while interpreted eval is
    data-bound and the training reduce is a skinny partial-agg. The SEARCH
    scans (ADC scoring, IVF probe filter) keep codegen — they are the
    plans that run over the full corpus, where compile time amortizes.
    Values are unaffected: same expressions, same float-op order, only the
    evaluation strategy changes."""
    spark = df.sparkSession
    ws_key = "spark.sql.codegen.wholeStage"
    fm_key = "spark.sql.codegen.factoryMode"
    old_ws = spark.conf.get(ws_key, "true")
    old_fm = spark.conf.get(fm_key, "FALLBACK")
    spark.conf.set(ws_key, "false")
    spark.conf.set(fm_key, "NO_CODEGEN")
    try:
        yield
    finally:
        spark.conf.set(ws_key, old_ws)
        spark.conf.set(fm_key, old_fm)

_P1 = 7919.0
_P2 = 104729.0


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine similarity to ``query``: (id, cos_sim)."""
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        embeddings.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def hyperplane(plane: int, dim: int) -> list[float]:
    """Deterministic pseudo-random hyperplane p (unit-free; sign-LSH only
    needs direction)."""
    return [math.sin(plane * _P1 + i * _P2) for i in range(dim)]


def _bucket(vec: Column, planes: list[list[float]]) -> Column:
    bits = [
        F.when(_dot(vec, F.array(*[F.lit(v) for v in plane])) > 0, F.lit("1")).otherwise(F.lit("0"))
        for plane in planes
    ]
    return F.concat(*bits)


def lsh_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: sign-LSH bucket filter + exact re-rank.

    Output: (id, cos_sim) for the k best vectors sharing the query's bucket.
    Recall depends on n_planes (each plane halves the candidate set).
    """
    dim = len(query)
    planes = [hyperplane(p, dim) for p in range(n_planes)]
    query_bucket = "".join(
        "1" if sum(a * b for a, b in zip(query, plane)) > 0 else "0" for plane in planes
    )
    vec = F.col(vec_col).cast("array<double>")
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        embeddings.where(_bucket(vec, planes) == query_bucket)
        .select(F.col(id_col), F.round(cosine(vec, q), 6).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def kmeans_centroids(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list[tuple[int, list[float]]]:
    """Deterministic distributed Lloyd's k-means for the IVF coarse quantizer.

    Init: the ``n_lists`` vectors with the smallest ids (deterministic,
    oracle-reproducible). Each iteration: assign every vector to its best
    centroid by cosine (ties -> smallest centroid id), then recompute each
    centroid as the element-wise mean of its members, rounded to
    ``round_digits`` so an independent SQL restatement lands on identical
    centroid literals. (Residual cross-engine risk: two engines' float sums
    can differ in the last ulp, so a mean cell sitting exactly on a
    round-half boundary could round differently — probability ~0 for
    real-valued embeddings, and any flip surfaces loudly as an oracle hash
    mismatch, not silently.) Empty clusters keep their previous centroid.

    Fully distributed: assignment is a JVM expression over one pass; the
    mean reduces via posexplode -> groupBy(cid, pos) avg — a shuffle of
    N*dim skinny rows with map-side partial aggregation — and only the
    n_lists*dim averaged cells (a few KB) ever reach the driver. Returns
    [(cid, centroid)] sorted by cid.
    """
    vec = F.col(vec_col).cast("array<double>")
    cents = sorted(
        (int(r[0]), [float(x) for x in r[1]])
        for r in embeddings.select(F.col(id_col), vec)
        .where(F.col(id_col) < n_lists)
        .collect()
    )
    if not cents:
        raise ValueError("no centroid rows with id < n_lists")

    for _ in range(n_iter):
        best = F.array_max(
            F.array(
                *[
                    F.struct(
                        cosine(vec, F.array(*[F.lit(v) for v in c])).alias("s"),
                        F.lit(-cid).alias("nc"),
                    )
                    for cid, c in cents
                ]
            )
        )
        # Two selects: a generator (posexplode) in the same projection as the
        # struct-field access makes the analyzer canonicalize the struct's
        # field names away (col1/col2) on Spark 4.1.
        assigned = embeddings.select((-best["nc"]).alias("cid"), vec.alias("v"))
        with _interpreted_eval(embeddings):
            cells = (
                assigned.select("cid", F.posexplode("v").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.round(F.avg("val"), round_digits).alias("m"))
                .collect()
            )
        means: dict[int, dict[int, float]] = {}
        for row in cells:
            means.setdefault(int(row["cid"]), {})[int(row["pos"])] = float(row["m"])
        cents = [
            (cid, [cell[p] for p in range(len(old))] if (cell := means.get(cid)) else old)
            for cid, old in cents
        ]
    return cents


def ivf_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: list[tuple[int, list[float]]] | None = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) partitioning.

    Coarse quantizer: pass ``centroids`` (e.g. from
    :func:`kmeans_centroids` — the production path) or fall back to the
    training-free deterministic quantizer where the ``n_lists`` vectors
    with the smallest ids act as centroids (both reproducible in SQL for
    oracle checks; the search path is identical either way). Build side: every vector is assigned to its best centroid by
    cosine (ties -> smallest centroid id). Query side: the ``n_probe`` best
    centroids for the query are computed driver-side (centroids always fit in
    driver memory — that is the IVF design point) and only their lists are
    scanned and exactly re-ranked.

    One narrow pass over the table: per row ``n_lists`` dot products, a
    filter that prunes ~(1 - n_probe/n_lists) of the corpus before ranking,
    then the same top-k reduce as brute force. No shuffle except the final k.
    """
    dim = len(query)
    if centroids is not None:
        cents = centroids  # e.g. from kmeans_centroids (the production path)
    else:
        cents = [
            (int(r[0]), [float(x) for x in r[1]])
            for r in embeddings.select(F.col(id_col), F.col(vec_col).cast("array<double>"))
            .where(F.col(id_col) < n_lists)
            .collect()
        ]
    if not cents:
        raise ValueError("no centroid rows with id < n_lists")

    def _qcos(c: list[float]) -> float:
        num = sum(a * b for a, b in zip(query, c))
        den = math.sqrt(sum(a * a for a in query)) * math.sqrt(sum(a * a for a in c))
        return num / den if den else 0.0

    probe_ids = [
        cid for cid, _ in sorted(cents, key=lambda t: (-_qcos(t[1]), t[0]))[:n_probe]
    ]

    vec = F.col(vec_col).cast("array<double>")
    # struct(score, -cid): array_max orders by score, then by -cid, so ties
    # resolve to the smallest centroid id (mirrored in the SQL oracle as
    # ORDER BY score DESC, cid ASC).
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    cosine(vec, F.array(*[F.lit(v) for v in c])).alias("s"),
                    F.lit(-cid).alias("nc"),
                )
                for cid, c in cents
            ]
        )
    )
    assigned = (-best["nc"]).alias("list_id")
    q = F.array(*[F.lit(float(v)) for v in query])
    return (
        embeddings.select(F.col(id_col), vec.alias("v"), assigned)
        .where(F.col("list_id").isin(probe_ids))
        .select(
            F.col(id_col),
            F.col("list_id"),
            F.round(cosine(F.col("v"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 8,
    n_sets: int = 4,
    max_bucket: int | None = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via multi-probe sign-LSH.

    ``n_sets`` independent plane sets of ``n_planes`` hyperplanes each: a
    pair becomes a candidate when it agrees on ALL planes of at least one
    set (the standard AND-OR LSH amplification). Candidates are formed only
    inside buckets (the self-join shuffles on the bucket key, never
    cross-bucket), verified exactly with cosine >= threshold, and deduped
    across sets. Output: (id_a, id_b, cos_sim).

    Scale shape: the old single-set n_planes=4 default meant 16 buckets
    total — an O(N^2/16) self-join at corpus scale. 8 planes give 256
    buckets per set (bucket width O(N/256)); unioning 4 sets restores the
    recall the extra planes cost (p^8 per set -> 1-(1-p^8)^4 overall, ~90%
    at cosine 0.95). ``max_bucket`` caps degenerate buckets (e.g. a mass of
    near-zero or duplicate-template vectors collapsing to one key) before
    the join (see :func:`~wpextract_spark.operators.dedup.banded_pairs`);
    None disables it.
    """
    probe = embeddings.select(F.size(vec_col)).first()
    if probe is None:  # empty input: zero pairs, not a driver crash
        return embeddings.select(
            F.col(id_col).alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(0.0).alias("cos_sim"),
        ).limit(0)
    probe_dim = probe[0]
    vec = F.col(vec_col).cast("array<double>")
    bucket_cols = []
    for s in range(n_sets):
        planes = [hyperplane(s * n_planes + p, probe_dim) for p in range(n_planes)]
        bucket_cols.append(F.concat(F.lit(f"{s}|"), _bucket(vec, planes)))
    bucketed = embeddings.select(
        F.col(id_col), vec.alias("v"), F.explode(F.array(*bucket_cols)).alias("bucket")
    )
    sim = F.round(cosine(F.col("a_v"), F.col("b_v")), 6)
    return (
        banded_pairs(bucketed, id_col, "bucket", max_bucket, payload=("v",))
        .select("id_a", "id_b", sim.alias("cos_sim"))
        # Verify BEFORE the cross-set dedup so the distinct shuffle moves
        # only surviving near-dup pairs, not every candidate.
        .where(F.col("cos_sim") >= threshold)
        .distinct()
    )


def semantic_dedup(
    embeddings: DataFrame,
    n_lists: int = 8,
    n_iter: int = 2,
    threshold: float = 0.9,
    max_cluster: int | None = 500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al., 2023, arXiv:2303.09540): semantic
    deduplication by clustering the embedding space and pruning
    near-identical neighbors inside each cluster.

    Pipeline: (1) deterministic distributed Lloyd's k-means
    (:func:`kmeans_centroids` — only k*dim averaged cells ever reach the
    driver), (2) assign every vector to its best centroid by cosine,
    (3) rank cluster members by closeness to their centroid (rounded to
    6dp, id tiebreak, so the rank order is engine-portable), (4) inside
    each cluster mark as duplicate any member whose cosine to a
    HIGHER-RANKED member is >= ``threshold`` (first-wins keep policy, same
    convention as the crawl/registry dedups). Output:
    (id, cluster_id, cos_c, is_kept).

    Scale shape: the quadratic verify never crosses a cluster boundary —
    the self-join shuffles on cluster id only, and ``max_cluster`` bounds
    the worst case exactly like the LSH mega-bucket caps (overflow members
    rank > max_cluster are kept unverified rather than joined; at sane k
    the cap only trips on degenerate template-mass clusters). At 100 TB
    the right k grows with N (SemDeDup used 50k clusters for LAION) — k
    only affects the driver through k*dim floats.
    """
    cents = kmeans_centroids(
        embeddings, n_lists=n_lists, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    vec = F.col(vec_col).cast("array<double>")
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    cosine(vec, F.array(*[F.lit(v) for v in c])).alias("s"),
                    F.lit(-cid).alias("nc"),
                )
                for cid, c in cents
            ]
        )
    )
    assigned = embeddings.select(
        F.col(id_col),
        vec.alias("v"),
        (-best["nc"]).alias("cluster_id"),
        F.round(best["s"], 6).alias("cos_c"),
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("cluster_id").orderBy(F.desc("cos_c"), F.asc(id_col))
    )
    # The returned plan reads `ranked` three times (both self-join sides +
    # the final output), and each read would re-evaluate the k*dim-literal
    # assignment expression over the corpus. Persist so assignment + rank
    # compute once; MEMORY_AND_DISK spills at corpus scale and the cache
    # registry lets callers drop the blocks deterministically.
    from pyspark import StorageLevel

    from wpextract_spark.operators.cache import track

    ranked = track(
        assigned.withColumn("rk", rk).persist(StorageLevel.MEMORY_AND_DISK),
        "semantic_dedup",
    )
    verified = ranked if max_cluster is None else ranked.where(F.col("rk") <= max_cluster)
    a = verified.alias("a")
    b = verified.alias("b")
    dups = (
        a.join(
            b,
            (F.col("a.cluster_id") == F.col("b.cluster_id"))
            & (F.col("a.rk") < F.col("b.rk")),
        )
        .where(cosine(F.col("a.v"), F.col("b.v")) >= threshold)
        .select(F.col(f"b.{id_col}").alias("_dup_id"))
        .distinct()
    )
    return (
        ranked.join(dups, ranked[id_col] == dups["_dup_id"], "left")
        .select(
            F.col(id_col),
            F.col("cluster_id").cast("int").alias("cluster_id"),
            "cos_c",
            F.col("_dup_id").isNull().alias("is_kept"),
        )
    )


def pq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    refine_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via product quantization (Jégou et al., TPAMI 2011)
    with exact re-rank: the 100-TB memory-bound ANN path.

    Train: the embedding space is split into ``m`` contiguous subspaces of
    ``dim/m`` components; each gets its own ``ks``-codeword quantizer from
    the same deterministic Lloyd's protocol as :func:`kmeans_centroids`,
    trained JOINTLY across subspaces (:func:`pq_codebooks` — 1 + n_iter
    driver actions total; only m*ks*dim/m rounded cells ever reach the
    driver, exactly the codebook that must be broadcast anyway).

    Encode+score in ONE narrow pass, all JVM expressions: per subspace the
    row picks its L2-nearest codeword (ties -> smallest code id) and reads
    that codeword's precomputed dot-with-query from the lookup table baked
    into the plan as literals (classic ADC — the query never meets raw
    subvectors). ``approx_cos`` divides by the row's TRUE norm (computed in
    the same pass; at scale it would be a stored scalar column — 8 codes +
    1 float per vector is the PQ compression point). The best ``refine_k``
    by approximate score (TakeOrdered partial top-k, no global sort) are
    exactly re-ranked; output (id, approx_cos, cos_sim) of the final k.

    Scale shape: no shuffle except two top-k reduces; scan cost is
    ks*dim multiply-adds per row (the PQ encode bound). Recall is governed
    by refine_k — the standard IVF-PQ composition (route by
    :func:`kmeans_centroids` lists first, then PQ-scan the probed lists)
    falls out by conjoining this with :func:`ivf_topk`'s probe filter.
    """
    dim = len(query)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    codebooks = pq_codebooks(
        embeddings, dim, m=m, ks=ks, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )

    qnorm = math.sqrt(sum(x * x for x in query))
    # One SQL string for the whole ADC score (see _dot_lit): per subspace an
    # array_min over named_struct('d' l2, 'c' code, 'w' lut) picks the
    # L2-nearest codeword (ties -> smallest code) and reads its
    # dot-with-query literal.
    terms = []
    for s, cents in enumerate(codebooks):
        off = s * dsub
        qs = query[off : off + dsub]
        cands = ", ".join(
            f"named_struct('d', {_l2_lit('v', c, off)}, 'c', {cid}, "
            f"'w', {float(sum(a * b for a, b in zip(qs, c)))!r})"
            for cid, c in cents
        )
        terms.append(f"array_min(array({cands})).w")
    approx_sql = (
        f"round(({' + '.join(terms)}) / ({qnorm!r} * sqrt({_sq_norm_lit('v', dim)})), 6)"
    )

    q = F.array(*[F.lit(float(v)) for v in query])
    scored = embeddings.select(F.col(id_col), vec.alias("v")).select(
        F.col(id_col),
        F.col("v"),
        F.expr(approx_sql).alias("approx_cos"),
    )
    cands = scored.orderBy(F.desc("approx_cos"), F.asc(id_col)).limit(refine_k)
    return (
        cands.select(
            F.col(id_col),
            "approx_cos",
            F.round(cosine(F.col("v"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_topk(
    embeddings: DataFrame,
    query: list[float],
    k: int = 10,
    n_lists: int = 8,
    n_probe: int = 3,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    refine_k: int = 50,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-PQ: the standard billion-scale ANN composition (Jégou et al.,
    TPAMI 2011; FAISS's IndexIVFPQ) — coarse k-means routing prunes the scan
    to ``n_probe`` of ``n_lists`` inverted lists, then PQ ADC scores only
    the probed rows, then the best ``refine_k`` are exactly re-ranked.

    Training is query-independent and shared: the coarse quantizer is
    :func:`kmeans_centroids` (full-dim) and the fine quantizer is
    :func:`pq_codebooks` (jointly-trained subspace codebooks on raw
    vectors — the IVFFlat+PQ variant; classic IVFPQ encodes residuals,
    which would break the shared-oracle property that both quantizers are
    restatable in SQL, and at our list counts raw-vector codebooks lose
    little recall). Search is ONE narrow pass: per row n_lists coarse
    cosines (JVM expressions), a probe filter that drops
    ~(1 - n_probe/n_lists) of the corpus BEFORE the m*ks ADC lookups run
    on it, then two TakeOrdered partial top-k reduces. No shuffle anywhere
    except the top-k; at 100 TB the scan reads 8 codes + 1 norm per vector
    once codes are materialized (the PQ compression point).

    Output: (id, list_id, approx_cos, cos_sim) of the final k.
    """
    dim = len(query)
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")

    cents = kmeans_centroids(
        embeddings, n_lists=n_lists, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    codebooks = pq_codebooks(
        embeddings, dim, m=m, ks=ks, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )

    def _qcos(c: list[float]) -> float:
        num = sum(a * b for a, b in zip(query, c))
        den = math.sqrt(sum(a * a for a in query)) * math.sqrt(sum(a * a for a in c))
        return num / den if den else 0.0

    probe_ids = [
        cid for cid, _ in sorted(cents, key=lambda t: (-_qcos(t[1]), t[0]))[:n_probe]
    ]

    # Coarse assignment: same struct(score, -cid) array_max as ivf_topk
    # (ties -> smallest centroid id, mirrored in the oracle's row_number).
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    cosine(vec, F.array(*[F.lit(v) for v in c])).alias("s"),
                    F.lit(-cid).alias("nc"),
                )
                for cid, c in cents
            ]
        )
    )

    qnorm = math.sqrt(sum(x * x for x in query))
    terms = []
    for s, book in enumerate(codebooks):
        off = s * dsub
        qs = query[off : off + dsub]
        cands = ", ".join(
            f"named_struct('d', {_l2_lit('v', c, off)}, 'c', {cid}, "
            f"'w', {float(sum(a * b for a, b in zip(qs, c)))!r})"
            for cid, c in book
        )
        terms.append(f"array_min(array({cands})).w")
    approx_sql = (
        f"round(({' + '.join(terms)}) / ({qnorm!r} * sqrt({_sq_norm_lit('v', dim)})), 6)"
    )

    q = F.array(*[F.lit(float(v)) for v in query])
    probed = (
        embeddings.select(F.col(id_col), vec.alias("v"), (-best["nc"]).alias("list_id"))
        .where(F.col("list_id").isin(probe_ids))
    )
    cands = (
        probed.select(
            F.col(id_col),
            F.col("v"),
            F.col("list_id").cast("int").alias("list_id"),
            F.expr(approx_sql).alias("approx_cos"),
        )
        .orderBy(F.desc("approx_cos"), F.asc(id_col))
        .limit(refine_k)
    )
    return (
        cands.select(
            F.col(id_col),
            "list_id",
            "approx_cos",
            F.round(cosine(F.col("v"), q), 6).alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _dot_lit(vec: str, coeffs: list[float], off: int = 0) -> str:
    """SQL text for the explicit left-associated ``sum_i vec[i]*coeffs[i]``
    — the same float-operation order as an ``aggregate`` fold and DuckDB's
    ``list_sum``, but built as ONE string so PQ's hundreds of per-codeword
    expressions cost one ``F.expr`` parse instead of thousands of py4j
    Column calls. 0-based SQL array indexing; optional ``off`` reads the
    subvector window of a full embedding in place."""
    # literals are parenthesized: a bare negative after '-' would form
    # '--', which opens a SQL line comment and truncates the expression
    return "+".join(f"{vec}[{off + i}]*({float(c)!r})" for i, c in enumerate(coeffs))


def _sq_norm_lit(vec: str, dim: int, off: int = 0) -> str:
    """SQL text ``sum_i vec[off+i]^2`` (see :func:`_dot_lit`)."""
    return "+".join(f"{vec}[{off + i}]*{vec}[{off + i}]" for i in range(dim))


def _l2_lit(vec: str, coeffs: list[float], off: int = 0) -> str:
    """SQL text ``sum_i (vec[off+i] - coeffs[i])^2`` (see :func:`_dot_lit`)."""
    return "+".join(
        f"({vec}[{off + i}]-({float(c)!r}))*({vec}[{off + i}]-({float(c)!r}))"
        for i, c in enumerate(coeffs)
    )


def pq_codebooks(
    embeddings: DataFrame,
    dim: int,
    m: int = 8,
    ks: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 6,
) -> list[list[tuple[int, list[float]]]]:
    """All ``m`` subspace codebooks for PQ, trained JOINTLY: one lineage
    per Lloyd's iteration instead of ``m`` serial :func:`kmeans_centroids`
    runs.

    Produces bit-identical codebooks to the serial per-subspace path (same
    init — subvectors of the ``ks`` smallest ids; same cosine assignment
    with smallest-cid tiebreak; same 6dp-rounded means), so the SQL oracle
    that restates per-subspace k-means needs no change. What changes is the
    job count: the subvector explode is row-local, each iteration is ONE
    shuffle (groupBy (subspace, cid, pos) with map-side partial agg) and
    ONE m*ks*dim/m-cell collect — 1 + n_iter driver actions total versus
    m * (1 + n_iter). At 100 TB that is the difference between 3 and 24
    full corpus passes.
    """
    dsub = dim // m
    vec = F.col(vec_col).cast("array<double>")
    # The subvector norm is factored into a column computed ONCE per row
    # instead of being respelled inside every codeword struct — it halves
    # the per-iteration expression string (the norm text dominated it) with
    # bit-identical values (same ops, same order, evaluated once).
    subs = embeddings.select(
        F.col(id_col),
        F.posexplode(
            F.array(*[F.slice(vec, s * dsub + 1, dsub) for s in range(m)])
        ).alias("s", "v"),
    ).withColumn("vn", F.expr(f"sqrt({_sq_norm_lit('v', dsub)})"))
    with _interpreted_eval(embeddings):
        init = subs.where(F.col(id_col) < ks).collect()
    books: list[dict[int, list[float]]] = [dict() for _ in range(m)]
    for r in init:
        books[int(r["s"])][int(r[id_col])] = [float(x) for x in r["v"]]
    if not all(books):
        raise ValueError("no centroid rows with id < ks")

    for _ in range(n_iter):
        # One F.expr string per iteration (not thousands of py4j Column
        # calls); the arithmetic keeps cosine()'s fold order, so the
        # assignment values (and the SQL oracle) are bit-identical.
        branches = []
        for s in range(m):
            cands = ", ".join(
                f"named_struct('sc', ({_dot_lit('v', c)})"
                f"/((vn)*{math.sqrt(sum(x * x for x in c))!r}), 'nc', {-cid})"
                for cid, c in sorted(books[s].items())
            )
            branches.append(f"WHEN s = {s} THEN -array_max(array({cands})).nc")
        assign = F.expr("CASE " + " ".join(branches) + " END")
        with _interpreted_eval(embeddings):
            cells = (
                subs.select(F.col("s"), assign.alias("cid"), F.col("v").alias("vv"))
                .select("s", "cid", F.posexplode("vv").alias("pos", "val"))
                .groupBy("s", "cid", "pos")
                .agg(F.round(F.avg("val"), round_digits).alias("mval"))
                .collect()
            )
        means: dict[tuple[int, int], dict[int, float]] = {}
        for row in cells:
            means.setdefault((int(row["s"]), int(row["cid"])), {})[int(row["pos"])] = float(
                row["mval"]
            )
        for s in range(m):
            for cid, old in books[s].items():
                cell = means.get((s, cid))
                if cell:
                    books[s][cid] = [cell[p] for p in range(len(old))]
    return [sorted(books[s].items()) for s in range(m)]
