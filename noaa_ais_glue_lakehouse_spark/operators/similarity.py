"""Vector similarity search over embedding columns (array<float>).

Training-data-pipeline extension (SURVEY §7.2 phase 9): brute-force cosine
top-k as the exact baseline, plus an LSH-bucketed approximate variant as
the scale path. Dot products are native ``zip_with``/``aggregate`` column
expressions (JVM-side, no Python). Deterministic top-k via (score desc,
id asc) tie-breaking.

Scale notes: brute-force is O(|Q|·|C|) — fine when the query set is small
(broadcast the queries); the LSH path buckets candidates by random
hyperplane signs so each query only scores its bucket's candidates, one
equi-join shuffle. For billion-vector corpora the same plan holds with the
bucket join pre-partitioned (bucketed tables) and signatures precomputed.
"""

from __future__ import annotations

try:
    # Optional: only the pandas-UDF factories (_signature_udf,
    # _pair_cosine_udf, ivf_topk) need pandas; pure-Column paths like
    # brute_force_topk work without it. Kept at module level (not inside the
    # factories) because pandas_udf resolves the `pandas.Series` type hints
    # through this module's globals.
    import pandas
except ImportError:  # pragma: no cover
    pandas = None
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators._cache import query_scoped_cache
from noaa_ais_glue_lakehouse_spark.operators.dedup import band_pairs


def _require_pandas() -> None:
    if pandas is None:  # pragma: no cover
        raise ImportError("this similarity operator needs pandas (Arrow UDF path)")


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity(a, b):
    """Cosine similarity between two array<numeric> columns (double)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact cosine top-k neighbors for each query vector.

    Cross join (queries broadcast — the small side by construction) →
    per-pair cosine → rank per query with deterministic ties → keep k.
    Excludes self-matches on id equality.
    """
    from pyspark.sql import Window

    # per-side norms computed once per VECTOR, not per pair (round 10,
    # guide §4.1) — dot/(nq·nc) multiplies the identical doubles in the
    # identical order as cosine_similarity, so scores are bit-unchanged
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        _norm(F.col(vec_col)).alias("_nq"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        _norm(F.col(vec_col)).alias("_nc"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score",
            F.round(
                _dot(F.col("_qv"), F.col("_cv"))
                / (F.col("_nq") * F.col("_nc")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def lsh_geometry_for(
    n_rows: int,
    threshold: float,
    target_bucket: int = 256,
    recall_target: float = 0.9,
    max_tables: int = 16,
) -> tuple[int, int]:
    """Corpus-sized hyperplane-LSH geometry → ``(n_planes, n_tables)``.

    Fixed geometry is the quadratic trap the round-5 decade measurement
    exposed (SCALING.md): with b planes, expected bucket size is n/2^b,
    so candidates grow ~n²/2^b — at 10× the corpus the 4×16 default's
    verify wall grew 67× (exponent 1.83). The ESCAPE is sizing b with
    log2(n): per-bucket size pinned at ``target_bucket`` keeps candidate
    volume ~n·target_bucket, linear in the corpus.

    Recall is then bought back with tables: a pair at exactly
    ``threshold`` agrees on one table's full b bits with
    p^b (p = 1 − acos(t)/π), so L = ⌈ln(1−recall)/ln(1−p^b)⌉ tables
    reach the recall target. When the threshold is LOW, p^b collapses
    and L explodes — this function then walks b back down until
    L ≤ max_tables, consciously trading bucket growth for feasibility:
    the math makes explicit that sub-0.5 thresholds and bounded
    candidates are mutually exclusive in any LSH (the answer itself is
    near-quadratic there); the DEDUP regime (t ≥ 0.8) sizes cleanly
    (e.g. t=0.85, n=50k → (8, 10)).

    Round-7 bound: the same walk-down implies LSH linearity has an
    UPPER BOUND in n, not only the threshold bound below. At
    (t, recall, max_tables) the largest feasible b is fixed (e.g. b=10
    at t=0.85/recall 0.9/L≤16, reached by n ≈ 2·10⁵), so for larger
    corpora the bucket size grows ~n/2^b and the candidate term turns
    quadratic at ANY threshold. Past that n*, the production
    cosine-dedup paths are IVF (q55) and clustered SemDeDup (q64) —
    both decade-measured sub-linear; this function's regime is n ≤ n*.
    (`cosine085_saturated_geometry` in tools/scale_probe.py documents
    the post-saturation regime empirically.)

    ``max_tables`` is 16, not the recall integral's asymptote, because
    table count is ALSO a per-candidate cost, not just a recall knob:
    the first-agreeing-table dedup guard in
    :func:`cosine_near_duplicates` evaluates up to L−1 terms per
    candidate, so effective join cost ≈ L²·n²/2^(b+1). Measured
    (round-6 decade probe, t=0.4): the 48-table walk-down picked
    (6, 36) and ran 725 s at scaleB (exponent 2.49) — WORSE than the
    fixed 4×16's 191 s despite 1.8× fewer candidates. Capping L at 16
    makes the infeasible-regime walk-down land on ≈(4, 14), the least
    bad geometry known for it; the real scale path below t≈0.5 is IVF
    (q55) / clustered SemDeDup (q64).
    """
    import math

    p = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if p >= 1.0:
        return 1, 1
    b_max = max(1, math.ceil(math.log2(max(2.0, n_rows / target_bucket))))
    for b in range(b_max, 0, -1):
        hit = p**b
        L = math.ceil(math.log(max(1e-12, 1.0 - recall_target))
                      / math.log(1.0 - hit))
        if L <= max_tables:
            return b, max(1, L)
    return 1, max_tables


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane via a splitmix-style
    integer mix — reproducible across engines and runs without RNG state.
    """
    vals = []
    for j in range(dim):
        x = (plane_idx * 1_000_003 + j * 97 + 12345) & 0xFFFFFFFF
        x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
        x = (x ^ (x >> 16)) * 0x45D9F3B & 0xFFFFFFFF
        x = x ^ (x >> 16)
        vals.append((x / 0xFFFFFFFF) * 2.0 - 1.0)
    return vals


def _signature_udf(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched multi-table hyperplane signatures: one numpy matmul
    per batch gives all L·b sign bits; returns array<int> of L bucket ids.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    planes = np.array(
        [_hyperplane(dim, i) for i in range(n_tables * n_planes)]
    ).T  # dim × (L·b)
    weights = np.array([1 << p for p in range(n_planes)])

    @pandas_udf("array<int>")
    def signatures(vecs: pandas.Series) -> pandas.Series:
        mat = np.stack(vecs.values).astype(np.float64, copy=False)  # batch × dim
        bits = (mat @ planes) >= 0  # batch × (L·b) sign bits
        sigs = (bits.reshape(len(mat), n_tables, n_planes) * weights).sum(
            axis=2
        )  # batch × L bucket ids
        return pandas.Series(list(sigs.astype(np.int32)))

    return signatures


def cosine_pairs_exact(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """Embedding-cosine near-dup pairs, brute force (id_a < id_b).

    O(n²) all-pairs — the exact baseline/oracle for
    :func:`cosine_near_duplicates`, same role q26 plays for the MinHash
    path. Scores rounded to 4 dp for cross-engine hash stability.
    """
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"))
    pairs = a.join(b, F.col("id_a") < F.col("id_b"))
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        pairs.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def cosine_near_duplicates(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_planes: int | None = None,
    n_tables: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via multi-table LSH + exact verify.

    Geometry resolution (round 6 — corpus-sized is now the DEFAULT, per
    the round-5 decade measurement): when neither ``n_planes`` nor
    ``n_tables`` is given, the geometry comes from
    :func:`lsh_geometry_for`'s corpus-sized pick (one ``count()`` job to
    learn n — the same bounded driver action as q64's centroid sample):
    plane count grows with log2(n) so bucket sizes — and hence candidate
    volume — stay ~linear in the corpus instead of a fixed geometry's
    ~n²/2^b (measured decade exponent 1.88 fixed vs 1.01 auto,
    SCALING.md). Passing an explicit ``n_planes``/``n_tables`` pins the
    geometry (test surfaces, run-to-run comparability).

    The scale path for embedding dedup: bucket on hyperplane sign bits
    (few planes → big buckets → high recall at moderate thresholds; many
    tables → OR-amplification), self-join per (table, bucket), then exact
    cosine ≥ threshold on candidates only. Defaults target thresholds
    around 0.4 (p≈0.63 → recall ≈ 0.94 with 4×16); tighten n_planes for
    higher thresholds. Precision is exact (verification step); recall vs
    :func:`cosine_pairs_exact` is measured in tests.
    """
    if n_planes is None and n_tables is None:
        n_planes, n_tables = lsh_geometry_for(df.count(), threshold)
    else:
        n_planes = 4 if n_planes is None else n_planes
        n_tables = 16 if n_tables is None else n_tables
    signatures = _signature_udf(dim, n_planes, n_tables)
    # Candidate generation is id-only: carrying the vectors through the
    # band self-join would ship ~dim·8 bytes per candidate ROW (candidates
    # outnumber the corpus by orders of magnitude when buckets are large);
    # id pairs are ~16 bytes. Vectors re-attach afterwards — |survivors|
    # join work, and the corpus side broadcasts when small.
    # The (id, signatures) index is ~(8 + 4·n_tables) bytes/row but feeds
    # BOTH sides of the band self-join — uncached, the signature pandas
    # UDF (an Arrow round-trip of every vector plus the numpy matmul)
    # runs twice over the corpus (the before-plan holds two
    # ArrowEvalPython corpus passes; guide §4.1/§2.4). cache() scores
    # the corpus once, and the InMemoryRelation's accurate stats let AQE
    # broadcast the smaller join sides (the q384/q474 treatment).
    sigged = query_scoped_cache(
        df.select(F.col(id_col), signatures(F.col(vec_col)).alias("_sigs"))
    )
    # one band per table: element_at is a plain codegen expression
    tables = [F.element_at("_sigs", t + 1) for t in range(n_tables)]
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    # explicit numeric repartition: candidate rows are ~16 bytes, so AQE
    # would byte-coalesce the verify (compute-bound) to a couple of
    # partitions
    pairs = band_pairs(sigged, id_col, tables).repartition(
        parallelism, "id_a", "id_b"
    )
    cands = pairs.join(
        df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va")),
        "id_a",
    ).join(
        df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb")),
        "id_b",
    )
    cos = _pair_cosine_udf()(F.col("_va"), F.col("_vb"))
    return (
        cands.select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def _pair_cosine_udf():
    """Vectorized pairwise cosine: one einsum per Arrow batch instead of
    interpreted zip_with/aggregate per row (the Column form stays as the
    oracle baseline in cosine_pairs_exact, whose left-fold summation
    matches DuckDB's bit-for-bit)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_cosine(a: pandas.Series, b: pandas.Series) -> pandas.Series:
        ma = np.stack(a.values).astype(np.float64, copy=False)
        mb = np.stack(b.values).astype(np.float64, copy=False)
        dots = np.einsum("ij,ij->i", ma, mb)
        norms = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pandas.Series(dots / norms)

    # asNondeterministic: cosine_near_duplicates filters on the rounded
    # UDF column; without the marker the pushed-down filter duplicates
    # the ArrowEvalPython node and every candidate pays the Arrow
    # round-trip (2·dim·4 bytes each way) plus the einsum TWICE —
    # measured at sf0.1 (q47): 6.08 s -> 3.15 s median with one node.
    # The function is pure; the marker only blocks optimizer duplication
    # (guide §4.4).
    return pair_cosine.asNondeterministic()


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    n_tables: int = 8,
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables, each bucketing on the sign bits
    of ``n_planes`` hyperplanes (OR-amplification): a true neighbor at
    angular agreement p is recovered with probability 1-(1-p^b)^L instead
    of the single-table p^b, which is what makes recall tunable rather
    than hoped-for. Candidates are the union over tables of same-bucket
    pairs; each candidate is scored exactly once (distinct before scoring)
    so precision of scores is exact.

    Scale shape: corpus rows are exploded L× into (table, bucket) keys —
    one equi-join shuffle against the broadcast query signatures, never a
    cross product. Raise ``n_planes`` (smaller buckets) as the corpus
    grows and ``n_tables`` to buy recall back; both are embarrassingly
    partition-parallel. Recall vs ``brute_force_topk`` is asserted in
    ``tests/test_similarity.py::test_lsh_recall_at_k``.

    The L·b plane dot-products per vector are one numpy matmul inside an
    Arrow-batched pandas UDF (BLAS across the whole batch) — Spark's
    higher-order functions evaluate per element interpreted, which made
    the pure-Column form ~64 interpreted array traversals per row.
    """
    from pyspark.sql import Window

    signatures = _signature_udf(dim, n_planes, n_tables)

    def keys(df, out_id, out_vec, out_sigs, out_norm):
        sig = F.explode(
            F.arrays_zip(
                F.sequence(F.lit(0), F.lit(n_tables - 1)).alias("tbl"),
                F.col(out_sigs).alias("sig"),
            )
        )
        return (
            df.select(
                F.col(id_col).alias(out_id),
                F.col(vec_col).alias(out_vec),
                # per-vector norm BEFORE the L× explode (round 10,
                # guide §4.1): scoring then divides by nq·nc instead of
                # re-folding both norms per candidate pair —
                # bit-identical to cosine_similarity (same expression,
                # same multiply order)
                _norm(F.col(vec_col)).alias(out_norm),
                signatures(F.col(vec_col)).alias(out_sigs),
            )
            .select(out_id, out_vec, out_norm, out_sigs, sig.alias("_z"))
            .select(
                out_id,
                out_vec,
                out_norm,
                out_sigs,
                F.struct(
                    F.col("_z.tbl").alias("tbl"), F.col("_z.sig").alias("sig")
                ).alias("_k"),
            )
        )

    c = keys(corpus, "neighbor_id", "_cv", "_sc", "_nc")
    q = keys(queries, "query_id", "_qv", "_sq", "_nq")
    # Cross-table dedup WITHOUT a shuffle (round 10, guide §2.3/§8): a
    # pair agreeing in m tables appears m times in the raw bucket join;
    # the old `.distinct()` deduped it by shuffling (query, neighbor,
    # 2×dim-double VECTORS) — heavy payloads moved just to decide
    # uniqueness. Emitting each pair only from its FIRST agreeing table
    # (no earlier table's signatures match — both sides carry the full
    # L-slot signature array, ~L ints/row) replaces that exchange with
    # an (L−1)-term boolean filter evaluated inside the broadcast join;
    # the only remaining shuffle is the top-k window over
    # (query_id, neighbor_id, score) — keys and a double, no vectors.
    cond = F.col("neighbor_id") != F.col("query_id")
    for j in range(n_tables - 1):
        cond = cond & (
            (F.col("_k.tbl") <= F.lit(j))
            | (
                F.element_at(F.col("_sc"), j + 1)
                != F.element_at(F.col("_sq"), j + 1)
            )
        )
    cands = c.join(F.broadcast(q), "_k").filter(cond)
    scored = cands.select(
        "query_id",
        "neighbor_id",
        F.round(
            _dot(F.col("_qv"), F.col("_cv")) / (F.col("_nq") * F.col("_nc")),
            6,
        ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank"))
    )


def _train_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_lists: int,
    seed: int,
    kmeans_sample: int,
):
    """Deterministic k-means centroids (numpy Lloyd, fixed seed + iteration
    count) from a bounded driver-side sample.

    orderBy before limit: bare limit()'s row selection depends on partition
    layout, so the training set (hence centroids, hence recall) would drift
    between environments. The sample is bounded by design (``kmeans_sample``
    rows to the driver — never the corpus).
    """
    import numpy as np

    sample = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(kmeans_sample).collect()
    )
    mat = np.array([r[1] for r in sample], dtype=np.float64)
    rng = np.random.RandomState(seed)
    centroids = mat[rng.choice(len(mat), size=min(n_lists, len(mat)), replace=False)]
    for _ in range(8):
        d2 = ((mat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        assign = d2.argmin(axis=1)
        for c in range(len(centroids)):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
    return centroids


def cosine_near_duplicates_clustered(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    kmeans_sample: int = 10_000,
) -> DataFrame:
    """Embedding-cosine near-dup pairs via k-means clustering + per-cluster
    BLAS matmul (the SemDeDup shape) — the scale path when sign-LSH can't
    prune (low thresholds sit too close to the random-pair collision rate:
    at cos ≥ 0.4 a 4-plane×16-table config admits ~64% of ALL pairs).

    Each vector is assigned to its ``n_probe`` nearest centroids
    (multi-assignment buys cross-boundary recall); ``applyInPandas`` per
    cluster computes the full within-cluster similarity matrix with one
    normalized matmul and emits only pairs ≥ threshold. Shuffle is
    n_probe·|corpus| vector rows — no candidate-pair materialization at
    all; compute is Σ|cluster|² inside BLAS. Pair duplicates from
    multi-assignment are bounded by n_probe² per pair and dedup'd on the
    output (|result| work). Precision exact; recall = P(pair shares ≥1
    probed cluster), measured vs :func:`cosine_pairs_exact` in tests.
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    _require_pandas()
    cent = _train_centroids(corpus=df, id_col=id_col, vec_col=vec_col,
                            n_lists=n_lists, seed=seed, kmeans_sample=kmeans_sample)

    @pandas_udf("array<int>")
    def probe_lists(vecs: pandas.Series) -> pandas.Series:
        m = np.stack(vecs.values).astype(np.float64, copy=False)
        d2 = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, : min(n_probe, len(cent))]
        return pandas.Series(list(order.astype(np.int32)))

    assigned = df.select(
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        F.explode(probe_lists(F.col(vec_col))).alias("_list"),
    )

    thr = float(threshold)

    def _cluster_pairs(pdf):
        ids = pdf["_id"].to_numpy()
        m = np.stack(pdf["_v"].values).astype(np.float64, copy=False)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0.0] = 1.0
        mn = m / norms[:, None]
        sims = mn @ mn.T
        iu, ju = np.triu_indices(len(ids), k=1)
        # round BEFORE thresholding — parity with cosine_pairs_exact,
        # which filters on the 4-dp-rounded score
        rounded = np.round(sims[iu, ju], 4)
        keep = rounded >= thr
        ia, jb = ids[iu[keep]], ids[ju[keep]]
        lo = np.minimum(ia, jb)
        hi = np.maximum(ia, jb)
        return pandas.DataFrame(
            {"id_a": lo, "id_b": hi, "cosine": rounded[keep]}
        )

    pairs = assigned.groupBy("_list").applyInPandas(
        _cluster_pairs, schema="id_a long, id_b long, cosine double"
    )
    # multi-assignment emits a pair once per shared probed cluster —
    # output-sized dedup (scores are identical, keep any)
    return pairs.dropDuplicates(["id_a", "id_b"]).filter(F.col("cosine") >= threshold)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    kmeans_sample: int = 10_000,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer
    alternative to :func:`lsh_bucket_topk`.

    Train: k-means centroids on a bounded sample (``kmeans_sample`` rows
    to the driver — the training set is a sample by design, never the
    corpus). Index: assign every corpus vector to its nearest centroid
    (one numpy argmax per Arrow batch). Search: each query probes its
    ``n_probe`` nearest centroids, the probe list explodes into
    (centroid, query) keys, and an equi-join on centroid id restricts
    exact scoring to probed lists — shuffle ∝ |corpus| + n_probe·|Q|,
    never |Q|·|corpus|.

    Recall rises with n_probe (n_probe == n_lists degenerates to exact);
    measured against brute force in tests/test_similarity.py.
    """
    import numpy as np
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    _require_pandas()
    cent = _train_centroids(corpus, id_col, vec_col, n_lists, seed, kmeans_sample)

    @pandas_udf("int")
    def nearest_list(vecs: pandas.Series) -> pandas.Series:
        m = np.stack(vecs.values).astype(np.float64, copy=False)
        d2 = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        return pandas.Series(d2.argmin(axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_lists(vecs: pandas.Series) -> pandas.Series:
        m = np.stack(vecs.values).astype(np.float64, copy=False)
        d2 = ((m[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
        order = np.argsort(d2, axis=1)[:, : min(n_probe, len(cent))]
        return pandas.Series(list(order.astype(np.int32)))

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("_cv"),
        nearest_list(F.col(vec_col)).alias("_list"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("_qv"),
        F.explode(probe_lists(F.col(vec_col))).alias("_list"),
    )
    scored = (
        c.join(F.broadcast(q), "_list")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "score", F.round(_pair_cosine_udf()(F.col("_qv"), F.col("_cv")), 6)
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "score", F.col("rank").cast("long").alias("rank")
        )
    )


def grid_knn_join(
    points: DataFrame,
    refs: DataFrame,
    k: int = 3,
    radius: float = 6.0,
    id_col: str = "event_id",
    ref_id_col: str = "ref_id",
) -> DataFrame:
    """Radius-bounded EXACT k-nearest-neighbor join via grid
    neighborhoods. ``points`` has (id_col, lat, lon); ``refs`` has
    (ref_id_col, rlat, rlon) and must be the dimension-sized side (it is
    broadcast). Returns (id_col, knn_rank, ref_id_col, dist_deg) for the
    k nearest refs within Euclidean ``radius`` in degree space.

    Exactness: cell size == radius, so any ref within Euclidean radius
    of a point lies within one cell of the point's cell on each axis —
    the 3x3 neighborhood is a complete candidate set (standard spatial
    binning argument). The refs are exploded x9 into neighbor cell keys
    and broadcast; candidate generation is an equi-join on the cell key
    — no cross product touches the big side; the top-k window is
    partitioned per point with bounded fan-in.
    """
    off = F.array(F.lit(-1), F.lit(0), F.lit(1))
    ref_cells = (
        refs.withColumn("dy", F.explode(off))
        .withColumn("dx", F.explode(off))
        .select(
            (F.floor(F.col("rlat") / radius) + F.col("dy")).alias("cy"),
            (F.floor(F.col("rlon") / radius) + F.col("dx")).alias("cx"),
            ref_id_col,
            "rlat",
            "rlon",
        )
    )
    q = points.select(
        id_col,
        "lat",
        "lon",
        F.floor(F.col("lat") / radius).alias("cy"),
        F.floor(F.col("lon") / radius).alias("cx"),
    )
    dist2 = (F.col("lat") - F.col("rlat")) * (F.col("lat") - F.col("rlat")) + (
        F.col("lon") - F.col("rlon")
    ) * (F.col("lon") - F.col("rlon"))
    cand = (
        q.join(F.broadcast(ref_cells), ["cy", "cx"])
        .select(id_col, ref_id_col, dist2.alias("dist2"))
        .filter(F.col("dist2") <= F.lit(radius * radius))
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("dist2", ref_id_col)
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            id_col,
            F.col("knn_rank").cast("long").alias("knn_rank"),
            ref_id_col,
            F.round(F.sqrt(F.col("dist2")), 6).alias("dist_deg"),
        )
    )


# ---------------------------------------------------------------------------
# Round 6: portable hyperplane LSH (fully oracle-checkable cosine near-dup)
# ---------------------------------------------------------------------------


def portable_hyperplane_signs(
    n_tables: int, n_planes: int, dim: int
) -> list[list[list[int]]]:
    """Deterministic ±1 hyperplane entries, signs[t][j][d] from the md5
    of the (table, plane, dim) coordinate — the fixed public family an
    independent engine can rebuild literal-for-literal. ±1 (Rademacher)
    entries are a valid sign-random-projection family: E[sgn agreement]
    follows the same 1 − θ/π collision curve as Gaussian planes
    (Charikar 2002 notes hyperplanes need only be drawn from any
    distribution symmetric around the origin per coordinate)."""
    import hashlib

    return [
        [
            [
                1
                if hashlib.md5(f"hp:{t}:{j}:{d}".encode()).digest()[0] & 1
                else -1
                for d in range(dim)
            ]
            for j in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def portable_bucket_expr(vec, table_signs: list[list[int]]) -> "F.Column":
    """Bucket id of one portable hyperplane table: bit j is
    sign(Σ_d s_jd·x_d) ≥ 0 over the ±1 row ``table_signs[j]``
    (:func:`portable_hyperplane_signs`), the b bits packed into one int.
    The dot is a row-local ``zip_with`` + left-fold ``aggregate``, so an
    independent engine adds in the same (IEEE-exact-rounded) order."""
    acc = F.lit(0)
    for j, row in enumerate(table_signs):
        # HOF left fold, NOT an explicit left-associated 64-term chain
        # (bit-identical): the chain pushed q474 5.6 s → 30 s and q384
        # 30 s → 48 s at sf0.1 (round 10) — the 48 giant trees exceed
        # what codegen compiles, and per-NODE interpreted evaluation is
        # slower than the HOF's per-element loop over a primitive array.
        s_arr = F.array(*[F.lit(float(s)) for s in row])
        dot = F.aggregate(
            F.zip_with(vec, s_arr, lambda x, s: x.cast("double") * s),
            F.lit(0.0),
            lambda a, x: a + x,
        )
        acc = acc + F.when(dot >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def cosine_near_duplicates_portable(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.85,
    n_planes: int = 6,
    n_tables: int = 8,
) -> DataFrame:
    """:func:`cosine_near_duplicates` with a PORTABLE deterministic
    hyperplane family — every stage (signature bits, bucket keys,
    candidate set, exact-cosine verify) reproducible by an independent
    SQL engine, making the whole cosine-LSH pipeline hash-checkable
    (the q383/q28 move applied to embeddings; q47/q344 keep the fast
    numpy-Gaussian family as rows-only production paths).

    Bit j of table t is sign(Σ_d s_tjd·x_d) with s = ±1 from
    :func:`portable_hyperplane_signs`; the dot product is a row-local
    ``zip_with`` + left-fold ``aggregate`` so both engines add in the
    same (IEEE-exact-rounded) order, and the tie rule is ≥ 0 → 1.
    Bucket key of table t packs the b bits into one integer. Candidates
    come from the per-(table, bucket) equi-join with the
    first-agreeing-table guard (each unordered pair once, no shuffle-
    side dedup) — the same shape as :func:`cosine_near_duplicates`.
    Verify is exact cosine with the q46 rounding convention (4 dp,
    compare on the rounded value) so the float boundary is identical
    across engines.

    Geometry (6 planes × 8 tables) is pinned, not corpus-sized: the
    oracle must be able to rebuild it without running a count. At
    t = 0.85, p = 1 − acos(.85)/π = .8234, recall = 1−(1−p⁶)⁸ ≈ 0.95.
    """
    signs = portable_hyperplane_signs(n_tables, n_planes, dim)
    vec = F.col(vec_col)
    # id + bucket keys ONLY, materialized (round 10, guide §2.4): the
    # banded self-join references this relation twice, so uncached the
    # n_tables·n_planes fold-dots — the dominant per-row cost — ran
    # once per side; the cached index is (id + n_tables ints)/row,
    # MEMORY_AND_DISK / LRU like every LSH signature index here.
    # Candidate generation is ID-ONLY: carrying the embedding through the
    # exploded per-table self-join would push candidates × dim × 8 bytes
    # through the shuffle — the exact cost the non-portable path avoids.
    # Vectors re-attach at |survivor pairs| via two equi-joins before the
    # exact verify.
    keyed = query_scoped_cache(
        df.select(
            F.col(id_col),
            *[
                portable_bucket_expr(vec, s).alias(f"_bk{t}")
                for t, s in enumerate(signs)
            ],
        )
    )
    cand = band_pairs(keyed, id_col, [F.col(f"_bk{t}") for t in range(n_tables)])
    # Per-VECTOR norms computed once here and re-attached with the
    # vectors (round 10, guide §4.1): cosine_similarity recomputes both
    # norms per PAIR, so |candidates| ≫ |corpus| meant two redundant
    # interpreted 64-element folds per candidate. _norm(v) is the same
    # expression on the same input, and dot/( na · nb ) multiplies the
    # identical doubles in the identical order — bit-for-bit the old
    # result (pinned by the q384 oracle). Measured 21.4 → 9.4 s at
    # sf0.1.
    vecs = df.select(
        F.col(id_col), vec.alias("_v"), _norm(vec).alias("_nv")
    )
    pairs = (
        cand.join(vecs.withColumnRenamed(id_col, "id_a"), "id_a")
        .withColumnRenamed("_v", "_va")
        .withColumnRenamed("_nv", "_na")
        .join(vecs.withColumnRenamed(id_col, "id_b"), "id_b")
        .withColumnRenamed("_v", "_vb")
        .withColumnRenamed("_nv", "_nb")
    )
    cos = F.round(
        _dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb")), 4
    )
    return (
        pairs.select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )
