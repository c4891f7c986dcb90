"""Deduplication: exact, MinHash/SimHash/winnowing LSH, components, survivors, contamination screens.

Moved verbatim from the single-file catalog in the round-8 package
split; see _shared for the helpers and _registry for the decorator.
"""

from noaa_ais_glue_lakehouse_spark.plans.catalog._registry import (  # noqa: F401
    get_query,
    register,
)
from noaa_ais_glue_lakehouse_spark.plans.catalog._shared import *  # noqa: F401,F403


@register(
    "q25_dedup_exact",
    oracle="""
    WITH fp AS (
      SELECT *, md5(concat_ws('', coalesce(CAST(text AS VARCHAR), ' <NULL> '))) AS f
      FROM documents
    ),
    w AS (SELECT f, MIN(doc_id) AS doc_id FROM fp GROUP BY f)
    SELECT d.doc_id, d.lang, d.source, CAST(d.n_chars AS BIGINT) AS n_chars
    FROM fp d JOIN w ON d.f = w.f AND d.doc_id = w.doc_id
    """,
)
def q25_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 — exact content-fingerprint dedup with deterministic min-id
    survivor (fixing the reference's arbitrary dropDuplicates survivor).
    """
    docs = load(spark, sf_dir, "documents")
    out = dedup_exact(docs, content_cols=["text"], id_col="doc_id")
    return out.select(
        "doc_id", "lang", "source", F.col("n_chars").cast("long").alias("n_chars")
    )



@register(
    "q26_jaccard_pairs",
    baseline_only=True,  # O(n²) oracle anchor for q27/q171 recall
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                       x -> x <> '')) AS sh
      FROM documents
    ),
    sized AS (SELECT doc_id, sh, len(sh) AS n FROM toks)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sized a, sized b
    WHERE a.doc_id < b.doc_id
      AND LEAST(a.n, b.n) >= GREATEST(a.n, b.n) * 0.8
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= 0.8
    """,
)
def q26_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup (exact pairwise baseline, token shingles)."""
    docs = load(spark, sf_dir, "documents")
    return jaccard_pairs_exact(docs, "doc_id", "text", threshold=0.8)



@register("q27_minhash_near_dups")  # rows-only: xxhash64 not expressible in the oracle
def q27_minhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs, Jaccard-verified (the at-scale dedup
    path: banded signature equi-join, no cross product). Recall vs the
    exact baseline is asserted in tests/test_dedup.py.
    """
    docs = load(spark, sf_dir, "documents")
    return minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.8, use_char_ngrams=False
    )



@register("q28_simhash_near_dups", oracle=_simhash_md5_oracle(3, 4))
def q28_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via block-permutation LSH + Hamming verify
    — FULLY hash-oracle-checked since round 5: the md5-based portable
    hash family (functions/hashing.py simhash64_portable, the q284
    cross-engine trick) lets DuckDB rebuild identical simhashes, and
    pigeonhole blocking's exact recall makes the LSH output equal brute
    force, so the oracle enumerates the identical pair set end-to-end.
    xxhash64 simhash (the marginally cheaper production kernel) keeps
    its own recall/Hamming pins in tests/test_dedup.py."""
    docs = load(spark, sf_dir, "documents")
    return simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=3, portable_hash=True
    )


# ---------------------------------------------------------------------------
# Text analysis (training-data curation surface)
# ---------------------------------------------------------------------------



@register(
    "q39_nav_status_lookup",
    oracle=f"""
    WITH {_nav_status_values_sql()}
    SELECT d.status_name, CAST(COUNT(*) AS BIGINT) AS n
    FROM events e LEFT JOIN dim d ON (e.event_id % 16) = d.code
    GROUP BY d.status_name
    """,
)
def q39_nav_status_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P14/D2/J1 — dim built with key-dedup from a dirty source, consumed
    via the broadcast lookup join (reference dim_nav_status + join_lookup).
    """
    from noaa_ais_glue_lakehouse_spark.operators.dims import (
        _NAV_STATUS_ROWS,
        build_dim_nav_status,
        join_lookup,
    )

    dirty = spark.createDataFrame(
        _NAV_STATUS_ROWS + _NAV_STATUS_ROWS[:4],  # injected dup keys → D2 dedup
        ["Code", "Navigational_Status", "Meaning"],
    )
    dim = build_dim_nav_status(dirty)
    ev = load(spark, sf_dir, "events").withColumn(
        "Status", (F.col("event_id") % 16).cast("int")
    )
    joined = join_lookup(ev, dim, "Status", "Code", "StatusName", "status_name")
    return joined.groupBy("status_name").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )



@register(
    "q46_cosine_dup_exact",
    baseline_only=True,  # O(n²) oracle anchor for q47/q64 recall
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
             4) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND(
             list_sum(list_transform(list_zip(a.embedding, b.embedding),
                      p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
             / (SQRT(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))
                * SQRT(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))),
             4) >= 0.4
    """,
)
def q46_cosine_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup, exact all-pairs baseline (the oracle
    anchor for the LSH scale path q47)."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import cosine_pairs_exact

    emb = load(spark, sf_dir, "embeddings")
    return cosine_pairs_exact(emb, "vec_id", "embedding", threshold=0.4)



@register("q47_cosine_dup_lsh")  # rows-only: LSH recall < 1 by design
def q47_cosine_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup via multi-table hyperplane LSH + exact
    verify — the mid-scale embedding dedup path; recall vs q46 is
    asserted in tests/test_similarity.py. Since round 6 this production
    path runs CORPUS-SIZED geometry (``lsh_geometry_for``: planes ~
    log2(n), tables from the recall integral — the library default),
    retiring the fixed 4×16 geometry whose decade exponent measured 1.88
    (SCALING.md); the fixed form survives only as a pinned test surface
    via explicit ``n_planes=/n_tables=``. Verify is the default
    join-attach form (vectors re-attach to the candidate pairs via two
    equi-joins): no driver-side collect anywhere on this path, so it
    survives a corpus that outgrows driver memory. The truly-at-scale
    variants are the clustered (q64) and IVF (q55) paths."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    emb = load(spark, sf_dir, "embeddings")
    return cosine_near_duplicates(emb, dim=64, threshold=0.4)



@register(
    "q49_winnow_fingerprints",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents
      WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams
      WHERE len(hashes) >= 4
    )
    SELECT doc_id, unnest(fps) AS fingerprint FROM wins
    """,
)
def q49_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (k=8, w=4), exploded to one row per
    (doc, fingerprint) — the local-fingerprint index a plagiarism/overlap
    detector joins on."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_fingerprint_index,
    )

    docs = load(spark, sf_dir, "documents")
    return winnow_fingerprint_index(docs, "doc_id", "text", 8, 4)



@register(
    "q61_winnow_near_dups",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx0 AS (
      SELECT doc_id, unnest(fps) AS fp FROM wins
    ), hot AS (
      SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
    ), idx AS (
      SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 10
    """,
)
def q61_winnow_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-based near-dup pairs — the PRODUCTION (df-capped) form.

    Round-10 promotion (round-9 verdict ask #2, the q397 template): the
    unsuffixed production name now serves the max_df=64 plan (q343's —
    fingerprints held by >64 docs are dropped before the self-join, the
    MOSS boilerplate rule, bounding candidates linear in the corpus;
    SCALING.md measured the uncapped form at decade exponent 1.73).
    The uncapped exact contract moved to q61_winnow_near_dups_exact,
    registered ``baseline_only`` as the oracle anchor. Deterministic
    (no randomness), fully oracle-checked; equi-join on fingerprint —
    same no-cross-product shape as LSH banding."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    return winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )



@register(
    "q61_winnow_near_dups_exact",
    baseline_only=True,  # measured-quadratic exact contract (SCALING.md:
    # char-8-gram df saturation, decade exponent 1.73) — kept as the
    # oracle anchor the capped production form's recall is pinned against
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx AS (
      SELECT doc_id, unnest(fps) AS fp FROM wins
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 10
    """,
)
def q61_winnow_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-dup pairs, EXACT (uncapped) contract — the
    baseline_only oracle anchor (round-10 name promotion; the unsuffixed
    q61_winnow_near_dups now serves the df-capped production plan).
    Self-join the full fingerprint index on fingerprint, keep pairs
    sharing ≥10 fingerprints. Σ df² over posting lists is measured
    quadratic on real corpora (gram-space saturation, SCALING.md), so
    this form exists to pin the capped form's recall, never to run at
    scale."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    return winnow_near_duplicates(docs, "doc_id", "text", 8, 4, min_shared=10)



@register(
    "q62_dedup_components",
    build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests",
    oracle=_cc_oracle(
        """SELECT node AS doc_id, component FROM comp""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q62_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the winnowing near-dup graph — the
    pairs→groups step of dedup. Composes q61's pair stream by name, so
    the round-10 promotion moved it (and its oracle) onto the df-capped
    production pairs automatically. Deterministic input graph, so the
    distributed min-label + pointer-doubling loop is hash-checked against
    a recursive-CTE reachability oracle."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import connected_components

    pairs = get_query("q61_winnow_near_dups")(spark, sf_dir).select("id_a", "id_b")
    return connected_components(pairs).select(
        F.col("id").alias("doc_id"), F.col("component")
    )



@register("q64_cosine_dup_cluster", build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests")  # rows-only: k-means clustering not SQL-expressible
def q64_cosine_dup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered embedding dedup (SemDeDup shape): k-means multi-assign +
    per-cluster BLAS similarity matrix via applyInPandas — the scale path
    when the threshold sits too close to the random-pair cosine for
    sign-LSH to prune. Precision exact (scores match q46 on found pairs);
    recall vs q46 asserted in tests/test_similarity.py. Rows-only here
    (numpy k-means); q447_cosine_dup_clustered_portable is the
    hash-gated twin — the same assign → per-cluster self-join → verify
    topology with the portable coarse quantizer substituted for the
    trained centroids."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_near_duplicates_clustered,
    )

    emb = load(spark, sf_dir, "embeddings")
    return cosine_near_duplicates_clustered(emb, dim=64, threshold=0.4)



@register(
    "q65_dedup_survivors",
    build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests",
    oracle=_cc_oracle(
        """, losers AS (SELECT node FROM comp WHERE component <> node)
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d ANTI JOIN losers l ON d.doc_id = l.node""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q65_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END dedup: winnowing near-dup pairs → connected components →
    min-id survivor per component + all untouched docs (dedup_by_components)
    — the full pairs→groups→survivors chain a training pipeline runs, fully
    hash-checked against a recursive-CTE oracle (deterministic family).
    Round-10 promotion: the production name now consumes the df-capped
    (max_df=64) pair stream — one implementation shared with
    q476_dedup_survivors_capped (two registry entries, the
    q397/q446 pattern); the uncapped anchor lives under
    q61_winnow_near_dups_exact."""
    return get_query("q476_dedup_survivors_capped")(spark, sf_dir)



@register(
    "q69_dedup_survivors_quality",
    build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests",
    oracle=_cc_oracle(
        """, ranked AS (
      SELECT c.node,
             ROW_NUMBER() OVER (
               PARTITION BY c.component
               ORDER BY length(d.text) DESC, c.node ASC
             ) AS rn
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ), losers AS (
      SELECT node FROM ranked WHERE rn > 1
    )
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d ANTI JOIN losers l ON d.doc_id = l.node""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q69_dedup_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor selection: per near-dup component keep the
    LONGEST document (ties → min id) instead of the min-id representative
    — what production corpus dedup keeps. Same recursive-CTE oracle as
    q65 with an argmax-per-component ranking. Round-10 promotion: the
    production name consumes the df-capped (max_df=64) pair stream and
    the oracle rides _WINNOW_PAIRS_CAPPED_SQL (the q476 pattern); the
    uncapped anchor is q61_winnow_near_dups_exact."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        dedup_by_components,
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "_len", F.length("text").cast("long")
    )
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )
    survivors = dedup_by_components(
        docs, pairs.select("id_a", "id_b"), "doc_id", quality_col="_len"
    )
    return survivors.select("doc_id", F.col("_len").alias("n_chars"))



@register(
    "q82_dup_ngram_rate",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 5
                  THEN list_transform(range(1, len(toks) - 3),
                                      i -> array_to_string(toks[i:i+4], ' '))
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM t
    )
    SELECT doc_id,
           CAST(len(grams) AS BIGINT) AS n_grams,
           CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
           ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS dup_rate
    FROM g WHERE len(grams) > 0
    """,
)
def q82_dup_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-5-gram rate — the repetition signal
    used to flag boilerplate/spam docs in LLM corpus curation (high
    dup-rate ⇒ templated or looping text). Entirely column expressions:
    n-grams built with sequence+transform+slice, counted with
    array_distinct — zero explode, zero shuffle beyond the scan."""
    docs = load(spark, sf_dir, "documents")
    grams = _word_ngrams(tokenize(F.col("text")), 5)
    out = docs.select(
        "doc_id",
        F.size(grams).cast("long").alias("n_grams"),
        F.size(F.array_distinct(grams)).cast("long").alias("n_distinct"),
    ).where(F.col("n_grams") > 0)
    return out.select(
        "doc_id",
        "n_grams",
        "n_distinct",
        F.round(1.0 - F.col("n_distinct") / F.col("n_grams"), 6).alias("dup_rate"),
    )



@register(
    "q83_benchmark_contamination",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 8
                  THEN list_distinct(list_transform(range(1, len(toks) - 6),
                                     i -> array_to_string(toks[i:i+7], ' ')))
                  ELSE CAST([] AS VARCHAR[]) END AS grams
      FROM t
    ), bench AS (
      SELECT DISTINCT UNNEST(grams) AS gram FROM g WHERE doc_id < 50
    ), corpus AS (
      SELECT doc_id, UNNEST(grams) AS gram FROM g WHERE doc_id >= 50
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared_grams
    FROM corpus c JOIN bench b ON c.gram = b.gram
    GROUP BY c.doc_id
    """,
)
def q83_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 8-gram with a
    held-out benchmark set (here: doc_id < 50), with the shared-gram count
    per contaminated doc. The benchmark gram set is tiny relative to the
    corpus, so the join broadcasts — at 100 TB the corpus side streams
    through map-side hash probes with no corpus shuffle at all. Distinct
    grams per doc before the join bounds the explode at
    (doc_len - 7) rows per doc."""
    docs = load(spark, sf_dir, "documents")
    grams = F.array_distinct(_word_ngrams(tokenize(F.col("text")), 8))
    with_grams = docs.select("doc_id", grams.alias("grams"))
    bench = (
        with_grams.where(F.col("doc_id") < 50)
        .select(F.explode("grams").alias("gram"))
        .distinct()
    )
    corpus = with_grams.where(F.col("doc_id") >= 50).select(
        "doc_id", F.explode("grams").alias("gram")
    )
    return (
        corpus.join(F.broadcast(bench), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_grams"))
    )



@register(
    "q119_recursive_date_spine",
    oracle="""
    WITH RECURSIVE d(day, max_day) AS (
      SELECT MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)) FROM events
      UNION ALL
      SELECT CAST(day + INTERVAL 1 DAY AS DATE), max_day FROM d WHERE day < max_day
    )
    SELECT d.day, CAST(COUNT(e.event_id) AS BIGINT) AS n_events
    FROM d LEFT JOIN events e ON CAST(e.ts AS DATE) = d.day
    GROUP BY d.day
    """,
)
def q119_recursive_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NATIVE recursive CTE (Spark 4's WITH RECURSIVE): generate the
    complete calendar spine between the table's first and last day by
    recursion — no driver-side date loop, no sequence() row — and
    left-join daily counts onto it so silent zero-event days surface as
    explicit rows (the data-freshness report a lakehouse runs nightly).
    Recursion bounds travel as columns of the working set, so the whole
    spine derives from ONE anchor aggregate; the iterative union runs
    inside the engine exactly like the q62 connected-components loop,
    but declared in SQL."""
    ev = load(spark, sf_dir, "events")
    ev.createOrReplaceTempView("q119_events")
    return spark.sql(
        """
        WITH RECURSIVE d(day, max_day) AS (
          SELECT MIN(CAST(ts AS DATE)), MAX(CAST(ts AS DATE)) FROM q119_events
          UNION ALL
          SELECT date_add(day, 1), max_day FROM d WHERE day < max_day
        )
        SELECT d.day, CAST(COUNT(e.event_id) AS BIGINT) AS n_events
        FROM d LEFT JOIN q119_events e ON CAST(e.ts AS DATE) = d.day
        GROUP BY d.day
        """
    )



@register(
    "q129_dup_graph_degree",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx0 AS (
      SELECT doc_id, unnest(fps) AS fp FROM wins
    ), hot AS (
      SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
    ), idx AS (
      SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= 10
    ), deg AS (
      SELECT node, COUNT(*) AS degree FROM (
        SELECT id_a AS node FROM pairs
        UNION ALL SELECT id_b FROM pairs
      ) GROUP BY node
    )
    SELECT degree,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM deg GROUP BY degree
    """,
)
def q129_dup_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-graph degree distribution — the diagnostic a dedup run
    publishes BEFORE committing survivors: how many documents have 1, 2,
    …, k near-dup partners (heavy tails reveal boilerplate/template
    families that deserve their own handling rather than pairwise
    dedup). Built on the deterministic winnowing pairs — since round 10
    the df-capped PRODUCTION stream (max_df=64, the q61 promotion) — so
    the whole profile is hash-checked; degrees come from one explode +
    count, |pairs| work."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )
    nodes = pairs.select(F.col("id_a").alias("node")).unionAll(
        pairs.select(F.col("id_b").alias("node"))
    )
    deg = nodes.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )



@register(
    "q138_leakage_safe_split",
    build_time_exec="connected components iterate at plan build; the final report also carries a deliberate 1-row violations-count broadcast cross join",
    oracle=_cc_oracle(
        """, assigned AS (
      SELECT d.doc_id,
             COALESCE(r.component, d.doc_id) AS rep_id,
             CASE WHEN CAST(((COALESCE(r.component, d.doc_id) % 2147483648) * 2654435761)
                            % 4294967296 AS DOUBLE) / 4294967296.0 < 0.05
                    THEN 'val'
                  WHEN CAST(((COALESCE(r.component, d.doc_id) % 2147483648) * 2654435761)
                            % 4294967296 AS DOUBLE) / 4294967296.0 < 0.10
                    THEN 'test'
                  ELSE 'train' END AS split
      FROM documents d LEFT JOIN comp r ON d.doc_id = r.node
    ),
    viol AS (
      SELECT COUNT(*) AS n FROM p
      JOIN assigned a ON p.id_a = a.doc_id
      JOIN assigned b ON p.id_b = b.doc_id
      WHERE a.split <> b.split
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST((SELECT n FROM viol) AS BIGINT) AS n_split_violations
    FROM assigned GROUP BY split""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q138_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test assignment: the split hash rides the
    near-dup COMPONENT representative, so a duplicate family can never
    straddle splits (a val doc with a near-identical twin in train
    silently inflates eval — the contamination the published dedup
    studies warn about). Uses the deterministic winnowing pair graph —
    since round 10 the df-capped PRODUCTION stream (max_df=64, the q61
    promotion; oracle on _WINNOW_PAIRS_CAPPED_SQL) — so the whole
    assignment — and the zero-violation property itself, emitted as a
    column — is hash-checked against the recursive-CTE oracle."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )
    from noaa_ais_glue_lakehouse_spark.operators.training import (
        leakage_safe_split,
    )

    docs = load(spark, sf_dir, "documents")
    # pairs feeds the split assignment AND the violation audit; assigned
    # feeds both violation sides and the split rollup — uncached, the
    # winnow pipeline re-ran per reference (7 executed scans; round 11,
    # bounded cache registry — both relations are pair/doc-id-sized)
    pairs = query_scoped_cache(
        winnow_near_duplicates(
            docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
        )
    )
    assigned = query_scoped_cache(
        leakage_safe_split(
            docs.select("doc_id"), "doc_id", pairs.select("id_a", "id_b")
        )
    )
    a = assigned.select(F.col("doc_id").alias("id_a"), F.col("split").alias("_sa"))
    b = assigned.select(F.col("doc_id").alias("id_b"), F.col("split").alias("_sb"))
    viol = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("_sa") != F.col("_sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_split_violations"))
    )
    return (
        assigned.groupBy("split")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .crossJoin(F.broadcast(viol))
    )



@register(
    "q146_dedup_savings",
    oracle=r"""
    WITH t AS (
      SELECT doc_id, text,
             len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
                             x -> x <> '')) AS n_tokens,
             MIN(doc_id) OVER (PARTITION BY text) AS keeper
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS docs_before,
           CAST(SUM(CASE WHEN doc_id = keeper THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_after,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens_before,
           CAST(SUM(CASE WHEN doc_id = keeper THEN n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_after,
           ROUND(1.0 - CAST(SUM(CASE WHEN doc_id = keeper THEN n_tokens
                                     ELSE 0 END) AS DOUBLE)
                 / SUM(n_tokens), 6) AS token_savings
    FROM t
    """,
)
def q146_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup impact report — the number a curation run publishes to
    justify itself: document and TOKEN counts before/after exact dedup
    and the fraction of training compute the dedup saved. The survivor
    flag is a min-id window over the content key (no join-back), so the
    whole report is one window pass + one 1-row aggregate."""
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("text")
    t = docs.select(
        "doc_id",
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
        F.min("doc_id").over(w).alias("keeper"),
    )
    kept = F.when(F.col("doc_id") == F.col("keeper"), F.col("n_tokens")).otherwise(
        F.lit(0)
    )
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("docs_before"),
        F.sum(F.when(F.col("doc_id") == F.col("keeper"), 1).otherwise(0))
        .cast("long")
        .alias("docs_after"),
        F.sum("n_tokens").cast("long").alias("tokens_before"),
        F.sum(kept).cast("long").alias("tokens_after"),
        F.round(
            1.0 - F.sum(kept).cast("double") / F.sum("n_tokens"), 6
        ).alias("token_savings"),
    )



@register(
    "q148_doc_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\s+'),
                         x -> x <> '') AS w
      FROM documents
    ),
    grams AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(
               range(1, len(w) - 3),
               i -> array_to_string(w[i : i + 4], ' ')))) AS g
      FROM toks WHERE len(w) >= 5
    ),
    counts AS (
      SELECT g, COUNT(*) AS df FROM grams GROUP BY g
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           ROUND(CAST(SUM(CASE WHEN c.df = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM grams gr JOIN counts c USING (g)
    GROUP BY gr.doc_id
    """,
)
def q148_doc_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document novelty — the inverse of the boilerplate signal: the
    fraction of a document's distinct word 5-grams that occur NOWHERE
    else in the corpus (document frequency 1). Low novelty = template/
    near-dup material the near-dup families should catch; high novelty =
    unique content worth keeping. One gram explode (distinct within doc)
    and a count window over the gram key for document frequency — the
    q372/q349 round-10 rewrite: the previous df-rollup + join-back
    referenced the gram stream twice, running the tokenize→5-gram→explode
    subtree once per reference (guide §2.4)."""
    docs = load(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(_word_ngrams(tokenize(F.col("text")), 5))
        ).alias("g"),
    )
    joined = grams.select(
        "doc_id", F.count(F.lit(1)).over(Window.partitionBy("g")).alias("df")
    )
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("df") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_unique"),
        F.round(
            F.sum(F.when(F.col("df") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )



@register(
    "q171_jaccard_prefix_filter",
    scaling_adjudicated=(
        "exact-semantics PPJoin (rarest-first prefix filter + positional "
        "filter): the TRUE scale path when dedup policy demands exact "
        "Jaccard answers, linear on Zipfian corpora; the measured 1.54 "
        "decade exponent arose only on an ADVERSARIAL uniform/flat "
        "vocabulary where every prefix token is equally common and no "
        "prefix is rare (SCALING.md 'PPJoin (q171): uniform vocabulary "
        "is the prefix filter's worst case', measured 1.54) - a data "
        "property, not a plan defect; exactness has no capped twin by "
        "definition"
    ),
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_distinct(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                                       x -> x <> '')) AS sh
      FROM documents
    ),
    sized AS (SELECT doc_id, sh, len(sh) AS n FROM toks)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (a.n + b.n - len(list_intersect(a.sh, b.sh))), 6) AS jaccard
    FROM sized a, sized b
    WHERE a.doc_id < b.doc_id
      AND LEAST(a.n, b.n) >= GREATEST(a.n, b.n) * 0.8
      AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= 0.8
    """,
)
def q171_jaccard_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98 — EXACT near-dup pairs via the AllPairs/PPJoin prefix filter:
    identical output to the O(n²) baseline (the oracle IS the brute-force
    query), but every join is a keyed equi-join on rarest-first prefix
    tokens. The scale path when dedup policy demands exactness — unlike
    q27/q28 there is no recall to argue about.
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    docs = load(spark, sf_dir, "documents")
    return jaccard_pairs_prefix_filter(docs, "doc_id", "text", threshold=0.8)



@register(
    "q178_source_js_divergence",
    oracle="""
    WITH t AS (
      SELECT source,
             UNNEST(list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                    x -> x <> '')) AS tok
      FROM documents
    ), c AS (
      SELECT source, tok, COUNT(*) AS n FROM t GROUP BY 1, 2
    ), s AS (
      SELECT source, SUM(n) AS tot FROM c GROUP BY 1
    ), p AS (
      SELECT c.source, c.tok, c.n / CAST(s.tot AS DOUBLE) AS p
      FROM c JOIN s ON c.source = s.source
    ), shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             SUM(a.p * ln(2.0 * a.p / (a.p + b.p))) AS s1,
             SUM(b.p * ln(2.0 * b.p / (a.p + b.p))) AS s2,
             SUM(a.p) AS ma, SUM(b.p) AS mb
      FROM p a JOIN p b ON a.tok = b.tok AND a.source < b.source
      GROUP BY 1, 2
    ), spine AS (
      -- every source pair, even ones sharing ZERO tokens: the inner
      -- token join emits nothing for them, and absence would read as
      -- "no drift" for exactly the maximally-diverged (JSD = 1) pairs
      SELECT a.source AS source_a, b.source AS source_b
      FROM s a JOIN s b ON a.source < b.source
    )
    SELECT sp.source_a, sp.source_b,
           ROUND((0.5 * (COALESCE(sh.s1, 0.0)
                         + (1.0 - COALESCE(sh.ma, 0.0)) * ln(2.0))
                  + 0.5 * (COALESCE(sh.s2, 0.0)
                           + (1.0 - COALESCE(sh.mb, 0.0)) * ln(2.0)))
                 / ln(2.0), 6) AS jsd_bits
    FROM spine sp
    LEFT JOIN shared sh
      ON sh.source_a = sp.source_a AND sh.source_b = sp.source_b
    """,
)
def q178_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X105 — Jensen-Shannon divergence (bits) between every pair of
    source unigram distributions: the distribution-aware complement to
    q166's vocabulary Jaccard (two slices can share vocab yet use it
    with very different frequencies) and the principled mixture-design /
    drift metric (symmetric, bounded [0,1] in bits).

    The shape that keeps it ONE documents scan and ZERO joins (round-11
    rewrite; the round-10 plan referenced the counts subtree four times
    — both self-join sides plus both spine sides — re-running the
    tokenize→explode→count pipeline four times, 4× the scan cost at
    100 TB): for tokens present only in P the JSD integrand collapses
    to p·ln2, so each side's exclusive mass contributes
    (1 − shared_mass)·ln2 in closed form and only shared tokens need
    the pairwise term. Shared-token pairs come from ONE
    collect_list(struct(source, p)) per token (list size ≤ |sources| —
    bounded even on stopword keys) with i<j pairs expanded by a JVM
    ``transform`` HOF. The |sources|² pair spine rides the SAME stream:
    each source's first row (rank 1 inside the per-source window the
    probability normalization already pays for) emits one extra
    NULL-token marker row, so the NULL-token group collects EVERY
    source and its pair expansion IS the spine — pairs with fully
    disjoint vocabularies still appear (JSD = 1) with no second scan,
    no distinct, no theta join.
    """
    docs = load(spark, sf_dir, "documents")
    c = (
        docs.select("source", F.explode(tokenize(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # one window spec for both the total and the rank → ONE Sort + Window
    # operator (an unbounded frame makes the ordered sum a total sum)
    wsrc = Window.partitionBy("source").orderBy("tok")
    wtot = wsrc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    stream = c.select(
        "source",
        "tok",
        (F.col("n") / F.sum("n").over(wtot)).alias("p"),
        F.row_number().over(wsrc).alias("rn"),
    )
    # rank-1 rows additionally emit a NULL-token marker (real tokens are
    # never NULL: tokenize() filters empties) — the 2-element-explode
    # pattern from q172/q185, one subtree, no union.
    tp = F.when(
        F.col("rn") == 1,
        F.array(
            F.struct(F.col("tok").alias("tok"), F.col("p").alias("p")),
            F.struct(
                F.lit(None).cast("string").alias("tok"),
                F.lit(0.0).alias("p"),
            ),
        ),
    ).otherwise(
        F.array(F.struct(F.col("tok").alias("tok"), F.col("p").alias("p")))
    )
    exploded = stream.select("source", F.explode(tp).alias("tp")).select(
        "source", F.col("tp.tok").alias("tok"), F.col("tp.p").alias("p")
    )
    grouped = exploded.groupBy("tok").agg(
        F.sort_array(
            F.collect_list(F.struct(F.col("source").alias("s"), "p"))
        ).alias("xs")
    )
    pairs = grouped.select(
        "tok",
        F.explode(
            F.expr(
                "flatten(transform(xs, (x, i) ->"
                " transform(slice(xs, i + 2, size(xs) - i - 1),"
                " y -> struct(x.s AS sa, y.s AS sb, x.p AS pa, y.p AS pb))))"
            )
        ).alias("pr"),
    ).select("tok", "pr.sa", "pr.sb", "pr.pa", "pr.pb")
    shared_tok = F.col("tok").isNotNull()
    ln2 = F.log(F.lit(2.0))
    agg = pairs.groupBy(
        F.col("sa").alias("source_a"), F.col("sb").alias("source_b")
    ).agg(
        F.sum(
            F.when(
                shared_tok,
                F.col("pa")
                * F.log(2.0 * F.col("pa") / (F.col("pa") + F.col("pb"))),
            )
        ).alias("s1"),
        F.sum(
            F.when(
                shared_tok,
                F.col("pb")
                * F.log(2.0 * F.col("pb") / (F.col("pa") + F.col("pb"))),
            )
        ).alias("s2"),
        F.sum(F.when(shared_tok, F.col("pa"))).alias("ma"),
        F.sum(F.when(shared_tok, F.col("pb"))).alias("mb"),
    )
    s1 = F.coalesce("s1", F.lit(0.0))
    s2 = F.coalesce("s2", F.lit(0.0))
    ma = F.coalesce("ma", F.lit(0.0))
    mb = F.coalesce("mb", F.lit(0.0))
    return agg.select(
        "source_a",
        "source_b",
        F.round(
            (
                0.5 * (s1 + (1.0 - ma) * ln2)
                + 0.5 * (s2 + (1.0 - mb) * ln2)
            )
            / ln2,
            6,
        ).alias("jsd_bits"),
    )



@register(
    "q194_cross_source_dups",
    oracle="""
    WITH fp AS (
      SELECT DISTINCT
             md5(array_to_string(
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> x <> '')[1:8], ' ')) AS f,
             source
      FROM documents
    ),
    g AS (
      SELECT f,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             list_sort(list(source)) AS sources
      FROM fp GROUP BY f
    )
    SELECT f AS fingerprint, n_sources,
           array_to_string(sources, ',') AS sources
    FROM g WHERE n_sources >= 2
    """,
)
def q194_cross_source_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X121 — cross-slice contamination audit: document-HEAD
    fingerprints (md5 of the first 8 tokens — the shared-boilerplate /
    template detector; whole-text md5 finds only byte-identical copies,
    which near-dup corpora rarely contain across slices) appearing in
    TWO OR MORE sources, with the sorted source list. This is the
    slice-level leakage check run before mixture weighting (q184) or
    split assignment (q138): if a benchmark slice shares text with a
    train slice, downweighting one of them doesn't deduplicate it.

    One distinct on (fingerprint, source) — map-side combinable — then
    a fingerprint-keyed rollup; the sorted-list column uses the q87
    deterministic array_agg shape, emitted as a joined string so the
    hash compare is collation-stable.
    """
    docs = load(spark, sf_dir, "documents")
    head = F.array_join(
        F.slice(tokenize(F.col("text")), 1, 8), " "
    )
    fp = docs.select(
        F.md5(head).alias("f"), "source"
    ).distinct()
    g = fp.groupBy("f").agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        F.array_join(F.array_sort(F.collect_list("source")), ",").alias(
            "sources"
        ),
    )
    return g.filter(F.col("n_sources") >= 2).select(
        F.col("f").alias("fingerprint"), "n_sources", "sources"
    )


# ---------------------------------------------------------------------------
# Search, privacy release, diversity audit (X122-X124)
# ---------------------------------------------------------------------------



@register(
    "q211_line_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS l
      FROM documents
    ),
    segs AS (
      SELECT doc_id, x AS seg_idx,
             array_to_string(l[(x*8+1):(x*8+8)], ' ') AS seg
      FROM toks, UNNEST(range(0, CAST(ceil(len(l)/8.0) AS BIGINT))) AS t(x)
      WHERE len(l) > 0
    ),
    df AS (
      SELECT seg, COUNT(DISTINCT doc_id) AS d FROM segs GROUP BY 1
    ),
    tagged AS (
      SELECT s.doc_id, s.seg_idx, s.seg, df.d FROM segs s JOIN df USING (seg)
    )
    SELECT t.doc_id,
           CAST(COUNT(s.seg_idx) AS BIGINT) AS n_segments,
           CAST(COUNT(CASE WHEN s.d <= 2 THEN 1 END) AS BIGINT) AS n_kept,
           COALESCE(string_agg(CASE WHEN s.d <= 2 THEN s.seg END, ' '
                               ORDER BY s.seg_idx), '') AS cleaned_text
    FROM toks t LEFT JOIN tagged s ON s.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def q211_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X138 — C4-style line-level dedup over 8-token segments: any
    segment appearing in MORE than 2 documents is corpus boilerplate and
    is stripped from every document, survivors reassembled in order —
    the within-document complement to whole-document dedup (a doc can be
    globally unique yet 80% navigation chrome). The cleaned_text
    hash-compare pins the full reassembly, not just counts.
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        drop_boilerplate_segments,
    )

    docs = load(spark, sf_dir, "documents")
    return drop_boilerplate_segments(
        docs, "doc_id", "text", seg_tokens=8, max_df=2
    )



@register(
    "q217_fuzzy_blocked_linkage",
    oracle=_FUZZY_PAIRS_CTE
    + """
    SELECT name_a, name_b, edit_dist FROM fuzzy
    """,
)
def q217_fuzzy_blocked_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X144 — fuzzy record linkage: blocking + edit-distance verify, the
    classic entity-resolution pattern (Fellegi-Sunter style candidate
    generation). Block key = last name token; candidates are an
    equi-join WITHIN blocks only (never the O(n^2) cross product);
    verify = Levenshtein <= 3, JVM-side ``levenshtein`` expression.

    Runs on the DISTINCT name set — the dimension-sized side — so block
    sizes are bounded by name-space cardinality, not row count; at
    100 TB the distinct-project is the only full-data shuffle and the
    pair join stays dimension-sized. A skewed block (one very common
    token) would be salted; here blocks are the ~16 part nouns.
    """
    return _fuzzy_name_pairs(spark, sf_dir)



@register(
    "q225_sorted_neighborhood_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part),
    r AS (SELECT name, ROW_NUMBER() OVER (ORDER BY name) AS idx FROM names)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(b.idx - a.idx AS BIGINT) AS idx_gap,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
    FROM r a JOIN r b ON b.idx > a.idx AND b.idx - a.idx < 3
    WHERE levenshtein(a.name, b.name) <= 4
    """,
)
def q225_sorted_neighborhood_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X152 — sorted-neighborhood record linkage (Hernandez-Stolfo): sort
    keys, compare each record only with its w-1 successors in sort order,
    verify with Levenshtein. The OTHER classic candidate generator next
    to q217's blocking — catches near-matches that straddle block
    boundaries (e.g. a typo in the blocking token itself would defeat
    q217; sort order keeps the pair adjacent).

    Scale shape: the global sort POSITION comes from the two-phase
    parallel prefix scan (global_running_sum of 1 — range partition +
    local window + offset broadcast), never a single-partition
    ROW_NUMBER; neighborhood candidates are an equi-join on
    floor(idx/w) bucket keys (each row probes its own and the next
    bucket — any pair with idx gap < w differs by at most one bucket),
    so the candidate volume is |rows| x w with no sort-order self-join.
    """
    from noaa_ais_glue_lakehouse_spark.operators.ordering import (
        global_running_sum,
    )

    w = 3
    names = (
        load(spark, sf_dir, "part")
        .select(F.col("p_name").alias("name"))
        .distinct()
    )
    idx = global_running_sum(
        names.withColumn("_one", F.lit(1)), ["name"], "_one", out_col="idx"
    ).drop("_one")
    b = idx.withColumn("bkt", F.floor((F.col("idx") - 1) / w))
    probe = b.select(
        F.col("name").alias("name_a"),
        F.col("idx").alias("ia"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") + 1)).alias("jb"),
    )
    build = b.select(
        F.col("name").alias("name_b"),
        F.col("idx").alias("ib"),
        F.col("bkt").alias("jb"),
    )
    return (
        probe.join(build, "jb")
        .filter(
            (F.col("ib") > F.col("ia")) & (F.col("ib") - F.col("ia") < w)
        )
        .select(
            "name_a",
            "name_b",
            (F.col("ib") - F.col("ia")).cast("long").alias("idx_gap"),
            F.levenshtein(F.col("name_a"), F.col("name_b"))
            .cast("long")
            .alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= 4)
    )



@register(
    "q241_next_event_accuracy",
    oracle="""
    WITH tr AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER w AS nxt,
             LEAD(CAST(ts AS DATE)) OVER w AS nd
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    t2 AS (SELECT cur, nxt, nd FROM tr WHERE nxt IS NOT NULL),
    train AS (
      SELECT cur, nxt, COUNT(*) AS c FROM t2
      WHERE nd < DATE '2024-01-21' GROUP BY 1, 2
    ),
    pred AS (
      SELECT cur, nxt AS p FROM (
        SELECT cur, nxt,
               ROW_NUMBER() OVER (PARTITION BY cur
                                  ORDER BY c DESC, nxt) AS rn
        FROM train
      ) WHERE rn = 1
    )
    SELECT t2.cur AS cur_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN t2.nxt = p THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           ROUND(CAST(SUM(CASE WHEN t2.nxt = p THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS accuracy
    FROM t2 JOIN pred ON pred.cur = t2.cur
    WHERE t2.nd >= DATE '2024-01-21'
    GROUP BY t2.cur
    """,
)
def q241_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X168 — sequence-model evaluation: train a first-order Markov
    next-event predictor (argmax transition count, deterministic
    tiebreak) on the first 20 days, score top-1 accuracy per current
    event type on the rest. The time-based split is the leakage-safe
    one for sequences (q138's hash split would leak future transitions
    into train).

    Plan shape: ONE user-partitioned window pass builds every
    transition; the train matrix and the predictions are 25-key /
    5-key aggregations broadcast back onto the test transitions. The
    temporal split is a filter on the SAME transition set, so train and
    test can never disagree about sessionization.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
        F.lead(F.to_date("ts")).over(w).alias("nd"),
    ).filter(F.col("nxt").isNotNull())
    split = F.lit("2024-01-21").cast("date")
    train = (
        tr.filter(F.col("nd") < split)
        .groupBy("cur", "nxt")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wp = Window.partitionBy("cur").orderBy(F.col("c").desc(), "nxt")
    pred = (
        train.withColumn("rn", F.row_number().over(wp))
        .filter(F.col("rn") == 1)
        .select("cur", F.col("nxt").alias("p"))
    )
    test = tr.filter(F.col("nd") >= split)
    hit = F.sum((F.col("nxt") == F.col("p")).cast("long"))
    return (
        test.join(F.broadcast(pred), "cur")
        .groupBy(F.col("cur").alias("cur_type"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            hit.cast("long").alias("n_correct"),
            F.round(hit.cast("double") / F.count(F.lit(1)), 6).alias(
                "accuracy"
            ),
        )
    )



@register(
    "q247_benchmark_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, doc_id % 97 = 0 AS is_bench,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS ts
      FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source, is_bench,
             md5(array_to_string(ts[i:i+7], ' ')) AS g
      FROM toks, UNNEST(generate_series(1, len(ts) - 7)) AS u(i)
      WHERE len(ts) >= 8
    ),
    bench_grams AS (SELECT DISTINCT g FROM grams WHERE is_bench),
    contaminated AS (
      SELECT DISTINCT doc_id, source
      FROM grams JOIN bench_grams USING (g)
      WHERE NOT is_bench
    ),
    base AS (
      SELECT source, COUNT(*) AS n_docs
      FROM documents WHERE doc_id % 97 <> 0 GROUP BY source
    )
    SELECT b.source, CAST(b.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_contaminated,
           ROUND(CAST(COALESCE(c.n, 0) AS DOUBLE) / b.n_docs, 6)
             AS contamination_rate
    FROM base b
    LEFT JOIN (SELECT source, COUNT(*) AS n FROM contaminated
               GROUP BY source) c USING (source)
    """,
)
def q247_benchmark_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X175 — benchmark-contamination screen (the decontamination step
    of every serious pretraining pipeline): flag corpus documents that
    share an 8-token span with any document in the held-out benchmark
    set (here the doc_id % 97 sample stands in for the benchmark), and
    report the contamination rate per source. Same span machinery as
    q216 but an ASYMMETRIC question — corpus vs a designated eval set —
    which is what you actually run before training.

    Plan shape: spans come from the shared ``repeated_span_grams``
    projection; the benchmark gram set is corpus-fraction-sized and the
    contamination test is one semi-join on the gram key.
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_span_grams,
    )

    docs = load(spark, sf_dir, "documents")
    meta = docs.select(
        "doc_id", "source", (F.col("doc_id") % 97 == 0).alias("is_bench")
    )
    grams = repeated_span_grams(docs, "doc_id", "text", n=8).join(meta, "doc_id")
    # "shares a span with any benchmark doc" as a max(is_bench) window
    # over the SAME gram stream (round 11, the q372 treatment): the
    # former distinct-bench-grams + semi-join referenced the span
    # subtree twice, re-running gram generation per side; the window
    # rides the one gram-keyed exchange the join needed anyway.
    has_bench = F.max(F.col("is_bench").cast("int")).over(
        Window.partitionBy("g")
    )
    contaminated = (
        grams.withColumn("_hb", has_bench)
        .filter((~F.col("is_bench")) & (F.col("_hb") == 1))
        .select("doc_id", "source")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    base = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return base.join(contaminated, "source", "left").select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_contaminated"),
        F.round(
            F.coalesce("n", F.lit(0)).cast("double") / F.col("n_docs"), 6
        ).alias("contamination_rate"),
    )



@register(
    "q250_fuzzy_entity_clusters",
    build_time_exec="connected components iterate at plan build (fuzzy entity closure)",
    oracle=_FUZZY_PAIRS_CTE
    + """
    , sym AS (
      SELECT name_a AS src, name_b AS dst FROM fuzzy
      UNION ALL SELECT name_b, name_a FROM fuzzy
    ),
    rec AS (
      WITH RECURSIVE cc(v, rep) AS (
        SELECT DISTINCT src, src FROM sym
        UNION
        SELECT s.dst, cc.rep FROM cc JOIN sym s ON s.src = cc.v
        WHERE cc.rep < s.dst OR cc.rep < s.src
      )
      SELECT v, MIN(rep) AS rep FROM cc GROUP BY v
    )
    SELECT rep AS entity, CAST(COUNT(*) AS BIGINT) AS n_members,
           array_to_string(list_sort(list(v)), '|') AS members
    FROM rec GROUP BY rep
    """,
)
def q250_fuzzy_entity_clusters(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X178 — end-to-end entity resolution: fuzzy candidate pairs
    (q217's blocking + Levenshtein verify) closed into transitive
    entity clusters by the repo's pointer-doubling connected
    components, with the lexicographically smallest member as the
    canonical entity id. The pairs→groups→canonical step every master-
    data pipeline needs; composes three existing operators rather than
    reimplementing any.

    The components run on STRING labels (min-label propagation is
    ordering-generic); the oracle closes the same graph with a
    recursive CTE. Isolated names (no fuzzy match) are not entities and
    are excluded by both sides.
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    pairs = _fuzzy_name_pairs(spark, sf_dir).select(
        F.col("name_a").alias("id_a"), F.col("name_b").alias("id_b")
    )
    cc = connected_components(pairs)
    return cc.groupBy(F.col("component").alias("entity")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.array_join(F.array_sort(F.collect_list("id")), "|").alias(
            "members"
        ),
    )



@register(
    "q277_power_iteration_pca",
    allow_non_equi="deliberate 1-row broadcast cross joins throughout the iteration: the n scalar on the d\u00b2-row matrix and the per-round rescale scalars on the d-row vector (operators/linalg.py)",
    oracle="""
    WITH m AS (
      SELECT list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      FROM embeddings
    ),
    marg AS (
      SELECT i, SUM(v[i]) AS s
      FROM m, UNNEST(generate_series(1, len(v))) AS u(i)
      GROUP BY i
    ),
    pairs AS (
      SELECT i, j, SUM(vi * vj) AS sij FROM (
        SELECT u.i AS i, w.j AS j, v[u.i] AS vi, v[w.j] AS vj
        FROM m,
             UNNEST(generate_series(1, len(v))) AS u(i),
             UNNEST(generate_series(1, len(v))) AS w(j)
        WHERE w.j >= u.i
      ) GROUP BY i, j
    ),
    g AS (SELECT COUNT(*) AS n FROM m),
    tri AS (
      SELECT p.i, p.j, CAST(n * sij - ma.s * mb.s AS BIGINT) AS a
      FROM pairs p
      JOIN marg ma ON ma.i = p.i
      JOIN marg mb ON mb.i = p.j, g
    ),
    asym AS (
      SELECT i, j, a FROM tri
      UNION ALL
      SELECT j AS i, i AS j, a FROM tri WHERE i <> j
    ),
    sa AS (
      SELECT CAST(MAX(ABS(a)) AS BIGINT) // 1000000 + 1 AS s FROM asym
    ),
    a2 AS (
      SELECT i, j,
             CASE WHEN a >= 0 THEN CAST((a - a % s) / s AS BIGINT)
                  ELSE -CAST(((-a) - (-a) % s) / s AS BIGINT) END AS a2
      FROM asym, sa
    ),
    v0 AS (
      SELECT DISTINCT i, CAST(1000 AS BIGINT) AS v FROM a2
    ),
    """
    + ",".join(_power_round_sql(r).strip().rstrip() for r in (1, 2, 3))
    + """
    SELECT CAST(i AS INTEGER) AS dim, CAST(v AS BIGINT) AS component_scaled
    FROM v3
    """,
)
def q277_power_iteration_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-eigenvector power iteration over the embedding covariance —
    the PCA direction extracted with DISTRIBUTED, ENGINE-EXACT integer
    linear algebra (operators/linalg.py): the d×d covariance numerators
    (q231's exact-integer form) are rescaled once, then 3 rounds of
    w=A·v matmul (a (j)-keyed join + (i)-keyed hash aggregation over the
    64²-row matrix table) with each round's vector renormalized to
    |v|≤1000 by an exact truncating integer division. No float enters
    the iteration, so both engines produce bit-identical iterates — no
    tolerance, no rounding, a HASH-exact oracle for an iterative
    numerical algorithm. The contract is the exact 3-round ITERATE;
    convergence to the eigenvector needs more rounds when the spectrum
    is flat (as with this near-isotropic synthetic data) — the
    planted-dominant-direction case converges in 3 and is pinned in
    tests/test_linalg.py alongside exact numpy parity on this table.

    100 TB shape: the corpus-sized work is the one covariance pass
    (each row emits its d(d+1)/2 upper-triangle products into one hash
    agg); the iteration then runs on the d²-row matrix — cluster-trivial
    — without ever collecting it to the driver. The four 1-row scalar
    attaches (matrix scale + one per round) are deliberate broadcast
    cross joins.
    """
    from noaa_ais_glue_lakehouse_spark.operators.linalg import (
        integer_covariance_numerators,
        power_iteration_top_direction,
    )

    emb = load(spark, sf_dir, "embeddings")
    matrix = integer_covariance_numerators(emb, "embedding", scale=1000)
    v = power_iteration_top_direction(matrix, rounds=3)
    return v.select(
        F.col("i").cast("int").alias("dim"),
        F.col("v").cast("long").alias("component_scaled"),
    )



@register(
    "q280_incremental_dedup",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx AS (
      SELECT doc_id, (doc_id % 10) >= 8 AS is_new, unnest(fps) AS fp FROM wins
    ), pairs AS (
      SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
             GREATEST(a.doc_id, b.doc_id) AS id_b,
             a.fp AS fp,
             (a.is_new AND b.is_new) AS bn
      FROM idx a JOIN idx b
        ON a.fp = b.fp AND a.doc_id <> b.doc_id AND b.is_new
    )
    SELECT id_a, id_b,
           CAST(COUNT(DISTINCT fp) AS BIGINT) AS shared_fps,
           CASE WHEN BOOL_OR(bn) THEN 'new-new' ELSE 'hist-new' END AS pair_kind
    FROM pairs
    GROUP BY id_a, id_b
    HAVING COUNT(DISTINCT fp) >= 10
    """,
)
def q280_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup of a new document batch against the
    already-deduped historical corpus (docs with id%10 ≥ 8 play the new
    batch): winnowing candidate pairs where at least one side is new —
    hist×hist pairs, yesterday's quadratic work, are never generated.
    The daily-ingest shape every production dedup pipeline runs; at
    100 TB the historical fingerprint index is a saved table and only
    the |index| × |new-batch| join remains. Deterministic fingerprints
    make the whole incremental family fully oracle-checkable (unlike
    MinHash).
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_incremental_pairs,
    )

    docs = load(spark, sf_dir, "documents").withColumn(
        "_is_new", (F.col("doc_id") % 10) >= 8
    )
    return winnow_incremental_pairs(docs, "doc_id", "text", "_is_new")



@register(
    "q320_shared_prefix_savings",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), heads AS (
      SELECT doc_id, array_to_string(w[1:16], ' ') AS head16
      FROM t WHERE len(w) >= 16
    ), g AS (
      SELECT head16, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM heads GROUP BY head16
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_prefix_groups,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_groups,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM((n_docs - 1) * 16) AS BIGINT) AS reusable_prefix_tokens
    FROM g
    """,
)
def q320_shared_prefix_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prompt-prefix audit (the inference-side dedup): documents
    whose first 16 tokens coincide can share one KV-cache prefix; the
    reusable-token total is the compute a prefix-caching server saves.
    One fingerprint aggregation (the q303 boundary idiom pointed at
    heads only) — at serving scale this is the report that justifies
    prefix-cache memory."""
    docs = load(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    t = docs.select("doc_id", toks.alias("w"), F.size(toks).alias("n"))
    heads = t.filter(F.col("n") >= 16).select(
        F.array_join(F.slice("w", 1, 16), " ").alias("head16")
    )
    g = heads.groupBy("head16").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_prefix_groups"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_shared_groups"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum((F.col("n_docs") - 1) * 16)
        .cast("long")
        .alias("reusable_prefix_tokens"),
    )



@register(
    "q343_winnow_near_dups_capped",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx0 AS (
      SELECT doc_id, unnest(fps) AS fp FROM wins
    ), hot AS (
      SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
    ), idx AS (
      SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(COUNT(*) AS BIGINT) AS shared_fps
    FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 10
    """,
)
def q343_winnow_near_dups_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X98-adjacent — winnowing near-dup pairs with a document-frequency
    CAP on fingerprints (max_df=64), the at-scale form of q61. The
    round-5 decade measurement (SCALING.md) showed char-8-gram diversity
    saturating as the corpus grows: 10× docs → mean fingerprint df
    2.8 → 9.4 and candidate pairs 5.5M → 513M (~n²). Dropping
    fingerprints held by >max_df documents before the self-join (the
    MOSS boilerplate rule) bounds candidates at |fps|·max_df²/2 —
    linear in the corpus — while truly-duplicated content still shares
    ≥10 RARE fingerprints and survives. Fully oracle-checked (the cap
    is one more relational step: df rollup + anti join, identical in
    DuckDB)."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    return winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )



@register("q344_cosine_dup_lsh_auto")  # rows-only: numpy hyperplane LSH
def q344_cosine_dup_lsh_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup with CORPUS-SIZED LSH geometry
    (lsh_geometry_for): plane count grows with log2(n) so bucket
    sizes — and candidate volume — stay ~linear in the corpus, where
    q47's fixed 4×16 geometry grows candidates ~n²/2^b (measured
    exponent 1.83 over a real decade at dedup threshold 0.85; auto
    geometry brings it to ~linear — SCALING.md). Threshold 0.5 here
    because the driver's embedding table is isotropic (zero pairs
    above 0.6); the dedup-regime recall pin (0.85 on planted
    near-dups) lives in tests/test_similarity.py. Precision is exact
    (verify step). Rows-only by design (numpy hyperplanes are
    deterministic but not SQL-expressible)."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_near_duplicates,
    )

    emb = load(spark, sf_dir, "embeddings")
    return cosine_near_duplicates(emb, 64, "vec_id", "embedding", threshold=0.5)


# ---------------------------------------------------------------------------
# Round-5 widening: exact substring dedup spans, bigram LM scoring (q345-q347)
# ---------------------------------------------------------------------------



@register("q345_repeated_substring_spans", oracle=_REPEATED_SPAN_ORACLE)
def q345_repeated_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X275 — exact repeated-substring spans (the relational form of
    Lee et al. 2021 suffix-array exact-substring dedup): maximal
    character intervals whose every 20-char window occurs ≥2 times
    corpus-wide. Float-free and deterministic, so fully hash-oracle-
    checked. No pairwise join anywhere — gram rollup + semi-join +
    per-doc island windows, all linear in total characters (the
    SCALING.md gram-saturation n² failure mode cannot apply)."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_substring_spans,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    return repeated_substring_spans(docs, "doc_id", "text", k=20, min_count=2)



@register(
    "q346_repeated_substring_stats",
    oracle=r"""
    WITH spans AS (
""" + _REPEATED_SPAN_ORACLE + r"""
    ), per_doc AS (
      SELECT doc_id, SUM(span_len) AS repeated_chars
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(len(lower(d.text)) AS BIGINT) AS char_len,
           CAST(COALESCE(p.repeated_chars, 0) AS BIGINT) AS repeated_chars,
           ROUND(CAST(COALESCE(p.repeated_chars, 0) AS DOUBLE)
                 / len(lower(d.text)), 6) AS repeated_frac,
           COALESCE(p.repeated_chars, 0) < 0.2 * len(lower(d.text)) AS keep
    FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
    WHERE len(lower(d.text)) > 0
    """,
)
def q346_repeated_substring_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X276 — per-document repeated-substring budget: total characters
    inside q345's spans, the repeated fraction, and the Lee-et-al-style
    keep/drop gate (drop when ≥20% of the document is verbatim-repeated
    content). Spans are disjoint by construction so the per-doc rollup
    is a plain sum; docs with no spans keep frac 0 via left join."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_substring_spans,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    spans = repeated_substring_spans(docs, "doc_id", "text", k=20, min_count=2)
    per_doc = spans.groupBy("doc_id").agg(
        F.sum("span_len").alias("repeated_chars")
    )
    base = docs.select(
        "doc_id", F.length(F.lower(F.col("text"))).cast("long").alias("char_len")
    ).filter(F.col("char_len") > 0)
    return (
        base.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "char_len",
            F.coalesce(F.col("repeated_chars"), F.lit(0))
            .cast("long")
            .alias("repeated_chars"),
            F.round(
                F.coalesce(F.col("repeated_chars"), F.lit(0)).cast("double")
                / F.col("char_len"),
                6,
            ).alias("repeated_frac"),
            (
                F.coalesce(F.col("repeated_chars"), F.lit(0))
                < 0.2 * F.col("char_len")
            ).alias("keep"),
        )
    )



@register(
    "q348_repeated_span_excision",
    oracle=r"""
    WITH spans AS (
""" + _REPEATED_SPAN_ORACLE + r"""
    ), segs AS (
      SELECT doc_id, span_start, span_end,
             COALESCE(LAG(span_end) OVER (PARTITION BY doc_id
                                          ORDER BY span_start), 1) AS keep_from
      FROM spans
    ), kept AS (
      SELECT doc_id,
             string_agg(substr(lower(text), CAST(keep_from AS INT),
                               CAST(span_start - keep_from AS INT)),
                        '' ORDER BY span_start) AS head_part,
             MAX(span_end) AS last_end,
             SUM(span_end - span_start) AS removed_chars
      FROM segs JOIN documents USING (doc_id)
      GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN k.doc_id IS NULL THEN lower(d.text)
                ELSE COALESCE(k.head_part, '')
                     || substr(lower(d.text), CAST(k.last_end AS INT))
           END AS new_text,
           CAST(COALESCE(k.removed_chars, 0) AS BIGINT) AS removed_chars
    FROM documents d LEFT JOIN kept k ON d.doc_id = k.doc_id
    """,
)
def q348_repeated_span_excision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X278 — repeated-span EXCISION: rewrite each document with q345's
    verbatim-repeated spans cut out (the action step of exact-substring
    dedup; policy here is remove-everywhere, the conservative variant of
    Lee et al.'s drop-one-occurrence — documented, deterministic, and
    hash-checkable; output text is the lower() normalization q345's
    offsets index).

    Plan: spans (already per-doc disjoint) get their keep-segment start
    via one lag window; per-doc string surgery is a sort-free aggregation
    — min-struct/concat of ordered segments via sort_array(collect_list)
    of (start, segment) structs, then one substr for the tail. Docs with
    no spans pass through via left join. Everything is per-doc bounded;
    the only shuffles are q345's plus one (doc_id) aggregation."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_substring_spans,
    )

    docs = _spread(load(spark, sf_dir, "documents"))
    spans = repeated_substring_spans(docs, "doc_id", "text", k=20, min_count=2)
    w = Window.partitionBy("doc_id").orderBy("span_start")
    segs = spans.select(
        "doc_id",
        "span_start",
        "span_end",
        F.coalesce(F.lag("span_end").over(w), F.lit(1)).alias("keep_from"),
    )
    low = F.lower(F.col("text"))
    kept = (
        segs.join(docs.select("doc_id", "text"), "doc_id")
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("span_start").alias("s"),
                                low.substr(
                                    F.col("keep_from").cast("int"),
                                    (F.col("span_start") - F.col("keep_from")).cast(
                                        "int"
                                    ),
                                ).alias("seg"),
                            )
                        )
                    ),
                    lambda st: st["seg"],
                ),
                "",
            ).alias("head_part"),
            F.max("span_end").alias("last_end"),
            F.sum(F.col("span_end") - F.col("span_start")).alias("removed_chars"),
        )
    )
    return (
        docs.select("doc_id", "text")
        .join(kept, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("last_end").isNull(), low)
            .otherwise(
                F.concat(
                    F.coalesce(F.col("head_part"), F.lit("")),
                    low.substr(F.col("last_end").cast("int"), F.length(low)),
                )
            )
            .alias("new_text"),
            F.coalesce(F.col("removed_chars"), F.lit(0))
            .cast("long")
            .alias("removed_chars"),
        )
    )



@register(
    "q349_ngram_novelty",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(range(1, len(tk) - 2),
                    i -> array_to_string(tk[i:i+3], ' '))) AS gram
      FROM toks WHERE len(tk) >= 4
    ), df AS (
      SELECT gram, COUNT(*) AS n_docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_grams,
           ROUND(CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty_frac
    FROM g JOIN df USING (gram)
    GROUP BY g.doc_id
    """,
)
def q349_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X279 — distinct-4-gram novelty: for each document, the fraction
    of its distinct word 4-grams appearing in NO other document — the
    corpus-diversity / memorization screen used on generated corpora
    (low novelty = the doc is stitched from corpus-common phrasing; the
    per-corpus aggregate is the standard distinct-n metric).

    Shape: row-local 4-gram arrays (no explode until needed),
    array_distinct before the explode so the (doc, gram) relation is
    set-valued, one hash aggregate for document frequency, and an
    equi-join back — the exact inverted-index shuffle q345 uses, linear
    in corpus grams. DuckDB's list slicing is end-INCLUSIVE (tk[i:i+3]
    is 4 items) where Spark's slice(toks, i, 4) takes a length — both
    sides emit 4-token grams.

    Round-10 rewrite (guide §2.4, the q372 change): document frequency
    as a count window over the gram key instead of df-rollup +
    equi-join — the join form referenced the exploded gram stream
    twice, running the tokenize→4-gram→explode subtree once per
    reference. One gram subtree, 2 Exchanges, oracle unchanged."""
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    g = docs.select(
        "doc_id", F.explode(F.array_distinct(_word_ngrams(toks, 4))).alias("gram")
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("gram"))
    g2 = g.select("doc_id", n_docs.alias("n_docs"))
    return g2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
        .cast("long")
        .alias("novel_grams"),
        F.round(
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_frac"),
    )


# ---------------------------------------------------------------------------
# Time-series symbolization + histogram outlier scoring (q350-q351)
# ---------------------------------------------------------------------------



@register(
    "q358_geofence_containment",
    oracle="""
    WITH pts AS (
      SELECT user_id, event_id,
             CAST(event_id % 1800 - 900 AS DOUBLE) AS py,
             CAST((event_id * 7) % 3600 - 1800 AS DOUBLE) AS px
      FROM events
    ), edges(x1, y1, x2, y2) AS (
      VALUES (-900.5, -450.5, 200.5, -700.5),
             (200.5, -700.5, 900.5, -100.5),
             (900.5, -100.5, 400.5, 650.5),
             (400.5, 650.5, -100.5, 200.5),
             (-100.5, 200.5, -800.5, 550.5),
             (-800.5, 550.5, -900.5, -450.5)
    ), per_pt AS (
      SELECT user_id, event_id,
             SUM(CASE WHEN (y1 > py) <> (y2 > py)
                       AND px < x1 + (py - y1) * (x2 - x1) / (y2 - y1)
                      THEN 1 ELSE 0 END) AS nc
      FROM pts CROSS JOIN edges
      GROUP BY user_id, event_id
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN nc % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_inside,
           ROUND(CAST(SUM(CASE WHEN nc % 2 = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS inside_share
    FROM per_pt GROUP BY user_id
    """,
    allow_non_equi=(
        "deliberate bounded theta-join: every point is ray-cast against a "
        "broadcast 6-row polygon-edge relation (crossing-count "
        "point-in-polygon); candidate space is 6x|events|, linear in input"
    ),
)
def q358_geofence_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X288 — geofence containment: even–odd ray-casting point-in-polygon
    against a CONCAVE hexagon held as a broadcast edge relation (the
    polygon is data, not code — swap the VALUES for a zones table and the
    same plan answers "which vessels are inside the anchorage"). Crossing
    rule: a horizontal ray from the point crosses edge (v1,v2) iff the
    edge straddles the point's latitude and the intersection longitude
    lies strictly east of the point; inside ⟺ odd crossings.

    Engine-exactness: point coords are exact integer deci-degrees;
    polygon vertices sit on .5 offsets (exact dyadic doubles), so no
    point is ever on an edge's latitude and no edge is horizontal —
    the straddle test is unambiguous and the single division is by a
    nonzero exact constant. Both engines evaluate the identical IEEE
    expression tree, so even boundary comparisons agree bit-for-bit.

    Scale: BroadcastNestedLoopJoin against 6 rows (never a shuffled
    cartesian); the crossing count is map-side combinable, collapsing
    6 rows/point to 1 before the user_id exchange."""
    ev = load(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "event_id",
        (F.col("event_id") % 1800 - 900).cast("double").alias("py"),
        ((F.col("event_id") * 7) % 3600 - 1800).cast("double").alias("px"),
    )
    verts = [
        (-900.5, -450.5),
        (200.5, -700.5),
        (900.5, -100.5),
        (400.5, 650.5),
        (-100.5, 200.5),
        (-800.5, 550.5),
    ]
    edges = spark.createDataFrame(
        [
            (verts[i][0], verts[i][1], verts[(i + 1) % 6][0], verts[(i + 1) % 6][1])
            for i in range(6)
        ],
        "x1 double, y1 double, x2 double, y2 double",
    )
    crosses = (
        (F.col("y1") > F.col("py")) != (F.col("y2") > F.col("py"))
    ) & (
        F.col("px")
        < F.col("x1")
        + (F.col("py") - F.col("y1"))
        * (F.col("x2") - F.col("x1"))
        / (F.col("y2") - F.col("y1"))
    )
    per_pt = (
        pts.crossJoin(F.broadcast(edges))
        .groupBy("user_id", "event_id")
        .agg(F.sum(F.when(crosses, 1).otherwise(0)).alias("nc"))
    )
    inside = F.when(F.col("nc") % 2 == 1, 1).otherwise(0)
    return per_pt.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.sum(inside).cast("long").alias("n_inside"),
        F.round(
            F.sum(inside).cast("double") / F.count(F.lit(1)), 6
        ).alias("inside_share"),
    )



@register(
    "q367_golden_record",
    build_time_exec="driver-side work at plan-build time; plan pinned by its own recall/oracle tests",
    oracle=_cc_oracle(
        """, m AS (
      SELECT c.component, d.doc_id, d.text, d.lang, d.n_chars
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ), base AS (
      SELECT component, COUNT(*) AS n_members, MIN(doc_id) AS min_doc_id,
             MAX(n_chars) AS max_n_chars
      FROM m GROUP BY 1
    ), canon AS (
      SELECT component, doc_id AS canonical_doc_id
      FROM (SELECT component, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY LENGTH(text) DESC, doc_id)
                     AS rn
            FROM m) WHERE rn = 1
    ), lmode AS (
      SELECT component, lang AS canonical_lang
      FROM (SELECT component, lang,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY COUNT(*) DESC, lang) AS rn
            FROM m GROUP BY component, lang) WHERE rn = 1
    )
    SELECT b.component, CAST(b.n_members AS BIGINT) AS n_members,
           canonical_doc_id, canonical_lang,
           CAST(b.max_n_chars AS BIGINT) AS max_n_chars, b.min_doc_id
    FROM base b
    JOIN canon USING (component) JOIN lmode USING (component)""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q367_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X297 — golden-record survivorship (the MDM step after entity
    resolution): for every near-duplicate cluster, assemble ONE
    canonical record by per-attribute survivorship rules — longest text
    wins (tiebreak: lowest id), language by cluster majority (tiebreak:
    lexicographic), size by max, lineage by min id. Downstream of the
    same winnowing-pair CC as q62/q65; where q65 picks a surviving ROW,
    this composes a record that need not equal any single member —
    the actual contract of master-data golden records.

    Cross-engine: every rule is a deterministic total order (explicit
    tiebreaks), so the composed record is hash-identical; the CC labels
    ride the bounded-iteration min-label oracle with its convergence
    guard.

    Scale: attribute relations are per-cluster windows on the component
    exchange; mode-per-group is count + row_number (no collect, no
    UDF)."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        connected_components,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = get_query("q61_winnow_near_dups")(spark, sf_dir).select("id_a", "id_b")
    comp = connected_components(pairs).select(
        F.col("id").alias("doc_id"), "component"
    )
    m = comp.join(docs, "doc_id")
    base = m.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("n_chars").cast("long").alias("max_n_chars"),
    )
    w_canon = Window.partitionBy("component").orderBy(
        F.length("text").desc(), "doc_id"
    )
    canon = (
        m.withColumn("rn", F.row_number().over(w_canon))
        .filter(F.col("rn") == 1)
        .select("component", F.col("doc_id").alias("canonical_doc_id"))
    )
    w_mode = Window.partitionBy("component").orderBy(
        F.col("cnt").desc(), "lang"
    )
    lmode = (
        m.groupBy("component", "lang")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(w_mode))
        .filter(F.col("rn") == 1)
        .select("component", F.col("lang").alias("canonical_lang"))
    )
    return (
        base.join(canon, "component")
        .join(lmode, "component")
        .select(
            "component",
            "n_members",
            "canonical_doc_id",
            "canonical_lang",
            "max_n_chars",
            "min_doc_id",
        )
    )



@register(
    "q369_containment_pairs",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS toks
      FROM documents
    ), g0 AS (
      SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(toks) - 3),
                    i -> array_to_string(toks[i:i+4], ' ')))) AS gram
      FROM t WHERE len(toks) >= 5
    ), kept AS (
      SELECT gram FROM g0 GROUP BY gram HAVING COUNT(*) <= 1000
    ), g AS (
      SELECT g0.* FROM g0 JOIN kept USING (gram)
    ), sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS src_id, b.doc_id AS dst_id, COUNT(*) AS shared
      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT src_id, dst_id, CAST(shared AS BIGINT) AS shared_grams,
           CAST(sa.n AS BIGINT) AS src_grams,
           ROUND(CAST(shared AS DOUBLE) / sa.n, 6) AS containment
    FROM inter JOIN sz sa ON sa.doc_id = src_id
    WHERE shared * 10 >= sa.n * 9
    """,
)
def q369_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X299 — DIRECTED near-containment pairs: doc A is (≥90%) contained
    in doc B when ≥90% of A's distinct word-5-grams also occur in B —
    the quote/subsumption/boilerplate relation that symmetric Jaccard
    (q26/q171) misses: a paragraph quoted inside a long article has low
    Jaccard but containment ≈ 1. Asymmetric by construction, so pairs
    are emitted per direction.

    Cross-engine: shared-gram counts and set sizes are exact integers;
    the ≥0.9 threshold is the integer cross-multiplication
    shared·10 ≥ |A|·9 (no float compare); display ratio rounded once.

    Scale: inverted-index equi-join on distinct grams — candidates are
    Σ df² over gram posting lists, the q61 winnowing shape. Since round
    6 the q343 df-cap is APPLIED, not just cited (ADVICE): grams with
    document frequency > 1000 are dropped before the join on BOTH
    engines, bounding candidates at |grams|·df_cap²/2 so the
    adversarially-uniform-vocabulary regime stays linear instead of
    quadratic. Semantics: containment over INFORMATIVE grams — |A|
    (src_grams) counts only kept grams, so numerator and denominator
    stay consistent; a gram in >1000 docs is boilerplate by
    construction, and at natural-text dfs the cap never fires (the
    sf-scale results are unchanged)."""
    docs = _spread(load(spark, sf_dir, "documents"))
    df_cap = 1000
    grams = F.array_distinct(_word_ngrams(tokenize(F.col("text")), 5))
    g0 = docs.select("doc_id", F.explode(grams).alias("gram"))
    kept = (
        g0.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") <= df_cap)
        .select("gram")
    )
    g = g0.join(kept, "gram")
    sz = g.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = g.select(F.col("doc_id").alias("src_id"), "gram")
    b = g.select(F.col("doc_id").alias("dst_id"), "gram")
    inter = (
        a.join(b, "gram")
        .filter(F.col("src_id") != F.col("dst_id"))
        .groupBy("src_id", "dst_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        inter.join(
            sz.select(F.col("doc_id").alias("src_id"), "n"), "src_id"
        )
        .filter(F.col("shared") * 10 >= F.col("n") * 9)
        .select(
            "src_id",
            "dst_id",
            F.col("shared").cast("long").alias("shared_grams"),
            F.col("n").cast("long").alias("src_grams"),
            F.round(F.col("shared").cast("double") / F.col("n"), 6).alias(
                "containment"
            ),
        )
    )



@register(
    "q372_ngram_novelty_hashed",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id,
             UNNEST(list_transform(
               list_transform(range(1, len(tk) - 2),
                              i -> array_to_string(tk[i:i+3], ' ')),
               s -> substr(md5(s), 1, 16))) AS hkey
      FROM toks WHERE len(tk) >= 4
    ), df AS (
      SELECT hkey, COUNT(*) AS n_docs FROM g GROUP BY hkey
    )
    SELECT g.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS novel_grams,
           ROUND(CAST(SUM(CASE WHEN df.n_docs = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS novelty_frac
    FROM g JOIN df USING (hkey)
    GROUP BY g.doc_id
    """,
)
def q372_ngram_novelty_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X302 — q349's PRODUCTION twin with hashed gram keys (round-6
    verdict #6): the df aggregation and the inverted-index join ship a
    fixed 16-hex-char (64-bit) md5-prefix key instead of the raw 4-word
    gram string, cutting the shuffle's per-row payload to a constant —
    SCALING.md measured q349's decade wall as dominated by materializing
    gram STRINGS through the exchange. The hash family is the portable
    md5 convention (q28/q191), computed identically by both engines, so
    unlike an engine-native xxhash/hash() pair a collision would hit
    both sides identically and the gate stays deterministic.

    Semantics: identical to q349 up to 64-bit-prefix collisions — at M
    distinct grams the expected collision count is ~M²/2⁶⁵ (≈3·10⁻⁸ at
    1M grams; at a petabyte-scale 10¹² grams, ~27 collisions corpus-wide
    each perturbing one document's novel-gram count by ≤2 — noise far
    below the metric's meaning). tests pin q372 ≡ q349 exactly on the
    fixture corpora. String-keyed q349 remains the oracle-exact anchor.

    Shape: row-local transform(md5) BEFORE array_distinct/explode — the
    hash is computed once per (doc, gram) inside whole-stage codegen and
    the raw gram string never leaves its scan task.

    Round-10 rewrite (guide §2.4): the previous df-rollup + equi-join
    form referenced the exploded gram stream TWICE, so Catalyst ran the
    whole tokenize→4-gram→md5→explode subtree once per reference (plus a
    filter-on-derived-size that re-evaluated the gram array a third
    time) — 3 Exchanges, documents scanned twice. A count window over
    the gram key computes the per-gram document frequency on the SAME
    pass: one gram subtree, 2 Exchanges (hkey window, doc_id rollup).
    Measured 4.73 s → 0.78 s median at sf0.1, output hash-identical at
    sf0.01 + sf0.1 (and the DuckDB oracle is unchanged)."""
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    hgrams = F.transform(
        _word_ngrams(toks, 4), lambda s: F.substring(F.md5(s), 1, 16)
    )
    g = docs.select(
        "doc_id", F.explode(F.array_distinct(hgrams)).alias("hkey")
    )
    n_docs = F.count(F.lit(1)).over(Window.partitionBy("hkey"))
    g2 = g.select("doc_id", n_docs.alias("n_docs"))
    return g2.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0))
        .cast("long")
        .alias("novel_grams"),
        F.round(
            F.sum(F.when(F.col("n_docs") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("novelty_frac"),
    )


# ---------------------------------------------------------------------------
# Round 6 batch: decontamination, distribution drift, corpus statistics,
# agreement, vocabulary growth, portable HLL, equi-depth binning
# (q373-q379, X303-X309)
# ---------------------------------------------------------------------------



@register(
    "q373_contamination_report",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, list_filter(
               string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, source,
             UNNEST(list_transform(range(1, len(tk) - 6),
                    i -> array_to_string(tk[i:i+7], ' '))) AS gram
      FROM toks WHERE len(tk) >= 8
    ), bench AS (
      SELECT doc_id AS bdoc, gram FROM g WHERE source = 'src0'
    ), bkept AS (
      SELECT gram FROM bench GROUP BY gram HAVING COUNT(DISTINCT bdoc) <= 100
    ), train AS (
      SELECT doc_id, source, gram FROM g WHERE source <> 'src0'
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM train GROUP BY doc_id
    ), hits AS (
      SELECT t.doc_id, t.source,
             COUNT(DISTINCT t.gram) AS shared_grams
      FROM train t
      JOIN bkept k ON k.gram = t.gram
      GROUP BY t.doc_id, t.source
    ), doc_level AS (
      SELECT h.doc_id, h.source, h.shared_grams,
             (h.shared_grams * 1000000) // sz.n_grams AS frac_u
      FROM hits h JOIN sz USING (doc_id)
    ), src_totals AS (
      SELECT source, COUNT(*) AS n_docs
      FROM documents WHERE source <> 'src0' GROUP BY source
    )
    SELECT s.source,
           CAST(s.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(COUNT(d.doc_id), 0) AS BIGINT) AS n_contaminated,
           ROUND(CAST(COALESCE(COUNT(d.doc_id), 0) AS DOUBLE) / s.n_docs, 6)
             AS contamination_rate,
           CAST(COALESCE(SUM(d.shared_grams), 0) AS BIGINT)
             AS total_shared_grams,
           CAST(COALESCE(MAX(d.frac_u), 0) AS BIGINT) AS worst_doc_frac_u
    FROM src_totals s LEFT JOIN doc_level d USING (source)
    GROUP BY s.source, s.n_docs
    """,
)
def q373_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X303 — SOURCE-LEVEL decontamination report (the GPT-3 Appendix-C /
    PaLM n-gram screen, aggregated to the decision grain): treating
    source 'src0' as the held-out benchmark, roll per-document 8-gram
    overlap up to each training SOURCE — how many of its docs touch the
    benchmark, at what rate, and how bad the worst doc is. q83 emits the
    doc-level flag list (which docs to drop); this is the report that
    decides whether a SOURCE is poisoned enough to quarantine wholesale.
    Grams occurring in >100 benchmark docs are excluded as
    non-discriminative boilerplate — standard decontamination practice
    and the df-cap that bounds the join's posting lists (q343 pattern).

    Engine-exactness: per-doc contamination fraction is carried as the
    integer floor (shared·10⁶)//n_grams so the per-source MAX is a total
    integer order; the one display division is the source rate.

    Scale: inverted-index equi-join gram→gram; the benchmark side is
    capped at 100 docs per gram, bounding candidates at |train
    grams|·100, and broadcasts when the benchmark is small (the common
    case: benchmarks are KBs, corpora are TBs). Sources with zero hits
    still get a row (LEFT join from source totals) — absence of
    contamination is a finding."""
    docs = _spread(load(spark, sf_dir, "documents"))
    toks = tokenize(F.col("text"))
    g = (
        docs.select(
            "doc_id",
            "source",
            F.array_distinct(_word_ngrams(toks, 8)).alias("_g"),
        )
        .filter(F.size("_g") > 0)
        .select("doc_id", "source", F.explode("_g").alias("gram"))
    )
    bench = g.filter(F.col("source") == "src0").select(
        F.col("doc_id").alias("bdoc"), "gram"
    )
    # grams are array_distinct per doc, so COUNT(*) per gram IS the
    # distinct benchmark-doc count — dropping countDistinct removes the
    # Expand node (round 10; same below for shared_grams)
    bkept = (
        bench.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("bdf"))
        .filter(F.col("bdf") <= 100)
        .select("gram")
    )
    train = g.filter(F.col("source") != "src0")
    # per-doc gram total as a count window BEFORE the benchmark join
    # (round 10, the q372 rewrite): the separate `sz` rollup + join-back
    # referenced `train` twice, running the tokenize→8-gram→md5→explode
    # subtree once per reference (guide §2.4)
    train = train.withColumn(
        "n_grams", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )
    doc_level = (
        train.join(F.broadcast(bkept), "gram")
        .groupBy("doc_id", "source", "n_grams")
        .agg(F.count(F.lit(1)).alias("shared_grams"))
        .select(
            "doc_id",
            "source",
            "shared_grams",
            F.expr("(shared_grams * 1000000) DIV n_grams").alias("frac_u"),
        )
    )
    src_totals = (
        docs.filter(F.col("source") != "src0")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        src_totals.join(doc_level, "source", "left")
        .groupBy("source", "n_docs")
        .agg(
            F.count("doc_id").cast("long").alias("n_contaminated"),
            F.round(
                F.count("doc_id").cast("double") / F.col("n_docs"), 6
            ).alias("contamination_rate"),
            F.coalesce(F.sum("shared_grams"), F.lit(0))
            .cast("long")
            .alias("total_shared_grams"),
            F.coalesce(F.max("frac_u"), F.lit(0))
            .cast("long")
            .alias("worst_doc_frac_u"),
        )
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_contaminated",
            "contamination_rate",
            "total_shared_grams",
            "worst_doc_frac_u",
        )
    )



@register(
    "q375_source_signature_terms",
    allow_non_equi=(
        "deliberate SINGLE-ROW broadcast cross join of the corpus doc "
        "count onto the (source, token) relation - group-cardinality"
    ),
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, source, list_filter(
               string_split_regex(lower(trim(text)), '\s+'), x -> x <> '') AS tk
      FROM documents
    ), e AS (
      SELECT doc_id, source, UNNEST(tk) AS tok FROM toks
    ), tf AS (
      SELECT source, tok, COUNT(*) AS tf FROM e GROUP BY 1, 2
    ), df AS (
      SELECT tok, COUNT(DISTINCT doc_id) AS df FROM e GROUP BY tok
    ), nd AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.source, tf.tok, tf.tf, df.df,
             tf.tf * (length(bin(CAST(n_docs // df.df AS BIGINT))) - 1)
               AS score_u
      FROM tf JOIN df USING (tok) CROSS JOIN nd
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY score_u DESC, tok) AS rk
      FROM scored
    )
    SELECT source, tok, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
           CAST(score_u AS BIGINT) AS score_u, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 5
    """,
)
def q375_source_signature_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X305 — top-5 characteristic terms per SOURCE by tf·idf with a
    DISCRETE idf (q92 is the per-DOCUMENT float-log form; this is the
    corpus-profiling grain — "what is each source about" — with an
    integer-exact score channel): idf_int = floor(log2(N/df)) computed exactly via
    binary-representation length (bit_length(N//df) − 1 — `bin()` on
    both engines), so the score tf·idf_int is a pure int64 and the
    ranking is a total integer order with no float log anywhere — the
    cross-engine-safe form of the corpus-characterization staple.
    Rounding idf to a power of two preserves the ranking semantics
    (boilerplate terms with df≈N score 0; rare terms dominate).

    Scale: two hash aggregations (tf on (source, token), df on token),
    one equi-join on token, a 1-row doc-count broadcast, and a top-5
    window per source — no explode beyond the token stream itself."""
    docs = load(spark, sf_dir, "documents")
    e = docs.select(
        "doc_id", "source", F.explode(tokenize(F.col("text"))).alias("tok")
    )
    tf = e.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("tf"))
    df_ = e.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "source",
            "tok",
            "tf",
            "df",
            # bin() never emits leading zeros for non-negative inputs on
            # either engine, so bit_length(x) = length(bin(x)) directly
            (
                F.col("tf") * (F.length(F.bin(F.expr("n_docs DIV df"))) - 1)
            ).alias("score_u"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("score_u").desc(), F.col("tok")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "source",
            "tok",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.col("score_u").cast("long").alias("score_u"),
            F.col("rk").cast("long").alias("rk"),
        )
    )



@register("q383_minhash_portable", oracle=_minhash_portable_oracle())
def q383_minhash_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X313 — minhash-LSH near-dup pairs with the PORTABLE md5 hash
    family: the first fully ORACLE-CHECKED member of the minhash family
    (q27's xxhash64 family is engine-private, so q27 is rows-only with
    pytest recall pins; this twin trades ~2× string-hash cost for a
    DuckDB oracle that rebuilds signatures, banding, candidates and the
    exact-Jaccard verify bit-identically — the same upgrade q28 gave
    simhash in round 5). Every LSH stage is now under the hash gate:
    a wrong slot constant, band split, pair-dedup rule or set
    intersection mismatches immediately.

    See ``operators/dedup.py:minhash_near_duplicates_portable`` for the
    construction and the overflow-safety argument (all slot products
    < 2⁶²)."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_near_duplicates_portable,
    )

    docs = load(spark, sf_dir, "documents")
    return minhash_near_duplicates_portable(
        docs, "doc_id", "text", threshold=0.8
    )



@register(
    "q397_bfs_hops",
    build_time_exec=(
        "driver-side work at plan-build time; plan pinned by its own "
        "recall/oracle tests (df-capped winnowing pair generation, "
        "q343's stream)"
    ),
    oracle=_bfs_oracle(4, _WINNOW_PAIRS_CAPPED_SQL),
)
def q397_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X327 — bounded-hop BFS distances from a seed set over the dup
    graph, UNSUFFIXED NAME NOW SERVING THE PRODUCTION (df-capped) FORM
    (round-8 verdict ask #8: the default name should be the scale path,
    the exact contract moves to ``q397_bfs_hops_exact`` the way O(n²)
    baselines are tagged ``baseline_only``). Delegates to
    q446_bfs_hops_capped — one implementation, two registry entries,
    same oracle."""
    return q446_bfs_hops_capped(spark, sf_dir)


@register(
    "q397_bfs_hops_exact",
    baseline_only=True,  # exact-contract input is quadratic on
    # saturating gram spaces (decade exponent 1.49-1.53, SCALING.md);
    # the unsuffixed q397 name serves the capped production form
    build_time_exec=(
        "driver-side work at plan-build time; plan pinned by its own "
        "recall/oracle tests (winnowing pair generation, q62's input)"
    ),
    oracle=_bfs_oracle(4),
)
def q397_bfs_hops_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X327 — bounded-hop BFS DISTANCES from a seed set over the dup
    graph: how many hops each document sits from a seed (doc_id % 50
    == 0 among graph nodes), capped at 4 hops. Complements the
    component family (q62 tells you WHICH group; this tells you HOW
    FAR — the contamination-propagation question "is this doc within k
    near-dup hops of a benchmark/blocklisted doc?" that transitive
    blocklists and leakage audits ask). Fixed-iteration relational BFS:
    each round is union + min-rollup (the q179 pagerank shape), so the
    4-round plan is Catalyst-composed with no driver convergence loop;
    the oracle runs the identical relaxation as chained CTEs.

    Scale: each round shuffles (node, hop) — frontier-sized, bounded by
    |graph nodes|, with map-side min-combine; the edge relation is the
    winnowing pair stream (q61's exact contract — this form is the
    EXACT-ANSWER ANCHOR, registered ``baseline_only`` since round 9;
    the unsuffixed q397_bfs_hops serves q446's PRODUCTION twin on
    q343's df-capped linear stream). The edge list and
    each round's distances are localCheckpoint-ed (the
    connected_components pattern, operators/dedup.py:74): ``dist`` is
    referenced TWICE per round (join + union), so leaving the loop lazy
    embeds the winnowing self-join 2^rounds times in the final plan —
    measured 361 s -> ~25 s at sf0.1. Checkpoint mode is conf-driven
    (operators/checkpointing.py): set ``spark_graft.checkpoint_dir`` for
    reliable ``checkpoint()`` on a real cluster (localCheckpoint state
    dies with a lost executor)."""
    from noaa_ais_glue_lakehouse_spark.operators.checkpointing import (
        iteration_checkpointer,
    )
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    _ckpt = iteration_checkpointer(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10
    ).select("id_a", "id_b")
    edges = _ckpt(
        pairs.unionByName(
            pairs.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
            )
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    dist = (
        edges.select("src")
        .distinct()
        .filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("node"), F.lit(0).alias("hop"))
    )
    for _ in range(4):
        relaxed = (
            dist.join(edges, dist.node == edges.src)
            .select(F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop"))
        )
        dist = _ckpt(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return dist.select(
        F.col("node").alias("doc_id"), F.col("hop").cast("long").alias("hop")
    )



@register(
    "q399_fuzzy_decontamination",
    oracle=_minhash_contamination_oracle(),
)
def q399_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X329 — FUZZY benchmark decontamination via asymmetric portable
    minhash-LSH: corpus docs within Jaccard 0.5 of ANY held-out
    benchmark doc (doc_id % 37 here), with match count and max
    similarity per flagged doc. The paraphrase-robust complement of the
    exact 8-gram screens — q83/q247 catch verbatim spans, but a lightly
    reworded eval item shares few 8-grams while keeping high
    token-Jaccard (the contamination mode GPT-3's Appendix C and the
    Llama decontamination notes both flag); near-dup-level screens are
    what serious pipelines run IN ADDITION to exact ones. Every stage —
    shingle hashes, slot family, banding, candidate set, exact
    set-Jaccard verify — is the q383 portable family, so the whole
    asymmetric pipeline is hash-checked.

    Scale: the benchmark side is eval-suite-sized → its banded
    signatures BROADCAST and the corpus never shuffles for candidate
    generation (q83's asymmetry argument applied to LSH); the verify is
    |candidates|-bounded. operators/dedup.py
    minhash_contamination_portable."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_contamination_portable,
    )

    docs = load(spark, sf_dir, "documents")
    return minhash_contamination_portable(
        docs, "doc_id", "text", F.col("doc_id") % 37 == 0, threshold=0.5
    )



@register(
    "q406_rouge2_near_dup_pairs",
    oracle="""
    WITH grams AS (
      SELECT doc_id,
             list_transform(range(1, length(lower(text)) - 6),
                            i -> md5(substr(lower(text), i, 8))) AS hashes
      FROM documents WHERE length(text) >= 8
    ), wins AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(hashes) - 2),
                           j -> list_min(hashes[j : j + 3]))) AS fps
      FROM grams WHERE len(hashes) >= 4
    ), idx0 AS (
      SELECT doc_id, unnest(fps) AS fp FROM wins
    ), hot AS (
      SELECT fp FROM idx0 GROUP BY fp HAVING COUNT(*) > 64
    ), idx AS (
      SELECT i.doc_id, i.fp FROM idx0 i ANTI JOIN hot h ON i.fp = h.fp
    ), pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM idx a JOIN idx b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
      HAVING COUNT(*) >= 10
    ), toks AS (
      SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '') AS tk
      FROM documents
    ), bg AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(tk) >= 2
               THEN list_transform(range(1, len(tk)),
                                   i -> tk[i] || ' ' || tk[i + 1])
               ELSE [] END) AS bgs
      FROM toks
    ), e AS (
      SELECT doc_id, UNNEST(bgs) AS g FROM bg
    ), sz AS (
      SELECT doc_id, len(bgs) AS n FROM bg
    ), ov AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS o
      FROM pairs p
      JOIN e a ON a.doc_id = p.id_a
      JOIN e b ON b.doc_id = p.id_b AND b.g = a.g
      GROUP BY p.id_a, p.id_b
    )
    SELECT p.id_a, p.id_b,
           CAST(COALESCE(ov.o, 0) AS BIGINT) AS n_overlap,
           CAST(FLOOR(1000000.0 * COALESCE(ov.o, 0)
                / GREATEST(sa.n, 1)) AS BIGINT) AS rouge2_recall_e6,
           CAST(FLOOR(1000000.0 * COALESCE(ov.o, 0)
                / GREATEST(sb.n, 1)) AS BIGINT) AS rouge2_precision_e6,
           CAST(FLOOR(2000000.0 * COALESCE(ov.o, 0)
                / GREATEST(sa.n + sb.n, 1)) AS BIGINT) AS rouge2_f1_e6
    FROM pairs p
    LEFT JOIN ov ON ov.id_a = p.id_a AND ov.id_b = p.id_b
    JOIN sz sa ON sa.doc_id = p.id_a
    JOIN sz sb ON sb.doc_id = p.id_b
    """,
)
def q406_rouge2_near_dup_pairs(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X336 — ROUGE-2 between near-duplicate candidate pairs: the
    summarization-eval metric (Lin 2004; distinct-bigram set overlap →
    recall/precision/F1 in integer micro-units) computed over q343's
    df-capped winnowing candidates — the graded-similarity REPORT the
    binary dedup verdict hides ('how much of doc A's phrasing does its
    near-dup B actually reproduce?'), used both as an eval kernel
    (reference vs candidate summaries) and as dedup forensics. The
    candidate generation is the production capped path, so the pair set
    is |near-dups|-bounded, never all-pairs; division only at the final
    projection, floored to exact integers.

    Scale: bigram sets are row-local; the overlap join touches
    |pairs| × per-doc bigrams through a (doc, gram) equi-join — the
    q171-verify shape on a LINEAR candidate set."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    # pairs feeds the overlap join AND the final assembly; bg feeds FOUR
    # references (two overlap sides + two size attaches). Uncached, the
    # executed plan re-ran the winnow pipeline twice and the
    # tokenize+bigram pass four times (12 parquet scans, zero runtime
    # exchange reuse); cached through the bounded registry the round-11
    # A/B measured 14.7 → 2.1 s at sf0.1 with bit-identical output.
    pairs = query_scoped_cache(
        winnow_near_duplicates(
            docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
        ).select("id_a", "id_b")
    )
    toks = docs.select("doc_id", tokenize(F.col("text")).alias("tk"))
    bg = query_scoped_cache(
        toks.select(
            "doc_id",
            F.array_distinct(
                F.when(
                    F.size("tk") >= 2,
                    F.transform(
                        F.sequence(F.lit(1), F.size("tk") - 1),
                        lambda i: F.concat(
                            F.element_at(F.col("tk"), i),
                            F.lit(" "),
                            F.element_at(F.col("tk"), i + 1),
                        ),
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("bgs"),
        )
    )
    e = bg.select("doc_id", F.explode("bgs").alias("g"))
    sz = bg.select("doc_id", F.size("bgs").alias("n"))
    ov = (
        pairs.join(
            e.select(F.col("doc_id").alias("id_a"), "g"), "id_a"
        )
        .join(
            e.select(F.col("doc_id").alias("id_b"), "g"), ["id_b", "g"]
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("o"))
    )
    out = (
        pairs.join(ov, ["id_a", "id_b"], "left")
        .join(
            sz.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na")),
            "id_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.coalesce("o", F.lit(0)).cast("long").alias("n_overlap"),
            F.floor(
                1000000.0
                * F.coalesce("o", F.lit(0))
                / F.greatest("na", F.lit(1))
            )
            .cast("long")
            .alias("rouge2_recall_e6"),
            F.floor(
                1000000.0
                * F.coalesce("o", F.lit(0))
                / F.greatest("nb", F.lit(1))
            )
            .cast("long")
            .alias("rouge2_precision_e6"),
            F.floor(
                2000000.0
                * F.coalesce("o", F.lit(0))
                / F.greatest(F.col("na") + F.col("nb"), F.lit(1))
            )
            .cast("long")
            .alias("rouge2_f1_e6"),
        )
    )
    return out



@register(
    "q420_capture_recapture_dedup",
    allow_non_equi=(
        "three 1-row capture-count aggregates crossJoin-combined into "
        "the single published Chapman row"
    ),
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                         x -> x <> '') AS w
      FROM documents
    ), head_fp AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[1:8], ' ')) AS f
      FROM toks
    ), tail_fp AS (
      SELECT DISTINCT doc_id,
             md5(array_to_string(w[GREATEST(len(w) - 7, 1):], ' ')) AS f
      FROM toks
    ), head_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM head_fp a JOIN head_fp b
        ON a.f = b.f AND a.doc_id < b.doc_id
    ), tail_pairs AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM tail_fp a JOIN tail_fp b
        ON a.f = b.f AND a.doc_id < b.doc_id
    ), m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_both
      FROM head_pairs h JOIN tail_pairs t ON h.a = t.a AND h.b = t.b
    ), c1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_head FROM head_pairs),
    c2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tail FROM tail_pairs)
    SELECT c1.n_head, c2.n_tail, m.n_both,
           ROUND(CAST((c1.n_head + 1) * (c2.n_tail + 1) AS DOUBLE)
                 / (m.n_both + 1) - 1.0, 2) AS chapman_total_pairs,
           ROUND(CAST(c1.n_head AS DOUBLE)
                 / (CAST((c1.n_head + 1) * (c2.n_tail + 1) AS DOUBLE)
                    / (m.n_both + 1) - 1.0), 6) AS head_coverage,
           ROUND(CAST(c2.n_tail AS DOUBLE)
                 / (CAST((c1.n_head + 1) * (c2.n_tail + 1) AS DOUBLE)
                    / (m.n_both + 1) - 1.0), 6) AS tail_coverage
    FROM c1, c2, m
    """,
)
def q420_capture_recapture_dedup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X350 — CAPTURE-RECAPTURE estimate of DEDUP COMPLETENESS
    (Chapman's bias-corrected Lincoln–Petersen estimator, the wildlife
    census / record-linkage-census method): the head-8-token and
    tail-8-token fingerprint families are two INDEPENDENT "traps" for
    duplicate pairs; from how much their catches overlap, Chapman
    N̂ = (n1+1)(n2+1)/(m+1) − 1 estimates how many duplicate pairs
    EXIST — including the ones neither family caught. That turns "our
    dedup found 30k pairs" into "30k of an estimated N̂, i.e. measured
    recall against the unseen population" — the completeness question
    (q146 counts savings from FOUND dups; this bounds the missed
    ones). Both capture sets are deterministic fingerprint equi-joins
    (q194's head fingerprint + its tail mirror), the overlap is a
    pair-key equi-join, and every statistic is integer until the two
    published ratios.

    Scale: two fingerprint-grain self-joins (each bucketed by its
    16-byte hash — q194's measured-linear shape), one pair-key
    equi-join for m, three 1-row reduces."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim("text")), r"\s+").alias("w0"),
    ).select(
        "doc_id", F.filter("w0", lambda x: x != "").alias("w")
    )
    head_fp = toks.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("w", 1, 8))).alias("f"),
    ).distinct()
    tail_fp = toks.select(
        "doc_id",
        F.md5(
            F.concat_ws(
                " ",
                F.slice(
                    "w",
                    F.greatest(F.size("w") - 7, F.lit(1)),
                    F.lit(8),
                ),
            )
        ).alias("f"),
    ).distinct()

    def pair_up(fp: DataFrame) -> DataFrame:
        a = fp.select(F.col("doc_id").alias("a"), "f")
        b = fp.select(F.col("doc_id").alias("b"), "f")
        return a.join(b, "f").filter(F.col("a") < F.col("b")).select("a", "b")

    head_pairs = pair_up(head_fp)
    tail_pairs = pair_up(tail_fp)
    m = head_pairs.join(tail_pairs, ["a", "b"]).agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    c1 = head_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_head"))
    c2 = tail_pairs.agg(F.count(F.lit(1)).cast("long").alias("n_tail"))
    chapman = (
        F.expr("CAST((n_head + 1) * (n_tail + 1) AS DOUBLE)")
        / (F.col("n_both") + 1)
        - 1.0
    )
    return (
        c1.crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(m))
        .select(
            "n_head",
            "n_tail",
            "n_both",
            F.round(chapman, 2).alias("chapman_total_pairs"),
            F.round(F.col("n_head").cast("double") / chapman, 6).alias(
                "head_coverage"
            ),
            F.round(F.col("n_tail").cast("double") / chapman, 6).alias(
                "tail_coverage"
            ),
        )
    )



@register(
    "q446_bfs_hops_capped",
    build_time_exec=(
        "driver-side work at plan-build time; plan pinned by its own "
        "recall/oracle tests (df-capped winnowing pair generation, "
        "q343's stream)"
    ),
    oracle=_bfs_oracle(4, _WINNOW_PAIRS_CAPPED_SQL),
)
def q446_bfs_hops_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X376 — bounded-hop BFS distances over the DF-CAPPED dup graph:
    q397's contamination-propagation question asked on q343's
    production pair stream (winnowing with the max_df=64 MOSS
    boilerplate rule) instead of q61's exact-contract stream. This is
    THE production form — q397's registered input is documented
    quadratic on saturating gram spaces (decade exponent 1.49-1.53,
    SCALING.md), while the capped stream is linear and the BFS loop
    itself measures 0.73 on it, recovering 1199/1202 reachable nodes
    in the round-7 probe (tools/scale_probe.py bfs_on_capped_pairs,
    promoted here to an oracle-checked query per the round-7 verdict).

    Semantics: hop distance from the seed set (doc_id % 50 == 0 among
    graph nodes), capped at 4 relaxation rounds; nodes farther than 4
    hops are absent by contract on both engines. Rare-fingerprint
    pairs survive the df cap, so contamination still propagates along
    genuine near-dup links; only boilerplate-bridge edges (shared
    hot fingerprints) drop — the same precision/recall trade q343
    documents.

    Scale: pair generation is |fps|*max_df^2/2-bounded (linear); each
    BFS round shuffles (node, hop) with map-side min-combine; rounds
    are checkpointed (conf-driven — set ``spark_graft.checkpoint_dir``
    for reliable checkpoint() on a real cluster)."""
    from noaa_ais_glue_lakehouse_spark.operators.checkpointing import (
        iteration_checkpointer,
    )
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    _ckpt = iteration_checkpointer(spark)
    docs = load(spark, sf_dir, "documents")
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    ).select("id_a", "id_b")
    edges = _ckpt(
        pairs.unionByName(
            pairs.select(
                F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b")
            )
        ).select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    dist = (
        edges.select("src")
        .distinct()
        .filter(F.col("src") % 50 == 0)
        .select(F.col("src").alias("node"), F.lit(0).alias("hop"))
    )
    for _ in range(4):
        relaxed = dist.join(edges, dist.node == edges.src).select(
            F.col("dst").alias("node"), (F.col("hop") + 1).alias("hop")
        )
        dist = _ckpt(
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("hop").alias("hop"))
        )
    return dist.select(
        F.col("node").alias("doc_id"), F.col("hop").cast("long").alias("hop")
    )



@register(
    "q447_cosine_dup_clustered_portable",
    oracle=_clustered_cosine_oracle(0.4),
)
def q447_cosine_dup_clustered_portable(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X377 — PORTABLE CLUSTERED EMBEDDING DEDUP (the SemDeDup shape,
    Abbas et al. 2023, hash-gated): q64's cluster-then-pairwise
    production path with the numpy k-means swapped for the portable
    coarse quantizer (q400's Rademacher hyperplane buckets — identical
    SQL text on both engines), so the WHOLE pipeline — cluster
    assignment, within-cluster candidate generation, exact cosine
    verify — is oracle-checked end to end. This is the anchor q64 was
    missing: q318 proves the engine-exact Lloyd loop that would TRAIN
    real centroids, q394/q400 prove the portable codebook transport,
    and this query proves the clustered-dedup topology itself
    (assign → per-cluster self-join → exact verify), the same
    composition with trained centroids substituted in.

    Semantics: pairs (id_a < id_b) sharing a coarse bucket with exact
    cosine ≥ 0.4, scores rounded to 4 dp (the q46 cross-engine float
    idiom). Like any clustered dedup, recall < exact-all-pairs when a
    true pair straddles a bucket boundary — the trade documented in
    q64's recall pytest; precision is exact.

    Scale: the self-join is an equi-join on the bucket key — candidate
    volume is sum over buckets of |bucket|²/2, bounded by the quantizer
    granularity (2^planes buckets, planes ~ log2 n keeps buckets ~
    constant), vs q46's unconditional n²/2. One shuffle on bkt; cosine
    runs only on candidates, inside whole-stage codegen."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_similarity,
    )

    emb = load(spark, sf_dir, "embeddings")
    bucket = F.expr(
        _ivf_adc_bucket_expr("CAST(element_at(embedding, {i}) AS DOUBLE)")
    )
    v = emb.select("vec_id", "embedding", bucket.alias("bkt"))
    a = v.select(
        F.col("vec_id").alias("id_a"), "bkt", F.col("embedding").alias("_va")
    )
    b = v.select(
        F.col("vec_id").alias("id_b"), "bkt", F.col("embedding").alias("_vb")
    )
    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        a.join(b, "bkt")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cos, 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.4)
    )


@register(
    "q455_cross_source_clusters",
    build_time_exec=(
        "driver-side work at plan-build time; plan pinned by its own "
        "recall/oracle tests (df-capped winnowing pairs + the "
        "connected-components loop, q343/q62's inputs)"
    ),
    oracle=_cc_oracle(
        """, labeled AS (
      SELECT c.component, d.source
      FROM comp c JOIN documents d ON d.doc_id = c.node
    ), per AS (
      SELECT component,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
      FROM labeled GROUP BY component
    )
    SELECT n_sources,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(MAX(n_docs) AS BIGINT) AS largest_component""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    )
    + " FROM per GROUP BY n_sources",
)
def q455_cross_source_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X385 — CROSS-SOURCE DUPLICATE-CLUSTER AUDIT on the PRODUCTION
    pair stream: connected components over q343's df-capped winnowing
    pairs (the first oracle-checked CC on the capped stream — the
    cc_on_capped_pairs scale probe, measured exponent ~0.8, promoted
    to a catalog query the way q446 promoted the BFS), each component
    labeled with its documents' sources and rolled up to a source-
    diversity histogram: how many dup clusters live inside ONE feed
    (dedup locally, cheap) vs span feeds (the expensive global-dedup
    case, and the signal that two vendors resell the same crawl —
    q194's head-fingerprint screen asked at full near-dup strength).
    Complements q65 (which picks survivors) with the acquisition-policy
    view.

    Scale: capped pairs are linear (budget-gated 0.81); CC is
    per-round checkpointed min-label + pointer halving; the source
    labeling is one doc-grain equi-join; everything after lives at
    component grain."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        connected_components,
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    ).select("id_a", "id_b")
    comp = connected_components(pairs)
    labeled = comp.join(
        docs.select(F.col("doc_id").alias("id"), "source"), "id"
    )
    per = labeled.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )
    return per.groupBy("n_sources").agg(
        F.count(F.lit(1)).cast("long").alias("n_components"),
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.max("n_docs").cast("long").alias("largest_component"),
    )


@register(
    "q476_dedup_survivors_capped",
    build_time_exec=(
        "driver-side work at plan-build time; plan pinned by its own "
        "recall/oracle tests (df-capped winnowing pair generation, "
        "q343's stream)"
    ),
    oracle=_cc_oracle(
        """, losers AS (SELECT node FROM comp WHERE component <> node)
    SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars
    FROM documents d ANTI JOIN losers l ON d.doc_id = l.node""",
        pairs_sql=_WINNOW_PAIRS_CAPPED_SQL,
    ),
)
def q476_dedup_survivors_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X406 — the END-TO-END dedup chain (pairs → connected components →
    min-id survivor per component + untouched docs) on the PRODUCTION
    df-capped pair stream (round-8 verdict ask #5): q65's consumer shape
    with q343's max_df=64 MOSS boilerplate cap in the pair generator, so
    the survivors question a training pipeline actually ships — "which
    docs remain after near-dup collapse at corpus scale" — is
    oracle-checked on the LINEAR-candidate stream, not only on q61's
    exact-contract quadratic one. q65/q69/q138 keep the exact stream as
    their registered anchors; the max_df knob is the same parameter on
    the shared winnow_near_duplicates operator, so the capped form of
    each consumer is one argument away.

    Scale: pair generation |fps|*max_df^2/2-bounded (linear, q343's
    measured 0.85 B→C); CC rounds are min-rollups with map-side combine,
    checkpointed; survivor selection is one anti-join + one min-rollup.
    """
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        dedup_by_components,
        winnow_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    pairs = winnow_near_duplicates(
        docs, "doc_id", "text", 8, 4, min_shared=10, max_df=64
    )
    survivors = dedup_by_components(
        docs, pairs.select("id_a", "id_b"), "doc_id"
    )
    return survivors.select(
        "doc_id", F.length("text").cast("long").alias("n_chars")
    )


@register(
    "q486_blocking_quality_audit",
    allow_non_equi=(
        "1-row grand-total scalars crossJoin-attached to assemble the "
        "reduction/completeness ratios - group-cardinality, never "
        "row-level"
    ),
    oracle=f"""
    WITH keys AS (
      SELECT doc_id, source, n_chars // 32 AS len_bucket
      FROM documents
    ), blocks AS (
      SELECT source, len_bucket, CAST(COUNT(*) AS BIGINT) AS m
      FROM keys GROUP BY source, len_bucket
    ), cand AS (
      SELECT CAST(SUM(m * (m - 1) / 2) AS BIGINT) AS cand_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_blocks
      FROM blocks
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS total_pairs
      FROM keys
    ), truth AS (
      SELECT id_a, id_b FROM ({_simhash_md5_oracle(3, 4)}) s
    ), cap AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_true,
             CAST(SUM(CASE WHEN ka.source = kb.source
                            AND ka.len_bucket = kb.len_bucket
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_captured
      FROM truth t
      JOIN keys ka ON ka.doc_id = t.id_a
      JOIN keys kb ON kb.doc_id = t.id_b
    )
    SELECT tot.n_docs, cand.n_blocks, tot.total_pairs, cand.cand_pairs,
           CAST((tot.total_pairs - cand.cand_pairs) * 1000000
                // tot.total_pairs AS BIGINT) AS reduction_ratio_ppm,
           cap.n_true, cap.n_captured,
           CAST(CASE WHEN cap.n_true > 0
                     THEN cap.n_captured * 1000000 // cap.n_true
                     ELSE 1000000 END AS BIGINT) AS completeness_ppm
    FROM cand CROSS JOIN tot CROSS JOIN cap
    """,
)
def q486_blocking_quality_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X416 — RECORD-LINKAGE BLOCKING QUALITY AUDIT: for the
    (source, length-bucket) blocking scheme, the two numbers every
    blocking design is judged by — REDUCTION RATIO (fraction of the
    n²/2 comparison space the blocks eliminate, from block sizes alone:
    Σm(m−1)/2, never materializing a pair) and PAIRS COMPLETENESS
    (fraction of TRUE near-dup pairs — q28's fully-oracle-checked
    portable-simhash pair set, recall exactly 1.0 by pigeonhole — whose
    members share a block). This is the audit that decides whether a
    cheap blocking key can gate the expensive linkage comparators
    (q217) at corpus scale; both metrics publish as exact ppm integers.

    Scale: reduction comes from a (source, bucket)-grain count — no
    pair materialization; completeness joins the |true pairs| relation
    (tiny) against the doc-key relation twice; the three 1-row scalars
    broadcast."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        simhash_near_duplicates,
    )

    docs = load(spark, sf_dir, "documents")
    keys = docs.select(
        "doc_id", "source", F.expr("n_chars DIV 32").alias("len_bucket")
    )
    blocks = keys.groupBy("source", "len_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    cand = blocks.agg(
        F.sum(F.expr("m * (m - 1) / 2")).cast("long").alias("cand_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
    )
    tot = keys.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr("CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT)").alias(
            "total_pairs"
        ),
    )
    truth = simhash_near_duplicates(
        docs, "doc_id", "text", max_hamming=3, portable_hash=True
    ).select("id_a", "id_b")
    ka = keys.select(
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
        F.col("len_bucket").alias("lb_a"),
    )
    kb = keys.select(
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
        F.col("len_bucket").alias("lb_b"),
    )
    cap = (
        truth.join(ka, "id_a")
        .join(kb, "id_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_true"),
            F.sum(
                F.when(
                    (F.col("src_a") == F.col("src_b"))
                    & (F.col("lb_a") == F.col("lb_b")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_captured"),
        )
    )
    return (
        cand.join(F.broadcast(tot))
        .join(F.broadcast(cap))
        .select(
            "n_docs",
            "n_blocks",
            "total_pairs",
            "cand_pairs",
            F.expr(
                "CAST((total_pairs - cand_pairs) * 1000000"
                " DIV total_pairs AS BIGINT)"
            ).alias("reduction_ratio_ppm"),
            "n_true",
            "n_captured",
            F.expr(
                "CAST(CASE WHEN n_true > 0"
                " THEN n_captured * 1000000 DIV n_true"
                " ELSE 1000000 END AS BIGINT)"
            ).alias("completeness_ppm"),
        )
    )


def _minhash_err_oracle(num_hashes: int = 32, bands: int = 8) -> str:
    """Oracle for q497: the q383 portable-minhash CTE chain, but keeping
    ALL band candidates (no threshold) and comparing the signature
    estimate (matching slots / 32, exact ppm integers) against the
    exact hashed-set Jaccard, bucketed by absolute error."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_portable_slot_consts,
    )

    p = 2147483647
    r = num_hashes // bands
    consts = minhash_portable_slot_consts(num_hashes)
    sig_cols = ",\n             ".join(
        f"MIN((hp * {a} + {b}) % {p}) AS h{i}"
        for i, (a, b) in enumerate(consts)
    )
    band_eq = " OR\n        ".join(
        "("
        + " AND ".join(f"a.h{bi * r + j} = b.h{bi * r + j}" for j in range(r))
        + ")"
        for bi in range(bands)
    )
    matches = " + ".join(
        f"(CASE WHEN a.h{i} = b.h{i} THEN 1 ELSE 0 END)"
        for i in range(num_hashes)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, list_distinct(list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> x <> '')) AS tk
      FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id,
             CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h60
      FROM (SELECT doc_id, UNNEST(tk) AS tok FROM toks)
    ), hp AS (
      SELECT doc_id, h60, h60 % {p} AS hp FROM sh
    ), sig AS (
      SELECT doc_id,
             {sig_cols}
      FROM hp GROUP BY doc_id
    ), sz AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY doc_id
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({matches} AS BIGINT) AS m
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id AND (
        {band_eq})
    ), inter AS (
      SELECT c.id_a, c.id_b, c.m, sa.n AS na, sb.n AS nb,
             CAST(COUNT(*) AS BIGINT) AS i
      FROM cand c
      JOIN sz sa ON sa.doc_id = c.id_a
      JOIN sz sb ON sb.doc_id = c.id_b
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.h60 = a.h60
      GROUP BY c.id_a, c.id_b, c.m, sa.n, sb.n
    ), err AS (
      SELECT ABS(m * 1000000 // {num_hashes}
                 - i * 1000000 // (na + nb - i)) AS e
      FROM inter
    )
    SELECT CAST(e // 50000 AS BIGINT) AS err_bucket_5pct,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(e) // COUNT(*) AS BIGINT) AS mean_err_ppm,
           CAST(MAX(e) AS BIGINT) AS max_err_ppm
    FROM err GROUP BY 1 ORDER BY 1
    """


@register(
    "q497_minhash_estimation_error",
    oracle=_minhash_err_oracle(),
)
def q497_minhash_estimation_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X427 — MINHASH ESTIMATION-ERROR AUDIT: on every band-join
    candidate pair of the portable family (q383's construction, NO
    threshold filter — the audit wants the borderline pairs too), the
    signature estimate Ĵ = matching-slots/32 against the exact
    hashed-set Jaccard, bucketed by absolute error in 5%-ppm bands.
    Completes the sketch-audit family: q432/q433 pin what LSH FINDS
    (recall), this pins what the signatures CLAIM (estimation
    accuracy) — the number that justifies using Ĵ as a cheap verify
    or a threshold pre-filter at 100 TB, where exact set intersection
    per candidate is the cost being avoided. Both Ĵ and J publish as
    exact ppm integers (m·10⁶ DIV 32, i·10⁶ DIV union), so the error
    histogram is int64 end to end.

    Scale: q27/q383's shape exactly — banded equi-join candidates,
    |candidates|-bounded verify, then a ≤21-row bucket rollup."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        _minhash_band_keys,
        _portable_minhash_index,
        band_pairs,
    )

    num_hashes, bands = 32, 8
    docs = load(spark, sf_dir, "documents")
    feats = _portable_minhash_index(docs, "doc_id", "text", num_hashes)
    cands = band_pairs(feats, "doc_id", _minhash_band_keys(num_hashes, bands))
    sig_a = feats.select(
        F.col("doc_id").alias("id_a"),
        F.col("_sh").alias("_sha"),
        F.col("_n").cast("long").alias("_na"),
        *[F.col(f"_h{i}").alias(f"_ha{i}") for i in range(num_hashes)],
    )
    sig_b = feats.select(
        F.col("doc_id").alias("id_b"),
        F.col("_sh").alias("_shb"),
        F.col("_n").cast("long").alias("_nb"),
        *[F.col(f"_h{i}").alias(f"_hb{i}") for i in range(num_hashes)],
    )
    joined = cands.join(sig_a, "id_a").join(sig_b, "id_b")
    m = sum(
        (
            F.when(F.col(f"_ha{i}") == F.col(f"_hb{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ),
        F.lit(0),
    ).cast("long")
    inter = F.size(F.array_intersect("_sha", "_shb")).cast("long")
    err = F.abs(
        F.expr(f"CAST(m * 1000000 DIV {num_hashes} AS BIGINT)")
        - F.expr("CAST(i * 1000000 DIV (_na + _nb - i) AS BIGINT)")
    )
    e = joined.select(
        m.alias("m"), inter.alias("i"), "_na", "_nb"
    ).select(err.alias("e"))
    return (
        e.groupBy(F.expr("CAST(e DIV 50000 AS BIGINT)").alias(
            "err_bucket_5pct"
        ))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("CAST(SUM(e) DIV COUNT(*) AS BIGINT)").alias(
                "mean_err_ppm"
            ),
            F.max("e").cast("long").alias("max_err_ppm"),
        )
        .orderBy("err_bucket_5pct")
    )
