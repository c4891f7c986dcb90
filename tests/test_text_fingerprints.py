"""BPE-ish tokenization, winnowing fingerprints, embedding-cosine dedup
recall, and the P17 swapped-coordinate detector."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.text import (
    BPE_ISH_PATTERN,
    bpe_ish_tokens,
    winnow_fingerprints,
)
from noaa_ais_glue_lakehouse_spark.operators.cleaning import (
    detect_swapped_coordinates,
)
from noaa_ais_glue_lakehouse_spark.operators.dedup import winnow_fingerprint_index
from noaa_ais_glue_lakehouse_spark.operators.similarity import (
    cosine_near_duplicates,
    cosine_pairs_exact,
)


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("Hello, world42 x!",)], ["t"])
    got = df.select(bpe_ish_tokens(F.col("t"))).first()[0]
    assert got == ["Hello", ",", "world", "42", "x", "!"]


def test_winnow_shared_substring_shares_fingerprint(spark):
    # two docs sharing a >= k+w-1 char substring must share a fingerprint
    common = "the quick brown fox jumps over"
    df = spark.createDataFrame(
        [(1, "AAAA " + common + " BBBB"), (2, "CCCC " + common + " DDDD"),
         (3, "totally unrelated content here with no overlap at all")],
        ["doc_id", "text"],
    )
    idx = winnow_fingerprint_index(df, "doc_id", "text")
    fps = {i: set() for i in (1, 2, 3)}
    for r in idx.collect():
        fps[r["doc_id"]].add(r["fingerprint"])
    assert fps[1] & fps[2]
    assert not (fps[1] & fps[3])


def test_winnow_column_and_table_forms_agree(spark):
    df = spark.createDataFrame(
        [(1, "some document text for fingerprinting purposes")], ["doc_id", "text"]
    )
    col_form = set(
        df.select(F.explode(winnow_fingerprints(F.col("text"), 8, 4))).rdd.map(
            lambda r: r[0]
        ).collect()
    )
    tbl_form = {
        r["fingerprint"]
        for r in winnow_fingerprint_index(df, "doc_id", "text", 8, 4).collect()
    }
    assert col_form == tbl_form


def test_winnow_short_text_empty(spark):
    df = spark.createDataFrame([(1, "tiny")], ["doc_id", "text"])
    assert winnow_fingerprint_index(df, "doc_id", "text").count() == 0


def _clustered_vectors(spark, n_clusters=10, per_cluster=20, dim=16, seed=3):
    rng = random.Random(seed)
    rows = []
    i = 0
    for c in range(n_clusters):
        center = [rng.gauss(0, 1) for _ in range(dim)]
        for _ in range(per_cluster):
            rows.append(
                (i, [x + rng.gauss(0, 0.35) for x in center])
            )
            i += 1
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_dedup_recall(spark):
    df = _clustered_vectors(spark)
    truth = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_exact(df, threshold=0.7).collect()
    }
    assert len(truth) > 100  # clusters guarantee plenty of near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(df, dim=16, threshold=0.7).collect()
    }
    assert got <= truth  # exact verify → precision 1.0
    recall = len(got & truth) / len(truth)
    assert recall >= 0.8, f"recall {recall:.3f}"


def test_detect_swapped_coordinates(spark):
    ok = spark.createDataFrame([(39.0, -76.0), (40.0, -75.0)], ["LAT", "LON"])
    assert detect_swapped_coordinates(ok) is False
    # |mean(LAT)| > 90 is impossible for real latitudes → swap suspected
    sus = spark.createDataFrame([(-95.0, 39.0), (-120.0, 40.0)], ["LAT", "LON"])
    assert detect_swapped_coordinates(sus) is True
    # swapped but both axes within ±90: heuristic can't see it (documented
    # limitation of the reference's mean-based rule)
    subtle = spark.createDataFrame([(-76.0, 39.0), (-80.0, 40.0)], ["LAT", "LON"])
    assert detect_swapped_coordinates(subtle) is False


def test_cosine_dedup_clustered_recall_and_parity(spark):
    """SemDeDup-shape clustered dedup: precision exact (scores match the
    brute-force baseline on found pairs), recall ≥ LSH-level on clustered
    data — its natural regime, since k-means recovers the very clusters
    the dups live in."""
    from noaa_ais_glue_lakehouse_spark.operators.similarity import (
        cosine_near_duplicates_clustered,
    )

    df = _clustered_vectors(spark)
    truth = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_pairs_exact(df, threshold=0.7).collect()
    }
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_near_duplicates_clustered(
            df, dim=16, threshold=0.7, n_lists=8, n_probe=3
        ).collect()
    }
    assert set(got) <= set(truth)  # exact scoring → precision 1.0
    for key, score in got.items():
        assert abs(score - truth[key]) < 1e-9  # identical 4-dp rounding
    recall = len(set(got) & set(truth)) / len(truth)
    assert recall >= 0.8, f"recall {recall:.3f}"
