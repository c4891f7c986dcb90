"""Seeded generators: determinism, planted ground truth, exact near-dup sets."""

from __future__ import annotations

import csv
import itertools
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq
import synth_scale

from perfbench import gen


def _tree_bytes(root: Path) -> dict[str, bytes]:
    return {p.relative_to(root).as_posix(): p.read_bytes() for p in sorted(root.rglob("*")) if p.is_file()}


def test_ais_same_seed_same_files_other_seed_differs(tmp_path):
    a = gen.write_ais_days(7, tmp_path / "a", vessels=6, days=2, points=40)
    b = gen.write_ais_days(7, tmp_path / "b", vessels=6, days=2, points=40)
    c = gen.write_ais_days(8, tmp_path / "c", vessels=6, days=2, points=40)
    assert a == b
    assert _tree_bytes(tmp_path / "a") == _tree_bytes(tmp_path / "b")
    files_c = _tree_bytes(tmp_path / "c")
    assert files_c.keys() == _tree_bytes(tmp_path / "a").keys()
    assert files_c != _tree_bytes(tmp_path / "a")
    assert c != a


def test_ais_planted_truth_matches_files(tmp_path):
    truth = gen.write_ais_days(3, tmp_path, vessels=20, days=2, points=50)
    assert truth.days == ("2024-01-01", "2024-01-02")
    rows = []
    for path in sorted(tmp_path.rglob("*.csv")):
        with open(path, newline="") as f:
            rows += list(csv.DictReader(f))
    assert len(rows) == truth.raw_rows
    bad_ts = [r for r in rows if not r["BaseDateTime"][:4].isdigit()]
    parsed = [r for r in rows if r["BaseDateTime"][:4].isdigit()]
    invalid = [r for r in parsed if abs(float(r["LAT"])) > 90 or abs(float(r["LON"])) > 180]
    assert len(invalid) == truth.quarantined_rows > 0
    # a replay may come back in another timestamp format; it is the same instant
    valid = {
        (r["MMSI"], r["BaseDateTime"].rstrip("Z").replace("T", " "), r["LAT"], r["LON"])
        for r in parsed
        if abs(float(r["LAT"])) <= 90 and abs(float(r["LON"])) <= 180
    }
    assert len(valid) == truth.staging_rows
    assert len(rows) > truth.staging_rows + truth.quarantined_rows + len(bad_ts)  # replays exist
    formats = {("T" in r["BaseDateTime"], r["BaseDateTime"].endswith("Z")) for r in parsed}
    assert formats == {(True, False), (False, False), (True, True)}
    assert truth.voyages > 20  # every vessel sails, and some vessel-days have a > 3 h gap


def test_catalog_tables_deterministic(tmp_path):
    for d, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen.write_catalog_tables(seed, tmp_path / d, docs=200, vectors=50, events=500, event_days=2)
    a, b, c = (_tree_bytes(tmp_path / d) for d in "abc")
    assert a == b
    assert set(a) == {"documents.parquet", "embeddings.parquet", "events.parquet"}
    assert all(a[k] != c[k] for k in a)
    events = pq.read_table(tmp_path / "a" / "events.parquet")
    assert events.schema.names == ["event_id", "ts", "user_id", "event_type", "value", "props"]


def _brute_jaccard(ids, texts, threshold):
    sets = [set(t.lower().split()) for t in texts]
    out = set()
    for i, j in itertools.combinations(range(len(sets)), 2):
        inter = len(sets[i] & sets[j])
        union = len(sets[i] | sets[j])
        if union and inter / union >= threshold:
            out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def test_exact_jaccard_pairs_equals_brute_force():
    docs = synth_scale._gen_documents(np.random.default_rng(11), 400)
    ids, texts = docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()
    want = _brute_jaccard(ids, texts, 0.8)
    assert len(want) > 10  # the planted clusters
    assert gen.exact_jaccard_pairs(ids, texts, 0.8) == want


def test_exact_jaccard_pairs_short_texts():
    ids = [10, 11, 12, 13]
    texts = ["a b c", "a b c", "a b d", "x"]
    assert gen.exact_jaccard_pairs(ids, texts, 0.5) == _brute_jaccard(ids, texts, 0.5) == {(10, 11), (10, 12), (11, 12)}


def test_exact_cosine_pairs_equals_brute_force():
    emb = synth_scale._gen_embeddings(np.random.default_rng(4), 120)
    vecs = np.asarray(emb.column("embedding").to_pylist(), dtype=np.float32)
    ids = emb.column("vec_id").to_numpy()
    want = set()
    for i, j in itertools.combinations(range(len(ids)), 2):
        a, b = vecs[i].astype(np.float64), vecs[j].astype(np.float64)
        if a @ b / (np.linalg.norm(a) * np.linalg.norm(b)) >= 0.4:
            want.add((int(ids[i]), int(ids[j])))
    assert len(want) > 5
    assert gen.exact_cosine_pairs(ids, vecs, 0.4) == want
