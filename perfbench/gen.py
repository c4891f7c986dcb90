"""Seeded input generators and the ground truth the correctness checks use.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, so two commits are measured on the same inputs.
The program under test only ever sees the written files.

- ``write_ais_days`` writes one raw AIS CSV drop per day under
  ``year=/month=/day=`` directories, vectorised with NumPy (a per-row
  ``strftime`` loop is ~10x slower at 600k rows). It plants the cases each
  cleaning branch exists for and returns the counts the pipeline must
  reproduce.
- ``write_catalog_tables`` draws documents, embeddings and events through
  ``tools/synth_scale.py``'s generators with the benchmark's RNG.
- ``exact_jaccard_pairs`` and ``exact_cosine_pairs`` give the exact
  near-duplicate answer that recall and precision are measured against.
"""

from __future__ import annotations

import dataclasses
import math
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

import synth_scale

AIS_START = np.datetime64("2024-01-01T00:00:00", "s")
DAY_S = 86_400
VOYAGE_GAP_S = 3 * 3600  # the pipeline's voyage rule: a gap > 3 h starts a new voyage

# planted anomaly rates (shares of the base rows)
INVALID_COORD_SHARE = 0.005
BAD_TIMESTAMP_SHARE = 0.001
REPLAY_SHARE = 0.02
GAP_SHARE = 0.3  # share of vessel-days with one silent stretch of 3.5-6 h


@dataclasses.dataclass(frozen=True)
class AisTruth:
    """What a correct raw→staging→curated run over the drop must produce."""

    raw_rows: int
    raw_bytes: int
    staging_rows: int  # unique rows with a parseable timestamp and valid coordinates
    quarantined_rows: int  # planted invalid coordinates
    voyages: int  # (vessel, voyage) pairs under the > 3 h gap rule
    days: tuple[str, ...]
    month: str


def _vessel_day_times(rng: np.random.Generator, vessels: int, days: int, points: int) -> np.ndarray:
    """Seconds since AIS_START, shape (vessels, days * points), sorted per vessel.

    Points sit on an even grid with jitter, so consecutive points are far
    less than 3 h apart and tracks run across midnight into the next day.
    A GAP_SHARE of vessel-days get one silent stretch longer than 3 h.
    """
    has_gap = rng.random((vessels, days)) < GAP_SHARE
    gap_len = np.where(has_gap, rng.uniform(3.5 * 3600, 6 * 3600, (vessels, days)), 0.0)
    gap_at = rng.uniform(2 * 3600, 16 * 3600, (vessels, days))
    usable = DAY_S - gap_len  # the day's points are squeezed into this span
    slot = usable / points
    k = np.arange(points)
    local = k[None, None, :] * slot[..., None] + rng.uniform(0.0, 0.5, (vessels, days, points)) * slot[..., None]
    local = np.where(local >= gap_at[..., None], local + gap_len[..., None], local)
    day_off = (np.arange(days) * DAY_S)[None, :, None]
    return np.floor(local + day_off).astype(np.int64).reshape(vessels, days * points)


def write_ais_days(
    seed: int, dest: Path, vessels: int, days: int, points: int
) -> AisTruth:
    """Write ``days`` daily raw CSV drops of ``vessels`` x ``points`` rows each.

    Planted cases: ~0.5% out-of-range coordinates (quarantine), ~0.1%
    unparseable timestamps (dropped), ~2% exact replays of valid rows,
    some re-sent in another timestamp format (content dedup), a mix of
    ``T``, space and ``Z`` timestamp formats, empty strings, SOG above the
    clamp, and vessel-days with a > 3 h gap (new voyage).
    """
    rng = np.random.default_rng([seed, 1])
    n_base = vessels * days * points
    secs = _vessel_day_times(rng, vessels, days, points).reshape(-1)
    vessel = np.repeat(np.arange(vessels), days * points)
    mmsi = 367_000_000 + vessel * 7

    # continuous tracks: a per-vessel random walk from a start in US waters
    start_lat = rng.uniform(25.0, 47.0, vessels)
    start_lon = rng.uniform(-124.0, -70.0, vessels)
    steps = rng.normal(0.0, 0.004, (2, vessels, days * points))
    lat = np.round(start_lat[:, None] + np.cumsum(steps[0], axis=1), 5).reshape(-1)
    lon = np.round(start_lon[:, None] + np.cumsum(steps[1], axis=1), 5).reshape(-1)
    anchored = rng.random(vessels) < 0.2
    sog = np.where(
        np.repeat(anchored, days * points),
        np.round(rng.uniform(0.0, 0.4, n_base), 1),
        np.round(rng.uniform(0.5, 24.0, n_base), 1),
    )
    sog[rng.random(n_base) < 0.002] = 102.3  # above the 100-knot clamp
    cog = np.round(rng.uniform(0.0, 359.9, n_base), 1)
    heading = np.where(rng.random(n_base) < 0.1, 511.0, np.floor(cog))

    # anomalies, drawn as disjoint row sets
    order = rng.permutation(n_base)
    n_invalid = max(1, int(n_base * INVALID_COORD_SHARE))
    n_badts = max(1, int(n_base * BAD_TIMESTAMP_SHARE))
    invalid = order[:n_invalid]
    badts = order[n_invalid : n_invalid + n_badts]
    valid_mask = np.ones(n_base, dtype=bool)
    valid_mask[invalid] = False
    valid_mask[badts] = False
    half = n_invalid // 2
    lat[invalid[:half]] = np.round(91.0 + rng.uniform(0, 8, half), 5)
    lon[invalid[half:]] = np.round(181.0 + rng.uniform(0, 8, n_invalid - half), 5)

    ts = np.datetime_as_string(AIS_START + secs.astype("timedelta64[s]"), unit="s")
    fmt = rng.choice(3, n_base, p=[0.6, 0.3, 0.1])  # 0: T, 1: space, 2: T...Z
    ts = np.where(fmt == 1, np.char.replace(ts, "T", " "), ts)
    ts = np.where(fmt == 2, np.char.add(ts, "Z"), ts)
    ts = ts.astype(object)
    ts[badts] = "not-a-timestamp"

    name = np.char.add("VESSEL_", np.arange(vessels).astype(str)).astype(object)
    name[rng.random(vessels) < 0.05] = ""
    imo = np.char.add("IMO", (9_000_000 + np.arange(vessels)).astype(str)).astype(object)
    imo[rng.random(vessels) < 0.3] = ""
    static = {
        "VesselName": name,
        "IMO": imo,
        "CallSign": np.char.add("WD", np.arange(1000, 1000 + vessels).astype(str)),
        "VesselType": rng.choice([30, 31, 52, 60, 70, 80], vessels),
        "Status": rng.choice([0, 1, 5, 15], vessels),
        "Length": np.round(rng.uniform(10, 300, vessels), 1),
        "Width": np.round(rng.uniform(3, 45, vessels), 1),
        "Draft": np.round(rng.uniform(1, 15, vessels), 1),
        "Cargo": rng.choice([0, 30, 52, 70], vessels),
        "TransceiverClass": rng.choice(np.array(["A", "B"]), vessels),
    }
    cols = {
        "MMSI": mmsi,
        "BaseDateTime": ts,
        "LAT": lat,
        "LON": lon,
        "SOG": sog,
        "COG": cog,
        "Heading": heading,
        **{k: v[vessel] for k, v in static.items()},
    }

    # exact replays of valid rows; a third re-sent in another timestamp
    # format, which must still dedup because it parses to the same instant
    replay = rng.choice(np.flatnonzero(valid_mask), int(n_base * REPLAY_SHARE), replace=False)
    replay_ts = ts[replay].copy()
    reformat = rng.random(replay.size) < 0.33
    replay_ts[reformat] = np.char.replace(
        np.char.rstrip(replay_ts[reformat].astype(str), "Z"), "T", " "
    )

    day_of = secs // DAY_S
    raw_rows = 0
    raw_bytes = 0
    day_names = []
    for d in range(days):
        rows = np.flatnonzero(day_of == d)
        rep = replay[day_of[replay] == d]
        rep_ts = replay_ts[day_of[replay] == d]
        idx = np.concatenate([rows, rep])
        table_cols = {k: v[idx] for k, v in cols.items()}
        table_cols["BaseDateTime"] = np.concatenate([ts[rows], rep_ts])
        perm = rng.permutation(idx.size)
        table = pa.table({k: pa.array(v[perm]) for k, v in table_cols.items()})
        date = (AIS_START + np.timedelta64(d * DAY_S, "s")).astype("datetime64[D]").item()
        out = dest / f"year={date.year}" / f"month={date.month:02d}" / f"day={date.day:02d}"
        out.mkdir(parents=True, exist_ok=True)
        path = out / f"ais_{date.isoformat()}.csv"
        pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="needed"))
        raw_rows += idx.size
        raw_bytes += path.stat().st_size
        day_names.append(date.isoformat())

    return AisTruth(
        raw_rows=raw_rows,
        raw_bytes=raw_bytes,
        staging_rows=int(valid_mask.sum()),
        quarantined_rows=n_invalid,
        voyages=_count_voyages(vessel[valid_mask], secs[valid_mask]),
        days=tuple(day_names),
        month=day_names[0][:7],
    )


def _count_voyages(vessel: np.ndarray, secs: np.ndarray) -> int:
    """Voyages over the surviving rows: one per vessel plus one per gap > 3 h."""
    order = np.lexsort((secs, vessel))
    v, s = vessel[order], secs[order]
    same = v[1:] == v[:-1]
    gaps = int(np.count_nonzero(same & (np.diff(s) > VOYAGE_GAP_S)))
    return int(np.unique(v).size) + gaps


def write_catalog_tables(
    seed: int, dest: Path, docs: int = 0, vectors: int = 0, events: int = 0, event_days: int = 30
) -> None:
    """Write the catalog tables a workload reads, each from its own seeded stream."""
    dest.mkdir(parents=True, exist_ok=True)
    if docs:
        pq.write_table(
            synth_scale._gen_documents(np.random.default_rng([seed, 2]), docs),
            dest / "documents.parquet",
        )
    if vectors:
        pq.write_table(
            synth_scale._gen_embeddings(np.random.default_rng([seed, 3]), vectors),
            dest / "embeddings.parquet",
        )
    if events:
        pq.write_table(
            synth_scale._gen_events(np.random.default_rng([seed, 4]), events, event_days),
            dest / "events.parquet",
        )


def exact_jaccard_pairs(
    ids: list[int], texts: list[str], threshold: float
) -> set[tuple[int, int]]:
    """All (id_a < id_b) with token-set Jaccard >= threshold, exactly.

    Tokens are lowercased whitespace splits, as q27 shingles them. Exact
    by the prefix-filter lemma: order tokens rarest first; if
    |A ∩ B| >= t_A = ceil(threshold * |A|) (which J >= threshold implies),
    the k smallest shared tokens lie in A's first |A| - t_A + k tokens and
    in B's first |B| - t_B + k. With k = 4 a true pair shares >= 4 tokens
    of its two extended prefixes, which prunes random pairs before the
    exact set intersection; k falls back to 1 when a set is too small to
    guarantee 4 shared tokens.
    """
    sets = [frozenset(t.lower().split()) for t in texts]
    k = 4 if min((math.ceil(threshold * len(s)) for s in sets if s), default=0) >= 4 else 1
    vocab: dict[str, int] = {}
    for s in sets:
        for w in s:
            vocab[w] = vocab.get(w, 0) + 1
    rank = {w: r for r, w in enumerate(sorted(vocab, key=lambda w: (vocab[w], w)))}
    tok_list, doc_list = [], []
    for i, s in enumerate(sets):
        if not s:
            continue
        toks = sorted(rank[w] for w in s)
        keep = len(toks) - math.ceil(threshold * len(toks)) + k
        tok_list.extend(toks[:keep])
        doc_list.extend([i] * min(keep, len(toks)))
    tok = np.asarray(tok_list, dtype=np.int64)
    doc = np.asarray(doc_list, dtype=np.int64)
    order = np.lexsort((doc, tok))
    tok, doc = tok[order], doc[order]
    bounds = np.flatnonzero(np.diff(tok)) + 1
    keys = []
    n = len(sets)
    for group in np.split(doc, bounds):
        if group.size < 2:
            continue
        a, b = np.triu_indices(group.size, 1)
        keys.append(group[a] * n + group[b])
    if not keys:
        return set()
    pair_keys, counts = np.unique(np.concatenate(keys), return_counts=True)
    out = set()
    for key in pair_keys[counts >= k].tolist():
        i, j = divmod(key, n)
        a, b = sets[i], sets[j]
        inter = len(a & b)
        if inter / (len(a) + len(b) - inter) >= threshold:
            out.add((min(ids[i], ids[j]), max(ids[i], ids[j])))
    return out


def exact_cosine_pairs(
    ids: np.ndarray, vectors: np.ndarray, threshold: float
) -> set[tuple[int, int]]:
    """All (id_a < id_b) with cosine >= threshold, by brute force in float64."""
    x = vectors.astype(np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    cos = x @ x.T
    a, b = np.nonzero(np.triu(cos >= threshold, 1))
    return {(min(p, q), max(p, q)) for p, q in zip(ids[a].tolist(), ids[b].tolist())}
