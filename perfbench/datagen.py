"""Deterministic inputs for the benchmark.

Two kinds of input are made here:

- the ten analytic tables that every declared query reads
  (``io.TABLES``), written as one parquet file each. Their shapes,
  value domains and row counts per scale factor follow the project's
  documented fixture tables (TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``). They are generated from a fixed
  seed, like fixture tables, so the oracle results and the scan sizes
  are the same for every benchmark seed;
- the synthetic Spotify catalog behind ``FakeSpotifyClient`` for the
  daily ETL, generated from the benchmark seed.

Only NumPy, pandas and pyarrow are used, so making the inputs never
touches Spark and is excluded from the set-up time.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()


def table_counts(sf: float) -> dict[str, int]:
    """Row count of each table at scale factor ``sf``."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": int(10_000 * sf),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def _dates(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    days = rng.integers(0, (hi_d - lo_d).astype(int) + 1, n)
    return (lo_d + days).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> np.ndarray:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def make_tables(sf: float) -> dict[str, pd.DataFrame]:
    """All ten tables at scale factor ``sf`` as pandas frames."""
    rng = np.random.default_rng(TABLE_SEED)
    n = table_counts(sf)
    i32 = np.int32
    out: dict[str, pd.DataFrame] = {}
    out["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(i32),
    })
    k = np.arange(n["customer"])
    out["customer"] = pd.DataFrame({
        "c_custkey": k,
        "c_name": [f"Customer#{i:09d}" for i in k],
        "c_nationkey": rng.integers(0, 25, len(k)).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, len(k)),
        "c_mktsegment": _pick(rng, _SEGMENTS, len(k)),
    })
    k = np.arange(n["supplier"])
    out["supplier"] = pd.DataFrame({
        "s_suppkey": k,
        "s_name": [f"Supplier#{i:09d}" for i in k],
        "s_nationkey": rng.integers(0, 25, len(k)).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, len(k)),
    })
    k = np.arange(n["part"])
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pd.DataFrame({
        "p_partkey": k,
        "p_name": _pick(rng, names, len(k)),
        "p_brand": np.asarray([f"Brand#{i}" for i in rng.integers(1, 26, len(k))], dtype=object),
        "p_type": _pick(rng, _PTYPES, len(k)),
        "p_size": rng.integers(1, 51, len(k)).astype(i32),
        "p_retailprice": np.round(900 + (k % 1000) / 10, 1),
    })
    k = np.arange(n["orders"])
    out["orders"] = pd.DataFrame({
        "o_orderkey": k,
        "o_custkey": rng.integers(0, n["customer"], len(k)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], len(k)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, len(k)),
        "o_orderdate": _dates(rng, len(k), "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, _PRIORITIES, len(k)),
    })
    m = n["lineitem"]
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n["orders"], m),
        "l_partkey": rng.integers(0, n["part"], m),
        "l_suppkey": rng.integers(0, n["supplier"], m),
        "l_linenumber": rng.integers(1, 8, m).astype(i32),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _dates(rng, m, "1995-01-02", "2001-11-04"),
    })
    m = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, m))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(m),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(1, n["customer"] // 10), m),
        "event_type": _pick(rng, _EVENT_TYPES, m),
        "value": np.round(rng.exponential(50.0, m), 2),
        "props": np.asarray([f'{{"k": {v}}}' for v in rng.integers(0, 100, m)], dtype=object),
    })
    out["documents"] = _documents(rng, n["documents"])
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(m),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, m).astype(i32),
    })
    return out


def _documents(rng: np.random.Generator, m: int) -> pd.DataFrame:
    """Bag-of-words documents; 5% are an earlier document plus the token
    ``dup`` (near duplicates) and 0.2% are exact copies."""
    vocab = np.asarray(_VOCAB, dtype=object)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))]) for _ in range(m)]
    for i in rng.choice(np.arange(1, m), m // 20, replace=False):
        texts[i] = texts[rng.integers(0, i)] + " dup"
    for i in rng.choice(np.arange(1, m), max(1, m // 500), replace=False):
        texts[i] = texts[rng.integers(0, i)]
    ids = np.arange(m)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, _LANGS, m, p=_LANG_P),
        "source": np.asarray([f"src{i % 20}" for i in ids], dtype=object),
        "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64),
    })


def write_tables(parent: str, sf: float) -> str:
    """Write the tables for ``sf`` as parquet files into a new directory
    under ``parent`` and return that directory."""
    target = os.path.join(parent, f"tables-sf{sf:g}")
    os.makedirs(target)
    for name, df in make_tables(sf).items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        pq.write_table(table, os.path.join(target, f"{name}.parquet"))
    return target


# ---------------------------------------------------------------------------
# Synthetic Spotify catalog for the daily ETL
# ---------------------------------------------------------------------------

ALBUMS_PER_ARTIST = 8
TRACKS_PER_ALBUM = 12
# Columns of each gold entity, in the order of the rows ``make_catalog``
# expects (the order of the declared entity schemas).
GOLD_COLUMNS = {
    "artist": ("artist_id", "artist_name", "followers", "popularity"),
    "album": ("album_id", "album_name", "release_date", "type", "total_tracks", "album_group"),
    "album_artists": ("artist_id", "artist_name", "album_id", "album_name"),
    "track": ("track_id", "track_name", "track_number", "duration_ms"),
    "track_artists": ("artist_id", "artist_name", "track_id", "track_name"),
}


def make_catalog(seed: int, n_artists: int):
    """A ``FakeSpotifyClient`` over ``n_artists`` artists with
    ``ALBUMS_PER_ARTIST`` albums each; about half of the albums also
    list a second artist (and are fetched through both), every album has
    ``TRACKS_PER_ALBUM`` tracks credited to the album's artists.

    Returns ``(client, artist_ids, expected)`` where ``expected`` maps
    each ETL entity to the sorted rows (tuples in ``GOLD_COLUMNS``
    order, None for a missing value) its gold table must hold after one
    daily run over the whole pool.
    """
    from spotify_data_pipeline_spark.sources.rest import FakeSpotifyClient

    rng = np.random.default_rng(seed)
    client = FakeSpotifyClient()
    artist_ids = [f"ar{seed % 1000:03d}x{i:06d}" for i in range(n_artists)]
    names = {a: f"Artist {a[-6:]}" for a in artist_ids}
    popularity = rng.integers(0, 101, n_artists)
    followers = rng.integers(0, 5_000_000, n_artists)
    no_followers = rng.random(n_artists) < 0.05
    for i, a in enumerate(artist_ids):
        rec = {"id": a, "name": names[a], "popularity": int(popularity[i])}
        if not no_followers[i]:
            rec["followers"] = {"total": int(followers[i])}
        client.artists_by_id[a] = rec

    shared = rng.random(n_artists * ALBUMS_PER_ARTIST) < 0.5
    partner = rng.integers(1, n_artists, n_artists * ALBUMS_PER_ARTIST) if n_artists > 1 else None
    expected: dict[str, list] = {k: [] for k in GOLD_COLUMNS}
    expected["artist"] = [
        (a, names[a], None if no_followers[i] else int(followers[i]), int(popularity[i]))
        for i, a in enumerate(artist_ids)
    ]
    for a in artist_ids:
        client.albums_by_artist[a] = []
    for k in range(n_artists * ALBUMS_PER_ARTIST):
        owner = k // ALBUMS_PER_ARTIST
        credits = [artist_ids[owner]]
        if shared[k] and partner is not None:
            credits.append(artist_ids[(owner + int(partner[k])) % n_artists])
        credit_objs = [{"id": c, "name": names[c]} for c in credits]
        album_id, album_name = f"al{k:07d}", f"Album {k}"
        release_date = ["2019", "2021-06", "2023-03-15"][k % 3]
        album = {
            "id": album_id,
            "name": album_name,
            "release_date": release_date,
            "type": "album",
            "total_tracks": TRACKS_PER_ALBUM,
            "album_group": "album",
            "artists": credit_objs,
        }
        for c in credits:
            client.albums_by_artist[c].append(album)
        expected["album"].append((album_id, album_name, release_date, "album", TRACKS_PER_ALBUM, "album"))
        expected["album_artists"].extend((c, names[c], album_id, album_name) for c in credits)
        tracks = []
        for t in range(TRACKS_PER_ALBUM):
            track_id, track_name = f"tr{k:07d}{t:02d}", f"Track {k}.{t}"
            duration_ms = int(rng.integers(60_000, 420_000))
            tracks.append({
                "id": track_id,
                "name": track_name,
                "track_number": t + 1,
                "duration_ms": duration_ms,
                "artists": credit_objs,
            })
            expected["track"].append((track_id, track_name, t + 1, duration_ms))
            expected["track_artists"].extend((c, names[c], track_id, track_name) for c in credits)
        client.tracks_by_album[album_id] = tracks
    return client, artist_ids, {k: sorted(v) for k, v in expected.items()}
