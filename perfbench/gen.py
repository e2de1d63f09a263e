#!/usr/bin/env python3
"""Seeded input generators for the benchmark, with the outputs each input implies.

Three generators, all pure functions of their seed:

* ``catalog(dir)``: the star-schema + events + documents + embeddings tables
  the ``SparkEntry.queries`` catalog reads, at ``CATALOG_SF``. The catalog
  mixes draw only their query ORDER from the workload seed, so these tables
  come from the fixed ``CATALOG_SEED`` and the recorded fingerprints in
  ``expected_catalog.json`` stay valid for every run.
* ``bulk_raw(path, seed)``: one raw Spotify extraction document (the shape
  ``SpotifyClient.extractFullDataset`` writes) with seeded rates of null
  audio features, albums without artists and artists without genres.
* ``events(dir, seed)``: time-ordered event files for the streaming
  workload, with re-delivered duplicates next to their originals.

Each generator returns the counts its input implies (table rows, event
totals) so the harness can check the engine's outputs against them.

    python3 perfbench/gen.py --selfcheck   # same seed => byte-identical inputs
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CATALOG_SEED = 20240101
CATALOG_SF = 0.01

# Spotify bulk document shape: albums per document and the seeded rates.
BULK_ALBUMS = 1500
NULL_FEATURE_RATE = 0.08
NO_ARTIST_RATE = 0.03
NO_GENRE_RATE = 0.15

# Streaming input: files, events per file, share of re-delivered events.
EVENT_FILES = 48
EVENTS_PER_FILE = 2500
EVENT_USERS = 1500
DUP_RATE = 0.02
EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]

WORDS = ("a the data spark stream batch table row column query scan filter "
         "join hash sort merge group agg key value order part line window "
         "vector customer fast slow big small index shard cache plan stage "
         "task node edge graph token text model").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _rng(seed, stream):
    return np.random.Generator(np.random.PCG64([seed, stream]))


def _write(table, path):
    # one row group, no statistics drift: the bytes depend only on values
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30)


def _ts(days_from, n_days, u):
    base = np.datetime64(days_from, "us")
    return base + (u * n_days * 86400e6).astype("int64").astype("timedelta64[us]")


def catalog(out_dir, sf=CATALOG_SF, seed=CATALOG_SEED):
    """Write the ten catalog tables under ``out_dir``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_ord = int(150_000 * sf), int(1_500_000 * sf)
    n_part, n_supp = int(200_000 * sf), max(10, int(10_000 * sf))
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_events = int(1_000_000 * sf)
    tables = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp).astype("int32"),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)})

    r = _rng(seed, 2)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": r.integers(0, 25, n_cust).astype("int32"),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segs[r.integers(0, 5, n_cust)]})

    r = _rng(seed, 3)
    adj = np.array(["large", "hot", "blue", "red", "small", "green", "dark", "light"])
    noun = np.array(["ring", "bolt", "nut", "gear", "pipe", "valve", "screw"])
    ptype = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    names = np.char.add(np.char.add(adj[r.integers(0, 8, n_part)], " "),
                        noun[r.integers(0, 7, n_part)])
    tables["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype="int64"),
        "p_name": names,
        "p_brand": np.char.add("Brand#", r.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[r.integers(0, 6, n_part)],
        "p_size": r.integers(1, 51, n_part).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2)})

    r = _rng(seed, 4)
    odate = _ts("1995-01-01", 2404, r.random(n_ord)).astype("datetime64[D]").astype("datetime64[us]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype="int64"),
        "o_custkey": r.integers(0, n_cust, n_ord).astype("int64"),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, n_ord)],
        "o_totalprice": np.round(r.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": prio[r.integers(0, 5, n_ord)]})

    r = _rng(seed, 5)
    n_li = 4 * n_ord
    okey = np.sort(r.integers(0, n_ord, n_li)).astype("int64")
    first = np.r_[True, okey[1:] != okey[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_li), 0))
    lnum = (np.arange(n_li) - run_start + 1).astype("int32")
    qty = r.integers(1, 51, n_li).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": okey,
        "l_partkey": r.integers(0, n_part, n_li).astype("int64"),
        "l_suppkey": r.integers(0, n_supp, n_li).astype("int64"),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(r.uniform(900, 105000, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", 2497, r.random(n_li)).astype("datetime64[D]").astype("datetime64[us]")})

    tables["events"] = _event_table(_rng(seed, 6), n_events, 0, "2024-01-01", 30, 1500, 0.0)[0]

    r = _rng(seed, 7)
    texts = []
    for i in range(n_docs):
        if i > 20 and r.random() < 0.06:  # near-duplicate of an earlier doc
            words = texts[int(r.integers(0, i))].split()
            for _ in range(int(r.integers(0, 3))):
                words[int(r.integers(0, len(words)))] = WORDS[int(r.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            n = int(r.integers(8, 95))
            texts.append(" ".join(WORDS[j] for j in r.integers(0, len(WORDS), n)))
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype="int64"),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, n_docs, p=LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})

    r = _rng(seed, 8)
    centers = r.normal(0, 0.12, (10, 64))
    labels = r.integers(0, 10, n_emb)
    emb = (centers[labels] + r.normal(0, 0.08, (n_emb, 64))).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype="int64"),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": labels.astype("int32")})

    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {k: t.num_rows for k, t in tables.items()}


def _event_table(r, n, first_id, day0, days, users, dup_rate, t0=0.0, t1=1.0):
    """n events, uniform in [t0, t1) of the ``days`` window, sorted by time."""
    u = np.sort(r.uniform(t0, t1, n))
    vals = np.round(r.exponential(50.0, n), 2)
    cols = {
        "event_id": np.arange(first_id, first_id + n, dtype="int64"),
        "ts": _ts(day0, days, u),
        "user_id": r.integers(0, users, n).astype("int64"),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, n)],
        "value": vals,
        "props": np.char.add(np.char.add('{"k": ', r.integers(0, 100, n).astype(str)), "}"),
    }
    if dup_rate > 0:  # re-deliveries: the same row again, right after it
        rep = np.where(r.random(n) < dup_rate, 2, 1)
        cols = {k: np.repeat(v, rep) for k, v in cols.items()}
    return pa.table(cols), n


def events(out_dir, seed, files=EVENT_FILES, per_file=EVENTS_PER_FILE):
    """Write ``files`` time-ordered event files; return per-file totals."""
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, 100)
    out = {"files": [], "rows_per_file": [], "distinct_per_file": [], "cents_per_file": []}
    for i in range(files):
        t, n = _event_table(r, per_file, i * per_file, "2024-03-01", 2,
                            EVENT_USERS, DUP_RATE, i / files, (i + 1) / files)
        name = f"events-{i:04d}.parquet"
        _write(t, os.path.join(out_dir, name))
        out["files"].append(name)
        out["rows_per_file"].append(t.num_rows)
        out["distinct_per_file"].append(n)
        out["cents_per_file"].append(
            int(np.round(t.column("value").to_numpy() * 100).astype("int64").sum()))
    return out


_ID_CHARS = "0123456789abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"


def bulk_raw(path, seed, n_albums=BULK_ALBUMS):
    """Write one pretty-printed raw extraction document; return row counts."""
    r = random.Random(seed * 1_000_003 + 200)
    rid = lambda: "".join(r.choice(_ID_CHARS) for _ in range(14))  # noqa: E731
    genres = ["pop", "rock", "latin", "indie", "jazz", "k-pop", "house", "soul"]
    markets = ["US", "ES", "MX", "AR", "DE", "FR", "GB", "JP", "BR", "CL"]
    releases, features, n_tracks, n_feat = [], [], 0, 0
    for a in range(n_albums):
        aid = f"al{a:06d}{rid()}"
        artists = [] if r.random() < NO_ARTIST_RATE else [
            {"id": f"ar{r.randrange(5000):05d}", "name": f"Artist {r.randrange(5000)}"}
            for _ in range(r.randrange(1, 3))]
        details = None
        if artists:
            details = {"id": artists[0]["id"], "name": artists[0]["name"],
                       "popularity": r.randrange(101),
                       "genres": [] if r.random() < NO_GENRE_RATE else
                       r.sample(genres, r.randrange(1, 4)),
                       "followers": {"total": r.randrange(10_000_000)}}
        tracks = []
        for t in range(r.randrange(1, 21)):
            tid = f"tr{a:06d}{t:02d}{rid()}"
            tracks.append({
                "id": tid, "name": f"Track {a}-{t}", "track_number": t + 1,
                "duration_ms": r.randrange(90_000, 420_000),
                "explicit": r.random() < 0.2,
                "artists": [{"id": x["id"], "name": x["name"]} for x in artists],
                "external_urls": {"spotify": f"https://open.spotify.com/track/{tid}"}})
            if r.random() < NULL_FEATURE_RATE:
                features.append(None)
            else:
                n_feat += 1
                features.append({"id": tid, "danceability": round(r.random(), 3),
                                 "energy": round(r.random(), 3),
                                 "loudness": round(r.uniform(-30, 0), 3),
                                 "tempo": round(r.uniform(60, 200), 3)})
        n_tracks += len(tracks)
        releases.append({
            "album_id": aid, "album_name": f"Album {a}",
            "album_type": r.choice(["album", "single", "compilation"]),
            "release_date": f"{r.randrange(1990, 2025)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}",
            "total_tracks": len(tracks), "popularity": r.randrange(101),
            "artists": artists, "main_artist_details": details, "tracks": tracks,
            "image_url": f"https://i.scdn.co/image/{aid}",
            "spotify_url": f"https://open.spotify.com/album/{aid}",
            "available_markets": r.sample(markets, r.randrange(1, 6))})
    doc = {"extraction_timestamp": "2024-03-01T00:00:00Z", "releases": releases,
           "audio_features": features, "categories": []}
    with open(path, "w") as f:
        f.write(json.dumps(doc, indent=2))
    return {"albums": n_albums, "tracks": n_tracks, "audio_features": n_feat,
            "categories": 0, "tracks_with_features": n_tracks}


def _digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def selfcheck(work):
    """Generate every input twice per seed; the bytes must be identical and
    two different seeds must differ."""
    ok = True
    for seed in (1, 2):
        digests = []
        for k in range(2):
            d = os.path.join(work, f"s{seed}-{k}")
            ev = events(os.path.join(d, "ev"), seed, files=4, per_file=500)
            raw = bulk_raw(os.path.join(d, "raw.json"), seed, n_albums=200)
            files = [os.path.join(d, "raw.json")] + [
                os.path.join(d, "ev", f) for f in os.listdir(os.path.join(d, "ev"))]
            digests.append((_digest(files), json.dumps([ev, raw], sort_keys=True)))
        same = digests[0] == digests[1]
        ok &= same
        print(f"seed {seed}: inputs {'identical' if same else 'DIFFER'} across generations")
    c1 = catalog(os.path.join(work, "c1"), sf=0.002)
    c2 = catalog(os.path.join(work, "c2"), sf=0.002)
    same = c1 == c2 and _digest([os.path.join(work, "c1", f) for f in os.listdir(os.path.join(work, "c1"))]) == \
        _digest([os.path.join(work, "c2", f) for f in os.listdir(os.path.join(work, "c2"))])
    ok &= same
    print(f"catalog: tables {'identical' if same else 'DIFFER'} across generations")
    d1 = _digest([os.path.join(work, "s1-0", "raw.json")])
    d2 = _digest([os.path.join(work, "s2-0", "raw.json")])
    ok &= d1 != d2
    print(f"seeds 1 and 2: {'differ' if d1 != d2 else 'IDENTICAL'}")
    return ok


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--selfcheck", action="store_true")
    args = ap.parse_args()
    if args.selfcheck:
        tmp = tempfile.mkdtemp(prefix="selfcheck-", dir=os.path.dirname(os.path.abspath(__file__)))
        try:
            sys.exit(0 if selfcheck(tmp) else 1)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    ap.print_help()
