"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from ``--seed``; the
same seed gives byte-identical inputs.

* :func:`chart_feed` makes a multi-day Last.fm ``geo.getTopTracks`` feed:
  one JSON document per (day, shard), shaped like the live API response.
* :func:`write_tables` writes the TPC-H-ish tables (plus ``events``,
  ``documents`` and ``embeddings``) that the registry queries read, with the
  same schemas and value domains as the fixture tables in TESTDATA.md.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

REFERENCE_COUNTRIES = ["Russian Federation", "United States", "Kazakhstan"]


@dataclass(frozen=True)
class FeedShape:
    """The input properties the ETL path's behaviour depends on.

    Defaults follow the reference's data model as FIXTURES.md (A1, A2, A5)
    records it where it gives a value: three countries, charts of 100, a few
    hundred Zipf-distributed artists, ~5% zero durations, listeners
    10^3-10^7. The rest are synthetic: the reference publishes no chart
    history, so the skew exponent, the day-over-day overlap and the
    duplicate rates are set so that edge cases 1, 3, 4, 5 and 7 of
    FIXTURES.md A5 occur within a few days. Cases 2 and 6 (a date with only
    zero durations, an empty chart) are left to the test suite.
    """

    shards: int = 3  # countries per day; each is one API document
    chart_len: int = 100  # the API's limit=100
    artists: int = 400
    zipf_s: float = 1.2  # artist popularity skew (synthetic)
    songs_per_artist: int = 12
    overlap: float = 0.7  # share of a chart carried over from the previous day (synthetic)
    zero_duration: float = 0.05  # tracks reported with duration "0"
    dup_rank_docs: float = 0.25  # documents with one repeated @attr.rank (synthetic)
    alt_duration: float = 0.01  # a known song reported with another duration (synthetic)


def shard_names(n: int) -> list[str]:
    """The reference's three countries, then synthetic shards. Names carry
    spaces so the partition-directory encoding is exercised."""
    extra = [f"Shard {i:03d} Region" for i in range(max(0, n - len(REFERENCE_COUNTRIES)))]
    return (REFERENCE_COUNTRIES + extra)[:n]


def chart_feed(seed: int, first_day: dt.date, days: int, shape: FeedShape) -> list[tuple[str, dict[str, dict]]]:
    """``[(iso_date, {shard: document})]`` for ``days`` consecutive days.

    Each shard's chart keeps ``overlap`` of the previous day's songs
    (re-ranked) and draws the rest by Zipf-skewed artist popularity, so dimension
    lookups on later days mostly hit existing keys.
    """
    rng = np.random.default_rng(seed)
    weights = 1.0 / np.arange(1, shape.artists + 1) ** shape.zipf_s
    weights /= weights.sum()
    artist_of = rng.permutation(shape.artists)  # popularity rank -> artist id
    n_songs = shape.artists * shape.songs_per_artist
    durations = rng.integers(60, 601, size=n_songs)
    base_listeners = (10 ** rng.uniform(3, 7, size=n_songs)).astype(np.int64)

    def draw_songs(k: int, exclude: set[int]) -> list[int]:
        out: list[int] = []
        while len(out) < k:
            arts = artist_of[rng.choice(shape.artists, size=2 * k, p=weights)]
            songs = arts * shape.songs_per_artist + rng.integers(0, shape.songs_per_artist, size=2 * k)
            for s in songs.tolist():
                if s not in exclude:
                    exclude.add(s)
                    out.append(s)
                    if len(out) == k:
                        break
        return out

    shards = shard_names(shape.shards)
    previous: dict[str, list[int]] = {}
    feed = []
    for d in range(days):
        day = (first_day + dt.timedelta(days=d)).isoformat()
        docs = {}
        for shard in shards:
            keep: list[int] = []
            if shard in previous:
                prev = previous[shard]
                n_keep = int(round(shape.overlap * shape.chart_len))
                keep = [prev[i] for i in sorted(rng.choice(len(prev), size=n_keep, replace=False))]
            chart = keep + draw_songs(shape.chart_len - len(keep), set(keep))
            chart = [chart[i] for i in rng.permutation(len(chart))]
            previous[shard] = chart
            docs[shard] = _document(rng, shard, chart, durations, base_listeners, shape)
        feed.append((day, docs))
    return feed


def _document(rng, shard, chart, durations, base_listeners, shape: FeedShape) -> dict:
    listeners = base_listeners[chart] * rng.uniform(0.5, 1.5, size=len(chart))
    order = np.argsort(-listeners, kind="stable")
    tracks = []
    for rank, i in enumerate(order.tolist(), start=1):
        song = chart[i]
        dur = int(durations[song])
        u = rng.random()
        if u < shape.zero_duration:
            dur = 0
        elif u < shape.zero_duration + shape.alt_duration:
            dur = min(600, dur + 7)
        tracks.append(
            {
                "name": f"Song {song:05d}",
                "artist": {"name": f"Artist {song // shape.songs_per_artist:04d}"},
                "duration": str(dur),
                "listeners": str(int(listeners[i])),
                "@attr": {"rank": str(rank)},
            }
        )
    if rng.random() < shape.dup_rank_docs:
        # A conflict-key duplicate inside one chart: a second track claiming
        # an already-used rank. First-writer-wins must keep exactly one.
        victim = tracks[int(rng.integers(len(tracks)))]
        tracks.append(dict(victim, name=victim["name"] + " (Live)"))
    return {
        "tracks": {
            "track": tracks,
            "@attr": {
                "country": shard,
                "page": "1",
                "perPage": str(shape.chart_len),
                "totalPages": "1",
                "total": str(len(tracks)),
            },
        }
    }


# ---------------------------------------------------------------------------
# Registry input tables
# ---------------------------------------------------------------------------

_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()
_ADJ = "small red blue hot old cold big green".split()
_NOUN = "ring widget bolt gear gizmo nut spring valve".split()


def _midnights(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def write_tables(seed: int, out_dir: str, scale: float) -> None:
    """Write ``<out_dir>/<table>.parquet`` for every registry input table.
    Row counts follow the fixture tables' scale-factor ratios (lineitem is
    6M × ``scale``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_li, n_ev = int(1_500_000 * scale), int(6_000_000 * scale), int(1_000_000 * scale)
    n_docs = n_emb = 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def put(name: str, cols: dict, types: dict) -> None:
        table = pa.table({c: pa.array(v, type=types[c]) for c, v in cols.items()})
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))

    os.makedirs(out_dir, exist_ok=True)
    put("region", {"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        {"r_regionkey": i32, "r_name": s})
    put("nation", {"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25) % 5},
        {"n_nationkey": i32, "n_name": s, "n_regionkey": i32})
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {"c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": rng.integers(0, 25, n_cust), "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                     "c_mktsegment": segments[rng.integers(0, 5, n_cust)]},
        {"c_custkey": i64, "c_name": s, "c_nationkey": i32, "c_acctbal": f64, "c_mktsegment": s})
    put("supplier", {"s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": rng.integers(0, 25, n_supp), "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
        {"s_suppkey": i64, "s_name": s, "s_nationkey": i32, "s_acctbal": f64})
    types_ = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    put("part", {"p_partkey": np.arange(n_part),
                 "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in rng.integers(0, 8, (n_part, 2))],
                 "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                 "p_type": types_[rng.integers(0, 6, n_part)], "p_size": rng.integers(1, 51, n_part),
                 "p_retailprice": np.round(rng.uniform(900.0, 999.9, n_part), 1)},
        {"p_partkey": i64, "p_name": s, "p_brand": s, "p_type": s, "p_size": i32, "p_retailprice": f64})
    status = np.array(["F", "O", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {"o_orderkey": np.arange(n_ord), "o_custkey": rng.integers(0, n_cust, n_ord),
                   "o_orderstatus": status[rng.integers(0, 3, n_ord)],
                   "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                   "o_orderdate": _midnights(rng, n_ord, "1995-01-01", "2001-08-01"),
                   "o_orderpriority": prio[rng.integers(0, 5, n_ord)]},
        {"o_orderkey": i64, "o_custkey": i64, "o_orderstatus": s, "o_totalprice": f64, "o_orderdate": ts,
         "o_orderpriority": s})
    put("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_li), "l_partkey": rng.integers(0, n_part, n_li),
                     "l_suppkey": rng.integers(0, n_supp, n_li), "l_linenumber": rng.integers(1, 8, n_li),
                     "l_quantity": rng.integers(1, 51, n_li).astype(float),
                     "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0, "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
                     "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
                     "l_shipdate": _midnights(rng, n_li, "1995-01-02", "2001-11-04")},
        {"l_orderkey": i64, "l_partkey": i64, "l_suppkey": i64, "l_linenumber": i32, "l_quantity": f64,
         "l_extendedprice": f64, "l_discount": f64, "l_tax": f64, "l_returnflag": s, "l_linestatus": s,
         "l_shipdate": ts})
    # Events: strictly increasing timestamps over January 2024, so the
    # time-sliced folds see every slice populated.
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, size=n_ev, replace=False))
    kinds = np.array(["click", "error", "purchase", "signup", "view"])
    put("events", {"event_id": np.arange(n_ev),
                   "ts": (np.datetime64("2024-01-01T00:00:00", "us") + offs.astype("timedelta64[us]")),
                   "user_id": rng.integers(0, max(10, n_cust // 10), n_ev),
                   "event_type": kinds[rng.integers(0, 5, n_ev)], "value": _money(rng, 0.01, 490.02, n_ev),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
        {"event_id": i64, "ts": ts, "user_id": i64, "event_type": s, "value": f64, "props": s})
    # Documents: random word strings over a small vocabulary, with 15% near
    # copies of an earlier original of 30+ words whose last word is
    # replaced. Such a copy has 3-shingle Jaccard >= 0.93 with its original
    # and its siblings, where MinHash-LSH recall is ~1, so the exact-Jaccard
    # oracle and the LSH operators agree; unrelated documents share almost
    # no shingles.
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n_docs):
        if len(originals) > 10 and rng.random() < 0.15:
            words = texts[originals[int(rng.integers(len(originals)))]].split()
            words[-1] = _VOCAB[int(rng.integers(len(_VOCAB)))]
        else:
            words = [_VOCAB[k] for k in rng.integers(0, len(_VOCAB), size=int(rng.integers(10, 100)))]
            if len(words) >= 30:
                originals.append(i)
        texts.append(" ".join(words))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    put("documents", {"doc_id": np.arange(n_docs), "text": texts, "lang": langs[rng.integers(0, 7, n_docs)],
                      "source": [f"src{i % 20}" for i in range(n_docs)], "n_chars": [len(t) for t in texts]},
        {"doc_id": i64, "text": s, "lang": s, "source": s, "n_chars": i64})
    # Embeddings: unit vectors around ten label centroids.
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    vecs = centroids[labels] * 0.35 + rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", {"vec_id": np.arange(n_emb), "embedding": list(vecs), "label": labels},
        {"vec_id": i64, "embedding": pa.list_(pa.float32()), "label": i32})
