"""Seeded input generators with known answers.

Everything here is a pure function of a ``numpy.random.Generator`` (or a
seed), so the same seed gives byte-identical inputs. No Spark: the
generators write plain files that the engine then reads through its own
public sources.

- :class:`RssRounds`  — ``file://`` RSS feeds for the ETL rounds, with a
  fixed new-item share, planted in-feed syndicated copies (same
  ``(id_source, id_date, title)`` key, different link/description),
  publication dates inside the generated date dimension, and an optional
  history of earlier items committed before the first round.
- :class:`DocStream`  — JSON micro-batch files for the streaming ingest,
  every row labelled ``fresh``/``exact``/``near``. Fresh texts are
  synthesized from the seed; exact copies repeat an earlier fresh text;
  near copies edit one token of an earlier fresh text.
- :func:`write_corpus` — an sf-shaped parquet corpus (the TPC-H-like
  star schema plus ``events``, ``documents`` and ``embeddings``) with the
  column types and value domains of the engine's test corpus.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from xml.sax.saxutils import escape

import numpy as np

# --------------------------------------------------------------------------
# RSS rounds
# --------------------------------------------------------------------------

#: First hour of the generated date dimension; rounds publish one news
#: day each, starting here.
DIM_START = dt.datetime(2023, 1, 1)
DIM_DAYS = 365
_WEEKDAYS = ("Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun")
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
           "Oct", "Nov", "Dec")
_TZ = ("+0100", "GMT", "-0500", "+0000", "UTC")
#: Country keywords from the engine's reference dictionary fixture (the
#: lowercase ones, so the tagger has real votes to count) and filler.
_KEYWORDS = ("germany", "berlin", "europe", "italy", "milan", "spain",
             "madrid", "uk", "london", "usa", "washington", "japan", "tokyo")
_FILLER = ("summit", "markets", "talks", "report", "update", "vote", "trade",
           "storm", "energy", "league", "court", "budget", "strike", "film",
           "science", "health", "border", "election", "festival", "rail")


def date_key(ts: dt.datetime) -> int:
    """The engine's hour-grain surrogate key, yyyymmddhh."""
    return ts.year * 1000000 + ts.month * 10000 + ts.day * 100 + ts.hour


def _rfc822(ts: dt.datetime, tz: str, two_digit_year: bool) -> str:
    year = f"{ts.year % 100:02d}" if two_digit_year else str(ts.year)
    return (f"{_WEEKDAYS[ts.weekday()]}, {ts.day:02d} {_MONTHS[ts.month - 1]} "
            f"{year} {ts.hour:02d}:{ts.minute:02d}:{ts.second:02d} {tz}")


class RssRounds:
    """Feeds for successive ETL rounds and the answers they imply.

    Round ``r`` serves ``items_per_feed`` items on each of ``feeds``
    feeds. Each round carries ``new_share`` new items per feed and
    re-serves earlier items of the same feed (history included, see
    :meth:`write_history`) for the rest; without history, round 0 is
    all new. A ``copy_share`` of the new items are syndicated copies of
    another new item of the same feed and round: same key, different
    link and description — they pass the anti-join append together and
    only the keep-first rewrite removes them. New items of round ``r``
    are dated on news day ``r`` (mod the dimension's length).
    """

    def __init__(self, seed: int, feed_dir: str, feeds: int,
                 items_per_feed: int, new_share: float = 0.2,
                 copy_share: float = 0.1):
        self.rng = np.random.default_rng([seed, 1])
        self.feed_dir = feed_dir
        self.feeds = feeds
        self.items_per_feed = items_per_feed
        self.new_share = new_share
        self.copy_share = copy_share
        self.round = 0
        self._serial = 0
        #: feed id → every item it has served (copies included)
        self.pool: dict[int, list[dict]] = {f: [] for f in self.source_ids()}
        #: distinct keys served so far, and their count per news day
        self.keys: set[tuple[int, int, str]] = set()
        self.keys_per_day: dict[int, int] = {}
        os.makedirs(feed_dir, exist_ok=True)

    def source_ids(self) -> list[int]:
        return list(range(1, self.feeds + 1))

    def feed_url(self, source_id: int) -> str:
        return "file://" + os.path.abspath(
            os.path.join(self.feed_dir, f"feed-{source_id:04d}.xml"))

    def _new_item(self, source_id: int, day: int) -> dict:
        rng = self.rng
        self._serial += 1
        ts = DIM_START + dt.timedelta(
            days=day, hours=int(rng.integers(0, 24)),
            minutes=int(rng.integers(0, 60)), seconds=int(rng.integers(0, 60)))
        words = list(rng.choice(_FILLER, size=3)) + (
            list(rng.choice(_KEYWORDS, size=int(rng.integers(0, 3)))))
        rng.shuffle(words)
        # a serial token keeps titles unique, so the generator decides
        # exactly which rows share a key
        title = " ".join(words) + f" n{self._serial}"
        desc = " ".join(rng.choice(_FILLER + _KEYWORDS, size=8))
        media_kind = int(rng.integers(0, 3))
        return {
            "key": (source_id, date_key(ts), title),
            "title": title,
            "link": f"https://outlet{source_id}.example/a/{self._serial}",
            "description": desc,
            "date": _rfc822(ts, _TZ[int(rng.integers(0, len(_TZ)))],
                            two_digit_year=bool(rng.random() < 0.1)),
            "media": media_kind,
            "day": day,
        }

    def next_round(self) -> dict:
        """Write this round's feed files; return the round's answers:
        ``items`` served, ``new_rows`` the anti-join append must add
        (new items, copies included), ``distinct_keys`` the table must
        hold after the rewrite, and ``newest_day`` with the number of
        keys dated on it."""
        rng = self.rng
        r = self.round
        day = r % DIM_DAYS
        # with nothing served yet (no history), the first round is all new
        n_new = self.items_per_feed if not any(self.pool.values()) else max(
            1, round(self.items_per_feed * self.new_share))
        n_copies = int(round(n_new * self.copy_share))
        new_rows = 0
        for sid in self.source_ids():
            fresh = [self._new_item(sid, day) for _ in range(n_new - n_copies)]
            copies = []
            for j in rng.integers(0, len(fresh), size=n_copies):
                src = fresh[int(j)]
                self._serial += 1
                copies.append(dict(
                    src,
                    link=f"https://wire{sid}.example/c/{self._serial}",
                    description=src["description"] + " syndicated"))
            served_new = fresh + copies
            old = self.pool[sid]
            n_old = self.items_per_feed - len(served_new)
            reserved = ([old[int(i)] for i in rng.choice(
                len(old), size=min(n_old, len(old)), replace=False)]
                if old and n_old > 0 else [])
            items = served_new + reserved
            rng.shuffle(items)
            self._write_feed(sid, items)
            for it in served_new:
                if it["key"] not in self.keys:
                    self.keys.add(it["key"])
                    self.keys_per_day[day] = self.keys_per_day.get(day, 0) + 1
            self.pool[sid].extend(served_new)
            new_rows += len(served_new)
        self.round += 1
        return {
            "round": r,
            "items": self.feeds * self.items_per_feed,
            "new_rows": new_rows,
            "distinct_keys": len(self.keys),
            "newest_day": day,
            "newest_day_keys": self.keys_per_day.get(day, 0),
        }

    def write_history(self, path: str, n_rows: int) -> None:
        """Write ``n_rows`` items served before the first round as one
        parquet file of fact rows, in the news table's column order and
        types. They join the feeds' pools, so every round re-serves
        history too, and they are dated on the second half of the date
        dimension, so no round (which dates its new items on day ``r``)
        shares a day with them."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = self.rng
        half = DIM_DAYS // 2
        rows = []
        for j in range(n_rows):
            sid = 1 + j % self.feeds
            it = self._new_item(sid, half + int(rng.integers(0, DIM_DAYS - half)))
            self.keys.add(it["key"])
            self.keys_per_day[it["day"]] = self.keys_per_day.get(it["day"], 0) + 1
            self.pool[sid].append(it)
            rows.append(it)
        i32 = pa.int32()
        pq.write_table(pa.table({
            # the country ids of the engine's reference dictionary fixture
            "id_country": pa.array(rng.choice((2, 3, 7, 44, 45, 46), n_rows), i32),
            "id_source": pa.array([r["key"][0] for r in rows], i32),
            "id_date": pa.array([r["key"][1] for r in rows], i32),
            "title": [r["title"] for r in rows],
            "link": [r["link"] for r in rows],
            "description": [r["description"] for r in rows],
            "media": pa.array([f"https://img.example/{r['key'][0]}/h.jpg"
                               if r["media"] == 0 else None for r in rows],
                              pa.string()),
        }), path)

    def _write_feed(self, sid: int, items: list[dict]) -> None:
        out = ['<?xml version="1.0" encoding="UTF-8"?>',
               '<rss version="2.0" xmlns:media="http://search.yahoo.com/mrss/">',
               "<channel>", f"<title>outlet {sid}</title>"]
        for it in items:
            media = ""
            if it["media"] == 0:
                media = f'<media:content url="https://img.example/{sid}/{escape(it["title"])}.jpg"/>'
            elif it["media"] == 1:
                media = '<enclosure url="https://img.example/e.jpg" type="image/jpeg"/>'
            out.append(
                f"<item><title>{escape(it['title'])}</title>"
                f"<link>{escape(it['link'])}</link>"
                f"<description>{escape(it['description'])}</description>"
                f"<pubDate>{it['date']}</pubDate>{media}</item>")
        out.append("</channel></rss>")
        path = os.path.join(self.feed_dir, f"feed-{sid:04d}.xml")
        tmp = path + ".tmp"
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write("\n".join(out))
        os.replace(tmp, path)


def day_key_range(day: int) -> tuple[int, int]:
    """Inclusive yyyymmddhh bounds of news day ``day``."""
    d = DIM_START + dt.timedelta(days=day)
    lo = date_key(d)
    return lo, lo + 23


# --------------------------------------------------------------------------
# Document stream
# --------------------------------------------------------------------------

def _vocabulary(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(3, 9)))))
    return sorted(words)


class DocStream:
    """Micro-batch files of labelled documents.

    Batch 0 is all fresh. Later batches mix ``fresh_share`` fresh docs,
    ``exact_share`` exact copies and the rest one-token-edited near
    copies, both copy kinds drawn from fresh docs of EARLIER batches (so
    the survivor of each duplicate group is never in doubt). Every row
    gets a new ``doc_id``; fresh texts draw 40–80 tokens from a seeded
    6,000-word vocabulary, so two fresh docs share almost no 3-token
    shingles.
    """

    def __init__(self, seed: int, src_dir: str, batch_docs: int,
                 fresh_share: float = 0.6, exact_share: float = 0.2):
        self.rng = np.random.default_rng([seed, 2])
        self.src_dir = src_dir
        self.batch_docs = batch_docs
        self.fresh_share = fresh_share
        self.exact_share = exact_share
        self.vocab = _vocabulary(self.rng, 6000)
        # Zipf-like token weights: a realistic skew without collisions
        w = 1.0 / np.arange(1, len(self.vocab) + 1) ** 0.8
        self.weights = w / w.sum()
        self.batch = 0
        self.next_id = 1
        self.fresh_texts: list[tuple[int, list[str]]] = []
        #: doc_id → label for every row written
        self.labels: dict[int, str] = {}
        os.makedirs(src_dir, exist_ok=True)

    def _fresh_tokens(self) -> list[str]:
        n = int(self.rng.integers(40, 81))
        idx = self.rng.choice(len(self.vocab), size=n, p=self.weights)
        return [self.vocab[i] for i in idx]

    def next_batch(self) -> dict:
        """Write the next batch file; return its label counts."""
        rng = self.rng
        b = self.batch
        if b == 0:
            kinds = ["fresh"] * self.batch_docs
        else:
            n_fresh = round(self.batch_docs * self.fresh_share)
            n_exact = round(self.batch_docs * self.exact_share)
            kinds = (["fresh"] * n_fresh + ["exact"] * n_exact
                     + ["near"] * (self.batch_docs - n_fresh - n_exact))
            rng.shuffle(kinds)
        earlier = len(self.fresh_texts)
        rows, new_fresh = [], []
        for kind in kinds:
            doc_id = self.next_id
            self.next_id += 1
            if kind == "fresh":
                toks = self._fresh_tokens()
                new_fresh.append((doc_id, toks))
            else:
                _, base = self.fresh_texts[int(rng.integers(0, earlier))]
                toks = list(base)
                if kind == "near":
                    pos = int(rng.integers(1, len(toks) - 1))
                    repl = toks[pos]
                    while repl == toks[pos]:
                        repl = self.vocab[int(rng.integers(0, len(self.vocab)))]
                    toks[pos] = repl
            self.labels[doc_id] = kind
            rows.append({
                "doc_id": doc_id,
                "url": f"https://site{doc_id % 37}.example/p/{doc_id}",
                "text": " ".join(toks),
                "batch": b,
            })
        self.fresh_texts.extend(new_fresh)
        path = os.path.join(self.src_dir, f"batch-{b:05d}.json")
        tmp = os.path.join(self.src_dir, f".batch-{b:05d}.json.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            for row in rows:
                fh.write(json.dumps(row) + "\n")
        os.replace(tmp, path)
        self.batch += 1
        return {
            "batch": b,
            "rows": len(rows),
            "ids": [r["doc_id"] for r in rows],
            "fresh": kinds.count("fresh"),
            "exact": kinds.count("exact"),
            "near": kinds.count("near"),
        }


# --------------------------------------------------------------------------
# sf-shaped parquet corpus
# --------------------------------------------------------------------------

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
_PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold", "large")
_PART_NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate",
              "gizmo")
_PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
_LANGS = ("en", "es", "zh", "de", "fr")
_DOC_VOCAB = ("join", "hash", "row", "batch", "scan", "column", "customer",
              "filter", "small", "slow", "merge", "order", "vector", "line",
              "table", "data", "agg", "value", "key", "stream", "window", "a",
              "spark", "part", "group", "big", "sort", "query", "fast", "the")


def _days(rng, n, start: dt.date, end: dt.date):
    span = (end - start).days
    base = np.datetime64(start.isoformat(), "us")
    return base + rng.integers(0, span + 1, size=n) * np.timedelta64(1, "D")


def write_corpus(seed: int, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write the ten corpus tables as one parquet file each; return the
    row count per table. Row counts scale with ``sf`` like the engine's
    test corpus (lineitem = 6,000,000·sf); dims stay fixed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc = max(500, int(50_000 * sf))
    n_emb = 500

    def r2(x):
        return np.round(x, 2)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": r2(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": r2(rng.uniform(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_PART_ADJ, n_part),
                                             rng.choice(_PART_NOUN, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": r2(rng.uniform(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(_days(rng, n_ord, dt.date(1995, 1, 1),
                                      dt.date(2001, 8, 1)), pa.timestamp("us")),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": r2(rng.uniform(900.0, 105000.0, n_li)),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_li),
        "l_linestatus": rng.choice(("F", "O"), n_li),
        "l_shipdate": pa.array(_days(rng, n_li, dt.date(1995, 1, 2),
                                     dt.date(2001, 11, 4)), pa.timestamp("us"))})
    ev_us = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                       + ev_us.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": r2(rng.uniform(0.01, 490.02, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.05:
            # planted near copy of an earlier doc, as in the test corpus
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_DOC_VOCAB,
                                             int(rng.integers(10, 100)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=(0.44, 0.14, 0.14, 0.14, 0.14)),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(size=(10, 64))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    vecs = 0.15 * centroids[labels] + rng.normal(size=(n_emb, 64)) / 8.0
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
