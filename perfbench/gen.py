"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed gives
byte-identical files, which `run.py` checks by generating three times.

- `gdax_log` writes a GDAX websocket frame log (one JSON text frame per
  line): one `snapshot` per product, then `l2update` and `match` frames.
  Product activity is Zipf-skewed, books are deep and spread over a wide
  price range, and trade ids are contiguous per product unless
  `gap_every` asks for gaps. Skipped trades go to a history file, one
  JSON object per line, which the benchmark's REST history server serves.
- `tables` writes the ten parquet tables the batch operators read
  (TPC-H-like star schema, `events`, `documents`, `embeddings`), with the
  schemas of the repository's test data.
"""
import bisect
import datetime
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _px(ticks):
    return "%d.%02d" % (ticks // 100, ticks % 100)


def _size(rng):
    return "%d.%04d" % (rng.randrange(0, 40), rng.randrange(1, 10000))


class _Book:
    """Generator-side book: the live price ticks of each side, kept sorted
    ascending, so deletes hit real levels and the depth stays near its
    target. The best bid is the last tick of `bids`, the best ask the
    first of `asks`."""

    def __init__(self, rng, mid, depth, spread):
        self.rng, self.mid, self.depth, self.spread = rng, mid, depth, spread
        bids, asks = set(), set()
        while len(bids) < depth:
            bids.add(mid - 1 - rng.randrange(spread))
        while len(asks) < depth:
            asks.add(mid + 1 + rng.randrange(spread))
        self.bids, self.asks = sorted(bids), sorted(asks)

    def best_first(self, buy):
        return self.bids[::-1] if buy else self.asks

    def change(self):
        """One [side, price, size] change: mostly near the top of the book,
        a delete when the side is over its target depth."""
        rng = self.rng
        buy = rng.random() < 0.5
        side = self.bids if buy else self.asks
        near = int(rng.expovariate(1 / 12.0))
        if len(side) > self.depth or (side and rng.random() < 0.25):
            i = min(near, len(side) - 1)
            p = side.pop(len(side) - 1 - i if buy else i)
            size = "0"
        else:
            off = 1 + min(near * 3 + rng.randrange(3), self.spread)
            p = self.mid - off if buy else self.mid + off
            j = bisect.bisect_left(side, p)
            if j == len(side) or side[j] != p:
                side.insert(j, p)
            size = _size(rng)
        return ["buy" if buy else "sell", _px(p), size]


TRADE_FRAC = 0.3  # share of frames that are trades
ZIPF = 1.1  # product activity ~ 1 / rank ** ZIPF


def gdax_log(path, history_path, seed, n_frames, products, depth, spread,
             gap_every=0):
    """Write `n_frames` frames to `path`, and the skipped trades to
    `history_path` when it is given.

    With `gap_every`, the first trade of the most active product after
    frame `gap_every * (k + 1/2)`, for k = 0, 1, ..., skips one trade id:
    the gaps sit at the same places in the log whatever the seed, and the
    product's next trade, a few frames later, reveals each one."""
    rng = random.Random(seed)
    weights = [1.0 / (i + 1) ** ZIPF for i in range(len(products))]
    books, next_id = {}, {}
    base = datetime.datetime(2017, 10, 15, 5, 0, 0)
    history = []
    frames = []
    seq = 0
    next_gap = gap_every // 2 if gap_every else None
    for p in products:
        mid = rng.randrange(5_000, 6_000_000)
        books[p] = _Book(rng, mid, depth, spread)
        next_id[p] = rng.randrange(1, 10_000_000)
        b = books[p]
        seq += 1
        frames.append(json.dumps({
            "type": "snapshot", "product_id": p, "sequence": seq,
            "bids": [[_px(t), _size(rng)] for t in b.best_first(True)],
            "asks": [[_px(t), _size(rng)] for t in b.best_first(False)]},
            separators=(",", ":")))
    while len(frames) < n_frames:
        p = rng.choices(products, weights)[0]
        b = books[p]
        seq += 1
        if rng.random() < TRADE_FRAC:
            if p == products[0] and next_gap is not None \
                    and len(frames) >= next_gap:
                # this id goes to the REST history only
                history.append(_trade(p, next_id[p], b, rng, base, seq))
                next_id[p] += 1
                next_gap += gap_every
            t = _trade(p, next_id[p], b, rng, base, seq)
            next_id[p] += 1
            t.update({"type": "match", "product_id": p, "sequence": seq})
            frames.append(json.dumps(t, separators=(",", ":")))
        else:
            n = 1 + int(rng.expovariate(1.0))
            frames.append(json.dumps({
                "type": "l2update", "product_id": p, "sequence": seq,
                "changes": [b.change() for _ in range(n)]},
                separators=(",", ":")))
    with open(path, "w") as f:
        f.write("\n".join(frames))
        f.write("\n")
    if history_path:
        with open(history_path, "w") as f:
            for h in history:
                f.write(json.dumps(h, separators=(",", ":")) + "\n")


def _trade(product, trade_id, book, rng, base, seq):
    return {
        "trade_id": trade_id, "product_id": product,
        "time": (base + datetime.timedelta(milliseconds=seq))
        .strftime("%Y-%m-%dT%H:%M:%S.%fZ"),
        "price": _px(book.mid + rng.randrange(-5, 6)),
        "size": _size(rng),
        "side": "buy" if rng.random() < 0.5 else "sell"}


WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def tables(out, seed):
    """Write the ten parquet tables under `out` (`<name>.parquet`), of the
    sizes of the repository's smallest test data (about 6,000 line items,
    500 documents, 500 embeddings)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_events = 150, 10, 200, 1500, 1000
    n_docs, n_vecs, dim = 500, 500, 64

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def ts(base, seconds):
        return pa.array((np.datetime64(base, "us")
                         + (seconds * 1e6).astype("timedelta64[us]")),
                        pa.timestamp("us"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    write("region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": ["NATION_%d" % i for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adjectives = ["blue", "red", "small", "hot", "green", "big", "cold", "dark"]
    nouns = ["anvil", "widget", "bolt", "gear", "gizmo", "ring", "spring", "nut"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": ["%s %s" % (rng.choice(adjectives), rng.choice(nouns))
                   for _ in range(n_part)],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "SMALL", "MEDIUM", "PROMO",
                              "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": ts("1995-01-01",
                          rng.integers(0, 2400, n_ord) * 86400.0),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    lines = rng.integers(1, 8, n_ord)
    okeys = np.repeat(np.arange(n_ord), lines)
    n_li = len(okeys)
    write("lineitem", {
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.concatenate(
            [np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(float),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts("1995-01-02", rng.integers(0, 2500, n_li) * 86400.0)})
    write("events", {
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_events))),
        "user_id": pa.array(rng.integers(0, 15, n_events), pa.int64()),
        "event_type": rng.choice(["view", "click", "purchase", "signup",
                                  "error"], n_events),
        "value": money(0.01, 490.0, n_events),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]})
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word changed
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = str(rng.choice(WORDS))
            texts.append(" ".join(words) + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, rng.integers(10, 100))))
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], n_docs),
        "source": ["src%d" % (i % 20) for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    centers = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(0, 0.6, (n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
