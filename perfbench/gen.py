"""Seeded input generators for the graft benchmark.

Every table and stream file is a pure function of (seed, replica), so the
same seed always yields byte-identical inputs. The program under test only
ever sees these generated files.

Table shapes follow the engine's parquet contract (documents, embeddings,
customer); sizes are parameters so a workload can pick its scale.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch".split())
LANGS = np.array(["en", "zh", "de", "es", "fr"])
LANG_P = np.array([0.41, 0.15, 0.14, 0.15, 0.15])


def rng_for(seed, *stream):
    return np.random.default_rng([seed, *stream])


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def customer_table(rng, n_cust):
    keys = np.arange(n_cust, dtype=np.int64)
    return pa.table({
        "c_custkey": pa.array(keys),
        "c_name": pa.array(["Customer#%09d" % k for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(SEGMENTS[rng.integers(0, 5, n_cust)]),
    })


def documents_table(rng, n):
    """Synthetic corpus: ~10 % near-duplicates of an earlier document with
    per-variant token perturbation, a few exact duplicates."""
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            toks = texts[rng.integers(0, i)].split()
            flip = rng.random(len(toks)) < 0.05
            for j in np.nonzero(flip)[0]:
                toks[j] = VOCAB[rng.integers(0, len(VOCAB))]
            toks.insert(int(rng.integers(0, len(toks) + 1)), "dup")
            texts.append(" ".join(toks))
        elif i > 10 and r < 0.102:
            texts.append(texts[rng.integers(0, i)])
        else:
            texts.append(" ".join(VOCAB[rng.integers(0, len(VOCAB), rng.integers(10, 101))]))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array(["src%d" % (k % 20) for k in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings_table(rng, n, dim):
    """Unit vectors around ten label centroids, with seeded jitter."""
    cents = rng.normal(0.0, 1.0, (10, dim))
    labels = rng.integers(0, 10, n)
    v = cents[labels] * 0.35 + rng.normal(0.0, 1.0, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).reshape(-1))
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(labels, pa.int32()),
    })


def curate_replica(out_dir, seed, replica, n_docs, n_vecs):
    """One corpus replica: documents + embeddings (+ the customer table the
    PII pass reads), freshly drawn from (seed, replica). Ids are not
    shifted per replica: several operators address fixed id ranges (query
    vectors, probe documents)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = rng_for(seed, 2, replica)
    _write(documents_table(rng, n_docs), f"{out_dir}/documents.parquet")
    _write(embeddings_table(rng, n_vecs, 64), f"{out_dir}/embeddings.parquet")
    _write(customer_table(rng, max(10, n_docs // 10)), f"{out_dir}/customer.parquet")


# ----------------------------------------------------------------------
# Live feed: Upbit-shaped JSON lines (trade + orderbook frames).
# ----------------------------------------------------------------------

def _trade_frame(seq, code, price, ts):
    """Trade frame shaped by seq % 7: the wire variants the parser must
    handle (timestamp fallback, unknown enums, absent numerics, non-trade
    type, missing code, missing timestamps)."""
    m = seq % 7
    f = {"type": "orderbook" if m == 3 else "trade"}
    if m != 4:
        f["code"] = code
    if m in (0, 1, 2):
        f["trade_price"] = price
    if m in (0, 1):
        f["trade_volume"] = float(seq % 997)
    ask_bid = {0: "ASK", 1: " bid ", 2: "HOLD", 6: "ASK"}.get(m)
    if ask_bid is not None:
        f["ask_bid"] = ask_bid
    if m == 0:
        f["prev_closing_price"] = price
    change = {0: "RISE", 1: "fall", 2: " even "}.get(m)
    if change is not None:
        f["change"] = change
    if m in (0, 1):
        f["change_price"] = price
    if m in (0, 2, 6):
        f["trade_timestamp"] = ts
    f["sequential_id"] = seq
    if m in (1, 2, 6):
        f["timestamp"] = ts
    return json.dumps(f, separators=(",", ":"))


def _book_frame(seq, code, mid, levels, ts, rng):
    """Orderbook frame shaped by seq % 6 (timestamp fallback, one-sided
    unit, non-book type, missing code, empty book)."""
    m = seq % 6
    f = {"type": "ticker" if m == 3 else "orderbook"}
    if m != 4:
        f["code"] = code
    if m in (0, 1, 2):
        units = []
        for j, (p, s) in enumerate(levels):
            u = {"bid_price": mid - 1 - j, "bid_size": float(rng.integers(1, 10))}
            if not (m == 2 and j == 0):
                u["ask_price"] = p
                u["ask_size"] = s
            units.append(u)
        f["total_ask_size"] = float(sum(s for _, s in levels))
        f["total_bid_size"] = float(sum(u["bid_size"] for u in units))
        f["orderbook_units"] = units
    if m != 1:
        f["timestamp"] = ts
    else:
        f["event_timestamp"] = ts
    return json.dumps(f, separators=(",", ":"))


class Feed:
    """Renders the live feed file by file. Event time advances (at least)
    `time_scale` ms per wall ms of schedule, so the fraud (60 s) and
    spoofing (1.5 s) timers fire within a run. Events are shuffled inside a
    file, and every event of file k is newer than every event of file k-1.
    Market codes follow a Zipf law; every trade frame is delivered twice
    (at-least-once), and ~1 % of lines are truncated (malformed) JSON."""

    MARKETS = 64

    def __init__(self, seed, file_ms, time_scale):
        self.rng = rng_for(seed, 3)
        self.file_ms = file_ms
        self.span_ms = file_ms * time_scale
        self.cursor = 1_704_067_200_000
        self.index = 0
        self.seq = 0
        w = 1.0 / np.arange(1, self.MARKETS + 1) ** 1.1
        self.market_p = w / w.sum()
        self.mid = np.full(self.MARKETS, 1000.0)

    def render(self, n_lines):
        """Lines for the next file; returns (lines, n_lines)."""
        rng = self.rng
        self.index += 1
        n_trades = n_lines // 4          # each delivered twice -> half the lines
        n_books = n_lines - 2 * n_trades
        n_frames = n_trades + n_books
        # distinct timestamps inside a file keep per-market order total
        span = max(self.span_ms, 2 * n_frames)
        ts_all = self.cursor + np.sort(rng.choice(span, size=n_frames, replace=False))
        self.cursor += span
        markets = rng.choice(self.MARKETS, size=n_frames, p=self.market_p)
        kinds = np.zeros(n_frames, dtype=bool)
        kinds[rng.choice(n_frames, size=n_books, replace=False)] = True
        lines = []
        for i in range(n_frames):
            self.seq += 1
            k = int(markets[i])
            code = "KRW-M%02d" % k
            ts = int(ts_all[i])
            if kinds[i]:
                self.mid[k] = max(50.0, self.mid[k] + rng.integers(-1, 2))
                mid = self.mid[k]
                levels = [(mid + j, float(rng.integers(1, 10))) for j in range(8)]
                if rng.random() < 0.2:  # a large level that may vanish: spoof bait
                    j = int(rng.integers(0, 8))
                    levels[j] = (levels[j][0], float(rng.integers(50, 200)))
                lines.append(_book_frame(self.seq, code, mid, levels, ts, rng))
            else:
                r = rng.random()
                price = (round(float(rng.uniform(0.05, 1.0)), 2) if r < 0.1 else
                         round(float(rng.uniform(500, 900)), 2) if r < 0.2 else
                         round(float(rng.lognormal(3.5, 0.6)), 2))
                fr = _trade_frame(self.seq, code, price, ts)
                lines += [fr, fr]
        for j in np.nonzero(rng.random(len(lines)) < 0.01)[0]:
            lines[j] = lines[j][: len(lines[j]) // 2]
        order = rng.permutation(len(lines))
        return [lines[j] for j in order]


def render_feed(out_dir, seed, schedule, file_ms, time_scale):
    """Pre-render every file of `schedule` (a list of (phase, n_files,
    lines_per_file)) into `out_dir`; returns the manifest."""
    os.makedirs(out_dir, exist_ok=True)
    feed = Feed(seed, file_ms, time_scale)
    manifest = []
    for phase, n_files, per_file in schedule:
        for _ in range(n_files):
            lines = feed.render(per_file)
            name = "f%06d.json" % feed.index
            with open(f"{out_dir}/{name}", "w") as fh:
                fh.write("\n".join(lines))
                fh.write("\n")
            manifest.append({"name": name, "phase": phase, "lines": len(lines)})
    return manifest
