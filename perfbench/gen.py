"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Nothing here calls graft code; the program under test only ever
sees the files written below.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "es", "fr", "de"])
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EPOCH_2024_US = 1704067200 * 1_000_000
DAY_US = 86_400 * 1_000_000


def _write(table, path, row_group_size=None):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=row_group_size)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_ts(rng, first_year, last_year, n):
    lo = np.datetime64(f"{first_year}-01-01", "D").astype(np.int64)
    hi = np.datetime64(f"{last_year}-12-31", "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * DAY_US, pa.timestamp("us"))


def _texts(rng, n_words):
    idx = rng.integers(0, len(VOCAB), int(n_words.sum()))
    words = np.array(VOCAB, dtype=object)[idx]
    out, pos = [], 0
    for w in n_words:
        out.append(" ".join(words[pos:pos + w]))
        pos += w
    return out


def _unit(v):
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def _emb_table(ids, vecs, labels):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offs = pa.array(np.arange(0, len(ids) * vecs.shape[1] + 1, vecs.shape[1],
                              dtype=np.int32))
    return pa.table({"vec_id": pa.array(ids, pa.int64()),
                     "embedding": pa.ListArray.from_arrays(offs, flat),
                     "label": pa.array(labels, pa.int32())})


def _doc_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def registry_tables(out, seed, scale):
    """The star schema + events/documents/embeddings the registry queries
    read, at `scale` times the sf1 row counts (sf0.1 = 600k lineitems)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * scale), max(100, int(10_000 * scale))
    n_part, n_ord = int(200_000 * scale), int(1_500_000 * scale)
    n_li, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = int(50_000 * scale), max(500, int(20_000 * scale))
    p = lambda name: os.path.join(out, f"{name}.parquet")
    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           p("region"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           p("nation"))
    segs = np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])
    _write(pa.table({"c_custkey": pa.array(range(n_cust), pa.int64()),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                     "c_acctbal": _money(rng, -999, 9999, n_cust),
                     "c_mktsegment": rng.choice(segs, n_cust)}), p("customer"))
    _write(pa.table({"s_suppkey": pa.array(range(n_supp), pa.int64()),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                     "s_acctbal": _money(rng, -999, 9999, n_supp)}), p("supplier"))
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])
    ptypes = np.array(["ECONOMY", "SMALL", "MEDIUM", "STANDARD", "LARGE", "PROMO"])
    _write(pa.table({"p_partkey": pa.array(range(n_part), pa.int64()),
                     "p_name": np.char.add(np.char.add(rng.choice(adj, n_part), " "),
                                           rng.choice(noun, n_part)),
                     "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                     "p_type": rng.choice(ptypes, n_part),
                     "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                     "p_retailprice": np.round(900 + np.arange(n_part) % 1000 / 10, 1)}),
           p("part"))
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(pa.table({"o_orderkey": pa.array(range(n_ord), pa.int64()),
                     "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                     "o_orderstatus": rng.choice(np.array(["P", "O", "F"]), n_ord),
                     "o_totalprice": _money(rng, 1000, 500_000, n_ord),
                     "o_orderdate": _days_ts(rng, 1992, 2001, n_ord),
                     "o_orderpriority": rng.choice(prios, n_ord)}), p("orders"))
    _write(pa.table({"l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                     "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                     "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                     "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                     "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": _money(rng, 900, 100_000, n_li),
                     "l_discount": rng.integers(0, 11, n_li) / 100.0,
                     "l_tax": rng.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": rng.choice(np.array(["R", "A", "N"]), n_li),
                     "l_linestatus": rng.choice(np.array(["O", "F"]), n_li),
                     "l_shipdate": _days_ts(rng, 1992, 2002, n_li)}), p("lineitem"))
    # events: unique, increasing timestamps over 30 days (the trade stream
    # the OHLCV queries read: event_type = symbol, value = price, props.k = size)
    step = 30 * DAY_US // n_ev
    ts = EPOCH_2024_US + np.arange(n_ev) * step + rng.integers(0, step, n_ev)
    etypes = np.array(["signup", "purchase", "view", "click", "error"])
    _write(pa.table({"event_id": pa.array(range(n_ev), pa.int64()),
                     "ts": pa.array(ts, pa.timestamp("us")),
                     "user_id": pa.array(rng.integers(0, 1500, n_ev), pa.int64()),
                     "event_type": rng.choice(etypes, n_ev),
                     "value": np.round(rng.lognormal(3.5, 0.9, n_ev), 2),
                     "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}),
           p("events"))
    texts = _texts(rng, rng.integers(8, 97, n_doc))
    for i in rng.choice(n_doc, max(1, n_doc // 600), replace=False):
        texts[i] = texts[(i + 1) % n_doc]          # a few exact duplicates
    for i in rng.choice(n_doc, max(1, n_doc // 20), replace=False):
        texts[i] = texts[i] + " dup"
    _write(_doc_table(np.arange(n_doc), texts, rng), p("documents"))
    centers = rng.normal(0, 1, (10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = _unit(centers[labels] + rng.normal(0, 1.2, (n_emb, 64)))
    _write(_emb_table(np.arange(n_emb), vecs, labels), p("embeddings"))


def zipf_weights(n, s):
    w = 1.0 / np.arange(1, n + 1) ** s
    return w / w.sum()


def trades(out, seed, n_trades, n_symbols, days, n_pages, page_minutes,
           overlap_minutes):
    """A trade log with unique, strictly increasing microsecond timestamps
    and Zipf-skewed symbol activity (symbol S000 is the hot one), split into
    a backfill archive, `n_pages` incremental pages and `rest`, which holds
    every trade after the archive once. Page i starts
    `overlap_minutes` (whole minutes) before page i-1 ended, so consecutive
    pages repeat a tail of trades, as an exchange's paged history does.

    Returns the page boundaries [start_us, end_us) for the checker."""
    rng = np.random.default_rng([seed, 2])
    span = days * DAY_US + n_pages * page_minutes * 60_000_000
    step = span // n_trades
    ts = EPOCH_2024_US + np.arange(n_trades) * step + rng.integers(0, step, n_trades)
    sym = rng.choice(n_symbols, n_trades, p=zipf_weights(n_symbols, 1.1))
    # per-symbol random walk: one cumulative sum, reset per symbol by
    # subtracting each symbol's running offset
    base = 20.0 + rng.uniform(0, 2000, n_symbols)
    steps = rng.normal(0, 0.0008, n_trades)
    order = np.argsort(sym, kind="stable")
    walk = np.empty(n_trades)
    csum = np.cumsum(steps[order])
    starts = np.searchsorted(sym[order], np.arange(n_symbols))
    offset = np.repeat(np.r_[0.0, csum][starts], np.diff(np.r_[starts, n_trades]))
    walk[order] = csum - offset
    price = np.round(base[sym] * np.exp(walk), 2)
    qty = np.round(rng.lognormal(-1, 1.2, n_trades) + 0.01, 2)
    names = np.array([f"S{i:03d}" for i in range(n_symbols)])
    symbol = pa.DictionaryArray.from_arrays(pa.array(sym, pa.int32()), pa.array(names))
    table = pa.table({"symbol": symbol, "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
                      "price": price, "qty": qty})
    cut = EPOCH_2024_US + days * DAY_US
    n_arch = int(np.searchsorted(ts, cut))
    # row groups small enough that the archive scan splits across every core
    _write(table.slice(0, n_arch), os.path.join(out, "archive", "trades.parquet"), 1 << 17)
    bounds, end = [], cut
    minute = 60_000_000
    for i in range(n_pages):
        start = end - overlap_minutes * minute if i else end
        start -= start % minute
        stop = cut + (i + 1) * page_minutes * minute
        lo, hi = np.searchsorted(ts, [start, stop])
        _write(table.slice(lo, hi - lo), os.path.join(out, "pages", f"p{i:03d}", "trades.parquet"))
        bounds.append([int(start), int(stop)])
        end = stop
    # the trades after the archive up to the last page, each once
    _write(table.slice(n_arch, int(np.searchsorted(ts, end)) - n_arch),
           os.path.join(out, "rest", "trades.parquet"))
    return {"archive_trades": n_arch, "pages": bounds, "symbols": names.tolist()}
