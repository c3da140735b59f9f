"""Seeded inputs for the benchmark.

Two generators, both pure functions of their arguments:

* `write_tables` writes the ten fixture tables the query catalogue reads
  (`graft.Tables.names`), with the column types and value ranges of the
  project's TPC-H-ish fixtures (FIXTURES.md). The tables use a fixed data
  seed, so every run of a batch workload scans the same rows and the
  DuckDB oracle results stay the same; `--seed` only shuffles the query
  order (`query_order`).
* `stream_schedule` builds the `stream_replay` trigger schedule from
  `--seed`: per trigger, one history document per symbol in the shape of
  the reference's Kafka message (symbol, current_price,
  historical_data[]), the bars that must survive watermarked dedup, and
  the counts the run reports.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
PART_ADJ = "small red blue cold hot new old large".split()
PART_NOUN = "ring widget bolt plate gear rod anvil".split()


def _ts_us(base, offsets_us):
    return pa.array(np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _write(dirpath, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dirpath, f"{name}.parquet"),
                   compression="snappy")


def write_tables(dirpath, sf):
    """Write the ten tables at scale factor `sf` (0.1 = 600 k lineitem rows)."""
    os.makedirs(dirpath, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_doc, n_emb, n_users = int(50000 * sf), max(500, int(20000 * sf)), int(15000 * sf)

    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(dirpath, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]})
    _write(dirpath, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)})

    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    pk = np.arange(n_part)
    _write(dirpath, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, len(adj), n_part)], " "),
                              noun[rng.integers(0, len(noun), n_part)]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 2)})

    day_us = 86400 * 1000000
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    _write(dirpath, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n_ord) * day_us),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)]})
    _write(dirpath, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us("1995-01-02", rng.integers(0, 2498, n_li) * day_us)})

    # Events: sorted, globally distinct µs instants over 30 days, so
    # (user_id, ts) is unique as the indicator queries require.
    ts = np.sort(rng.choice(30 * day_us, n_ev, replace=False))
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    _write(dirpath, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts_us("2024-01-01", ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": etypes[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})

    # Documents: random words; one in twenty is a near-duplicate of an
    # earlier document with a trailing marker word.
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        if i > 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 101)))]))
    langs = np.array(["en", "en", "en", "de", "es", "fr", "zh"])
    _write(dirpath, "documents", {
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(dirpath, "embeddings", {
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})


def query_order(queries, seed):
    """The workload's queries in the order `seed` shuffles them to."""
    order = list(queries)
    np.random.default_rng(seed).shuffle(order)
    return order


def stream_schedule(seed, symbols, history, tail, triggers, late_share):
    """The `stream_replay` trigger schedule for `seed`.

    Trigger 0 sends each symbol's first `history` daily bars. Trigger t > 0
    is the DAG run of trading day `history - 1 + t`: each symbol's document
    carries its bars not yet sent plus a resent tail of up to `tail` bars it
    already sent (reference quirk Q8). A `late_share` of the documents of
    triggers 1 .. n-3 arrive one trigger late: the symbol's document for t
    is held back and delivered at t + 1 in place of its document for t + 1,
    and the document for t + 2 then catches up on the missed day.

    With a 24-hour watermark only first-sent bars survive dedup: a resent
    bar is either still in dedup state or behind the watermark, and a
    first-sent bar is never more than one day behind the latest day seen.

    Returns a list of dicts, one per trigger, with `docs` (JSON strings),
    `survivors` (JSON strings, one document per symbol holding only the
    bars that must survive), `bars` (parsed bars sent) and `kept`
    (surviving bars).
    """
    rng = np.random.default_rng(seed)
    days = history + triggers
    # Random-walk daily closes in integer cents, so every double in a
    # document prints and parses exactly.
    steps = rng.integers(-150, 151, (symbols, days))
    close = np.maximum(100, 10000 + np.cumsum(steps, axis=1))
    spread = rng.integers(0, 80, (symbols, days, 3))
    volume = rng.integers(1000, 2000000, (symbols, days))
    snapshot = rng.integers(-100, 101, (symbols, days))
    late = rng.random((symbols, triggers)) < late_share
    late[:, 0] = False
    late[:, triggers - 2:] = False
    # A late document and the catch-up after it are never late themselves,
    # so no first-sent bar falls to the watermark.
    for t in range(1, triggers):
        late[:, t] &= ~late[:, t - 1] & ~late[:, max(0, t - 2)]
    epoch = np.datetime64("2020-01-01")
    dates = [str(epoch + np.timedelta64(d, "D")) for d in range(days)]
    names = [f"S{i:04d}" for i in range(symbols)]

    def bar(s, d):
        c = int(close[s, d])
        o, h, lo = c + int(spread[s, d, 0]) - 40, c + int(spread[s, d, 1]), c - int(spread[s, d, 2])
        return json.dumps({"time": dates[d], "open": o / 100, "high": max(h, o, c) / 100,
                           "low": min(lo, o, c) / 100, "close": c / 100,
                           "volume": float(volume[s, d])})

    bars_json = [[bar(s, d) for d in range(days)] for s in range(symbols)]

    def doc(s, lo, hi):
        """Document of symbol s fetched on day hi - 1, carrying days lo .. hi-1."""
        price = (int(close[s, hi - 1]) + int(snapshot[s, hi - 1])) / 100
        return (f'{{"symbol": "{names[s]}", "current_price": {price!r}, '
                f'"historical_data": [{", ".join(bars_json[s][lo:hi])}]}}')

    sent = [0] * symbols                    # days of each symbol already sent
    out = []
    for t in range(triggers):
        day_end = history + t               # exclusive: days < day_end are fetched
        docs, survivors, bars, kept = [], [], 0, 0
        for s in range(symbols):
            if late[s, t]:
                continue                    # held back; delivered at t + 1
            fetched = day_end - 1 if t > 0 and late[s, t - 1] else day_end
            lo = max(0, sent[s] - tail)
            docs.append(doc(s, lo, fetched))
            bars += fetched - lo
            if fetched > sent[s]:
                kept += fetched - sent[s]
                survivors.append(doc(s, sent[s], fetched))
                sent[s] = fetched
        out.append({"docs": docs, "survivors": survivors, "bars": bars, "kept": kept})
    return out


def write_stream(dirpath, schedule):
    """Write the schedule as `docs.jsonl` and `survivors.jsonl`: one JSON
    array of document strings per trigger and line."""
    os.makedirs(dirpath, exist_ok=True)
    for key in ("docs", "survivors"):
        with open(os.path.join(dirpath, f"{key}.jsonl"), "w") as f:
            for trig in schedule:
                f.write(json.dumps(trig[key]) + "\n")
    with open(os.path.join(dirpath, "counts.json"), "w") as f:
        json.dump({"bars": [t["bars"] for t in schedule],
                   "kept": [t["kept"] for t in schedule]}, f)
