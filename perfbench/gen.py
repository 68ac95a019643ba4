"""Seeded input generator for the benchmark workloads.

One process, numpy + pyarrow, pyarrow's pools capped at nproc. Everything it
writes is a pure function of (workload, seed): the same seed gives
byte-identical parquet files.

Drain inputs use the reference collector's wire format: the 5-column Kafka
envelope (kafka_topic, kafka_partition, kafka_offset, kafka_timestamp,
kafka_key) plus a binary `value`, over 4 topics x 8 partitions. Three topics
carry msgpack payloads, one carries JSON text. The payload is a market-data
quote. Offsets are contiguous per (topic, partition) from a seeded start.

query_mix inputs are the TPC-H-like star schema plus events, documents and
embeddings that `SparkEntry.queries` read. They come from a FIXED seed so the
golden digests hold; `--seed` only permutes the query order (see Harness).

Usage: python3 gen.py <workload> <seed> <out_dir>
"""
import json
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NPROC = os.cpu_count() or 1
pa.set_cpu_count(max(1, min(4, NPROC)))
pa.set_io_thread_count(max(1, min(4, NPROC)))

# ---- workload sizes ------------------------------------------------------
TOPICS = [("quotes", "msgpack"), ("trades", "msgpack"), ("book", "msgpack"),
          ("status", "json")]
PARTITIONS = 8
ONESHOT_MSGS = 128_000          # one drain_oneshot op drains all of these
WARM_MSGS = 16_000              # set-up warm-up drains (JIT, first-use codegen)
RESUME_BASE_MSGS = 160_000      # base lake, drained in set-up by the keeper
RESUME_ROUND_MSGS = 32_000      # new messages per incremental round
RESUME_REDELIVER_FRAC = 0.01    # byte-identical redeliveries per round
RESUME_ROUNDS = 12              # rounds generated; the window uses a prefix
RESUME_EVOLVE_FROM = 2          # round index from which the payload has `venue`
QUERY_SCALE = 0.01              # rows relative to TPC-H sf1 (lineitem 6M)
QUERY_DATA_SEED = 20241017      # fixed: golden digests depend on the data

T0_US = 1_704_067_200_000_000   # 2024-01-01T00:00:00Z in microseconds
SYMBOLS = np.array([b"SYM%04d" % i for i in range(500)], dtype="S7")
VENUES = np.array([b"XNAS", b"XNYS", b"ARCX", b"BATS"], dtype="S4")


def _fixstr(s):
    b = s.encode()
    assert len(b) < 32
    return bytes([0xA0 | len(b)]) + b


def _msgpack_dtype(evolved):
    # every value is written in its canonical msgpack width for the chosen
    # ranges, so each message has the same length and numpy can lay out the
    # whole batch at once: fixstr(7) symbol, float64 prices, uint16 sizes,
    # uint32 seq, fixstr(4) venue
    fields = [("map", "u1")]
    for key, vtype in [("symbol", [("t", "u1"), ("v", "S7")]),
                       ("bid_price", [("t", "u1"), ("v", ">f8")]),
                       ("ask_price", [("t", "u1"), ("v", ">f8")]),
                       ("bid_size", [("t", "u1"), ("v", ">u2")]),
                       ("ask_size", [("t", "u1"), ("v", ">u2")]),
                       ("seq", [("t", "u1"), ("v", ">u4")])] + \
            ([("venue", [("t", "u1"), ("v", "S4")])] if evolved else []):
        fields.append(("k_" + key, "S%d" % len(_fixstr(key))))
        fields.append(("v_" + key, np.dtype(vtype)))
    return np.dtype(fields)


def _payload_fields(rng, n):
    sym = SYMBOLS[rng.integers(0, len(SYMBOLS), n)]
    bid = np.round(rng.uniform(10.0, 1000.0, n), 2)
    ask = np.round(bid + rng.integers(1, 50, n) / 100.0, 2)
    return {
        "symbol": sym, "bid_price": bid, "ask_price": ask,
        "bid_size": rng.integers(256, 65536, n).astype(np.uint16),
        "ask_size": rng.integers(256, 65536, n).astype(np.uint16),
        "seq": rng.integers(65536, 4_000_000_000, n).astype(np.uint32),
        "venue": VENUES[rng.integers(0, len(VENUES), n)],
    }


def _binary(blobs_bytes, lengths):
    offsets = np.zeros(len(lengths) + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    return pa.Array.from_buffers(pa.binary(), len(lengths),
                                 [None, pa.py_buffer(offsets.tobytes()),
                                  pa.py_buffer(blobs_bytes)])


def _msgpack_values(f, evolved):
    n = len(f["symbol"])
    dt = _msgpack_dtype(evolved)
    rec = np.zeros(n, dtype=dt)
    keys = ["symbol", "bid_price", "ask_price", "bid_size", "ask_size", "seq"] + \
        (["venue"] if evolved else [])
    rec["map"] = 0x80 | len(keys)
    tags = {"symbol": 0xA7, "bid_price": 0xCB, "ask_price": 0xCB,
            "bid_size": 0xCD, "ask_size": 0xCD, "seq": 0xCE, "venue": 0xA4}
    for k in keys:
        rec["k_" + k] = _fixstr(k)
        rec["v_" + k]["t"] = tags[k]
        rec["v_" + k]["v"] = f[k]
    return _binary(rec.tobytes(), np.full(n, dt.itemsize))


def _json_values(f, evolved):
    texts = []
    venue = f["venue"]
    for i in range(len(f["symbol"])):
        s = ('{"symbol": "%s", "bid_price": %r, "ask_price": %r, "bid_size": %d, '
             '"ask_size": %d, "seq": %d' % (
                 f["symbol"][i].decode(), float(f["bid_price"][i]),
                 float(f["ask_price"][i]), f["bid_size"][i], f["ask_size"][i],
                 f["seq"][i]))
        if evolved:
            s += ', "venue": "%s"' % venue[i].decode()
        texts.append(s + "}")
    return pa.array(texts, type=pa.string()).cast(pa.binary())


def _envelope(rng, topic, fmt, partition, first_offset, n, t_start_us, evolved):
    """n consecutive messages of one (topic, partition), as an arrow table."""
    f = _payload_fields(rng, n)
    values = _msgpack_values(f, evolved) if fmt == "msgpack" else _json_values(f, evolved)
    # broker timestamps: increasing within the partition, ~90 s apart, so a
    # base drain spans a few UTC days (date_path partitions)
    ts = t_start_us + np.cumsum(rng.integers(60_000_000, 120_000_000, n))
    return pa.table({
        "kafka_topic": pa.array([topic] * n, type=pa.string()),
        "kafka_partition": pa.array(np.full(n, partition, dtype=np.int64)),
        "kafka_offset": pa.array(first_offset + np.arange(n, dtype=np.int64)),
        "kafka_timestamp": pa.array(ts, type=pa.timestamp("us", tz="UTC")),
        "kafka_key": pa.array(np.char.decode(f["symbol"]).tolist(), type=pa.string()),
        "value": values,
    })


class Stream:
    """All 32 (topic, partition) logs of one seeded source; `take` appends
    the next messages of every log and returns them as one table each."""

    def __init__(self, seed):
        self.rng = np.random.default_rng(seed)
        self.next_offset = {(t, p): int(self.rng.integers(0, 5_000_000))
                            for t, _ in TOPICS for p in range(PARTITIONS)}
        self.next_ts = {k: T0_US for k in self.next_offset}

    def take(self, n_total, evolved=False):
        per = n_total // (len(TOPICS) * PARTITIONS)
        out = []
        for topic, fmt in TOPICS:
            for p in range(PARTITIONS):
                k = (topic, p)
                tbl = _envelope(self.rng, topic, fmt, p, self.next_offset[k], per,
                                self.next_ts[k], evolved)
                self.next_offset[k] += per
                self.next_ts[k] = tbl.column("kafka_timestamp")[-1].value
                out.append(((topic, p), tbl))
        return out


def _write(tables, d, prefix):
    os.makedirs(d, exist_ok=True)
    rows = 0
    for (topic, p), tbl in tables:
        pq.write_table(tbl, os.path.join(d, "%s-%s-p%d.parquet" % (prefix, topic, p)))
        rows += tbl.num_rows
    return rows


def _per_topic(tables):
    c = {}
    for (topic, _), tbl in tables:
        c[topic] = c.get(topic, 0) + tbl.num_rows
    return c


def gen_oneshot(seed, out):
    s = Stream(seed)
    _write(s.take(WARM_MSGS), os.path.join(out, "warm"), "warm")
    main = s.take(ONESHOT_MSGS)
    n = _write(main, os.path.join(out, "src"), "m")
    manifest = {"offered": n, "distinct": n, "per_topic": _per_topic(main),
                "lineage_versions": 1}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)


def gen_resume(seed, out):
    s = Stream(seed)
    rng = np.random.default_rng(seed + 1)
    base = s.take(RESUME_BASE_MSGS)
    _write(base, os.path.join(out, "base"), "base")
    delivered = [tbl for _, tbl in base]
    per_topic = _per_topic(base)
    rounds = []
    for r in range(RESUME_ROUNDS):
        evolved = r >= RESUME_EVOLVE_FROM
        new = s.take(RESUME_ROUND_MSGS, evolved)
        d = os.path.join(out, "rounds", "r%02d" % r)
        n_new = _write(new, d, "r%02d" % r)
        # redeliveries: byte-identical copies of already-delivered messages
        pool = pa.concat_tables(delivered, promote_options="none")
        n_dup = int(round(RESUME_REDELIVER_FRAC * n_new))
        pick = np.sort(rng.choice(pool.num_rows, n_dup, replace=False))
        pq.write_table(pool.take(pa.array(pick)),
                       os.path.join(d, "r%02d-redeliver.parquet" % r))
        delivered.extend(tbl for _, tbl in new)
        for t, c in _per_topic(new).items():
            per_topic[t] += c
        rounds.append({"offered": n_new + n_dup, "new": n_new,
                       "per_topic": dict(per_topic),
                       "lineage_versions": 2 if evolved else 1})
    manifest = {"base": {"offered": RESUME_BASE_MSGS, "per_topic": _per_topic(base)},
                "rounds": rounds}
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)


# ---- query_mix tables -----------------------------------------------------
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()


def gen_queries(out):
    rng = np.random.default_rng(QUERY_DATA_SEED)
    os.makedirs(out, exist_ok=True)
    sf = QUERY_SCALE
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc, n_emb = int(1_000_000 * sf), int(50_000 * sf), int(20_000 * sf)
    ts = pa.timestamp("us")

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, name + ".parquet"))

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start, n_days, n):
        base = np.datetime64(start, "us")
        return pa.array(base + rng.integers(0, n_days, n).astype("timedelta64[D]"), type=ts)

    write("region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                     "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    write("nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                     "n_name": ["NATION_%d" % i for i in range(25)],
                     "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    seg = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    write("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": ["Customer#%09d" % i for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": seg[rng.integers(0, 5, n_cust)].tolist()})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": ["Supplier#%09d" % i for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": money(-999.99, 9999.99, n_supp)})
    adj = np.array("small new red blue old large hot cold".split())
    noun = np.array("ring gear bolt plate rod anvil widget gizmo".split())
    ptype = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
    write("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]).tolist(),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)).tolist(),
        "p_type": ptype[rng.integers(0, 6, n_part)].tolist(),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)})
    status = np.array(["O", "F", "P"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    write("orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": status[rng.integers(0, 3, n_ord)].tolist(),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": days("1995-01-01", 2404, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)].tolist()})
    flag = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": flag[rng.integers(0, 3, n_li)].tolist(),
        "l_linestatus": lstat[rng.integers(0, 2, n_li)].tolist(),
        "l_shipdate": days("1995-01-02", 2498, n_li)})
    evt = np.array(["view", "click", "purchase", "signup", "error"])
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ev_ts, type=ts),
        "user_id": pa.array(rng.integers(0, max(n_cust // 10, 10), n_ev)),
        "event_type": evt[rng.integers(0, 5, n_ev)].tolist(),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)]})
    words = np.array(WORDS)
    texts = []
    for i in range(n_doc):
        t = " ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 100)))])
        if i % 20 == 11:
            t += " dup"
        texts.append(t)
    for i in range(0, n_doc, 625):      # a few exact duplicate documents
        texts[min(i + 1, n_doc - 1)] = texts[i]
    lang = np.array(["en", "en", "en", "de", "fr", "es", "zh"])
    write("documents", {
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": lang[rng.integers(0, len(lang), n_doc)].tolist(),
        "source": ["src%d" % s for s in rng.integers(0, 20, n_doc)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})
    labels = rng.integers(0, 10, n_emb).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 1.5, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vecs.reshape(-1)), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(labels)})


def generate(workload, seed, out):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    if workload == "drain_oneshot":
        gen_oneshot(seed, out)
    elif workload == "drain_resume":
        gen_resume(seed, out)
    elif workload == "query_mix":
        gen_queries(os.path.join(out, "sf"))
    else:
        raise ValueError("unknown workload " + workload)


if __name__ == "__main__":
    generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])
