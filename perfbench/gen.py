"""Seeded input generators of every workload: the batch workloads'
tables and analyst tasks, and the ad-click lines. All generation lives
here; the JVM only reads the files. The same seed gives the same rows;
every row is fed into a SHA-256 digest, so paired runs can show they
read the same bytes. Tables are written as parquet directories, the
layout the program's table loader reads."""
import bisect
import datetime
import hashlib
import json
import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
NATIONS = [  # TPC-H nations: (name, region key)
    ("ALGERIA", 0), ("ARGENTINA", 1), ("BRAZIL", 1), ("CANADA", 1), ("EGYPT", 4),
    ("ETHIOPIA", 0), ("FRANCE", 3), ("GERMANY", 3), ("INDIA", 2), ("INDONESIA", 2),
    ("IRAN", 4), ("IRAQ", 4), ("JAPAN", 2), ("JORDAN", 4), ("KENYA", 0),
    ("MOROCCO", 0), ("MOZAMBIQUE", 0), ("PERU", 1), ("CHINA", 2), ("ROMANIA", 3),
    ("SAUDI ARABIA", 4), ("VIETNAM", 2), ("RUSSIA", 3), ("UNITED KINGDOM", 3),
    ("UNITED STATES", 1)]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = [("view", 0.40), ("click", 0.30), ("purchase", 0.10), ("signup", 0.05),
               ("error", 0.15)]
# The clickstream, the orders and the analyst tasks span 30 days from
# this instant.
DAY0_US = int(datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc).timestamp()) * 10**6
DAYS = 30
DAY_US = 86400 * 10**6
UTC_US = pa.timestamp("us", tz="UTC")
FACTS = ("events", "lineitem", "documents")  # written as four files, dimensions as one


class Zipf:
    def __init__(self, n, s):
        w = [1.0 / (k + 1) ** s for k in range(n)]
        total, acc, self.cdf = sum(w), 0.0, []
        for x in w:
            acc += x
            self.cdf.append(acc / total)

    def sample(self, r):
        """Index in [0, n), 0 the most frequent."""
        return min(bisect.bisect_left(self.cdf, r.random()), len(self.cdf) - 1)


def rng(seed, stream):
    return random.Random(seed * 1_000_003 + stream)


def _write(out, name, schema, cols, digest):
    digest.update(name.encode())
    for row in zip(*cols):
        digest.update(repr(row).encode())
    table = pa.table(dict(zip(schema.names, cols)), schema=schema)
    path = os.path.join(out, name + ".parquet")
    os.makedirs(path, exist_ok=True)
    files = 4 if name in FACTS else 1
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i}.parquet"))


def _day(us):
    return datetime.datetime.fromtimestamp(us / 1e6, datetime.timezone.utc).strftime("%Y-%m-%d")


def _nation_keys(r, customers):
    """c_nationkey of customers 1..n: the first draws of stream 2, so the
    ad-click users and the customer table agree for the same seed."""
    return [r.randrange(25) for _ in range(customers)]


def _tasks(out, seed, n, d):
    """Analyst tasks, one JSON object a line: the id, the task_param in
    the reference's encoding (every value a 1-element array) and the
    criteria the output check applies. Every task selects a 14-day span,
    3 of 5 segments, 15 of 25 nations and a 6000-wide balance band, so
    tasks differ in which rows they read but not in how many they read
    on average."""
    r = rng(seed, 4)
    with open(os.path.join(out, "tasks.jsonl"), "w") as f:
        for tid in range(1, n + 1):
            start = DAY0_US + r.randrange(DAYS - 14 + 1) * DAY_US
            end = start + 14 * DAY_US
            lo = -1000 + r.randrange(2000)
            segs = sorted(r.sample(SEGMENTS, 3))
            nats = sorted(r.sample(range(25), 15))
            param = {"startDate": [_day(start)], "endDate": [_day(end - DAY_US)],
                     "minAcctbal": [str(lo)], "maxAcctbal": [str(lo + 6000)],
                     "segments": [",".join(segs)], "nations": [",".join(map(str, nats))]}
            line = json.dumps({"id": tid, "task_param": json.dumps(param, separators=(",", ":")),
                               "start": _day(start), "end_exclusive": _day(end),
                               "min_acctbal": lo, "max_acctbal": lo + 6000,
                               "segments": segs, "nations": nats})
            d.update(line.encode())
            f.write(line + "\n")


def session_inputs(out, seed, customers, parts, orders, events, tasks):
    """The TPC-H-shaped star, the analyst tasks, and a clickstream of
    real sessions: users Zipf-skewed over the customer keys, session
    starts uniform over 30 days, geometric session lengths (mean 6
    events), in-session gaps of seconds to minutes (exponential, mean
    45 s, clamped to [1 s, 20 min] so a session never splits at the
    30-minute gap rule by itself). Returns the input digest."""
    d = hashlib.sha256()
    r = rng(seed, 2)
    _write(out, "region", pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
           [list(range(5)), REGIONS], d)
    _write(out, "nation", pa.schema([("n_nationkey", pa.int32()), ("n_name", pa.string()),
                                     ("n_regionkey", pa.int32())]),
           [list(range(25)), [n for n, _ in NATIONS], [k for _, k in NATIONS]], d)
    ck = list(range(1, customers + 1))
    _write(out, "customer", pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()), ("c_nationkey", pa.int32()),
        ("c_acctbal", pa.float64()), ("c_mktsegment", pa.string())]),
        [ck, [f"Customer#{k:09d}" for k in ck], _nation_keys(r, customers),
         [(r.randrange(1099999) - 99999) / 100.0 for _ in ck],
         [SEGMENTS[r.randrange(5)] for _ in ck]], d)
    pk = list(range(1, parts + 1))
    _write(out, "part", pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
        ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64())]),
        [pk, [f"part {k % 97} {k % 89}" for k in pk],
         [f"Brand#{1 + r.randrange(5)}{1 + r.randrange(5)}" for _ in pk],
         [f"TYPE {r.randrange(6)}" for _ in pk], [1 + r.randrange(50) for _ in pk],
         [900.0 + (k % 1000) / 10.0 for k in pk]], d)
    o_cols = [[] for _ in range(6)]
    l_cols = [[] for _ in range(11)]
    for o in range(1, orders + 1):
        odate = DAY0_US + r.randrange(DAYS * 86400) * 10**6
        for c, v in zip(o_cols, (o, 1 + r.randrange(customers), r.choice("OF"),
                                 r.randrange(50000000) / 100.0, odate,
                                 PRIORITIES[r.randrange(5)])):
            c.append(v)
        for ln in range(1, 2 + r.randrange(7)):
            qty = float(1 + r.randrange(50))
            for c, v in zip(l_cols, (o, 1 + r.randrange(parts), 1 + r.randrange(1000), ln, qty,
                                     qty * (900 + r.randrange(1100)), r.randrange(11) / 100.0,
                                     r.randrange(9) / 100.0, "ANR"[r.randrange(3)],
                                     r.choice("OF"), odate + (1 + r.randrange(120)) * DAY_US)):
                c.append(v)
    _write(out, "orders", pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()), ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()), ("o_orderdate", UTC_US),
        ("o_orderpriority", pa.string())]), o_cols, d)
    _write(out, "lineitem", pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
        ("l_tax", pa.float64()), ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", UTC_US)]), l_cols, d)

    r = rng(seed, 3)
    users, cats = Zipf(customers, 1.05), Zipf(100, 0.9)
    cum, acc = [], 0.0
    for _, p in EVENT_TYPES:
        acc += p
        cum.append(acc)
    ev = []
    while len(ev) < events:
        user = users.sample(r) + 1
        n = 1 + min(59, int(math.log(1.0 - r.random()) / math.log(5.0 / 6.0)))
        cat = cats.sample(r)
        t = DAY0_US + r.randrange(DAYS * DAY_US)
        for _ in range(n):
            et = EVENT_TYPES[min(bisect.bisect_right(cum, r.random()), 4)][0]
            k = cat if r.random() < 0.8 else cats.sample(r)
            value = (100 + r.randrange(49900)) / 100.0 if et == "purchase" \
                else r.randrange(5000) / 100.0
            ev.append((t, user, et, value, k))
            t += max(10**6, min(1200 * 10**6, int(-45e6 * math.log(1.0 - r.random()))))
    ev.sort(key=lambda e: (e[0], e[1]))
    _write(out, "events", pa.schema([
        ("event_id", pa.int64()), ("ts", UTC_US), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())]),
        [list(range(len(ev))), [e[0] for e in ev], [e[1] for e in ev], [e[2] for e in ev],
         [e[3] for e in ev], [f'{{"k": {e[4]}}}' for e in ev]], d)
    _tasks(out, seed, tasks, d)
    return d.hexdigest()


THRESHOLD = 100  # AdClickStream's default blacklist threshold (clicks per day, user, ad)


def adclick(out, seed, customers, lines, bots=3, bot_share=0.1, ads=100):
    """Ad-click lines "ts province city user ad", one a line, 1 ms apart
    (1000 events/s of event time) from DAY0. Users are Zipf-skewed over
    the customer keys and click from their customer's region (province)
    and nation (city) on ads 0..ads-2; a fixed set of bots clicks the
    last ad from one city, so they cross the blacklist threshold within
    the first four thousand lines. People never reach the threshold on
    any (day, user, ad): such a draw is redrawn; all lines fall on
    DAY0's date, so counting per (user, ad) is per day. Returns the
    digest."""
    nk = _nation_keys(rng(seed, 2), customers)
    r = rng(seed, 6)
    users, adz = Zipf(customers, 1.0), Zipf(ads - 1, 0.8)
    bot_ids = r.sample(range(1, customers + 1), bots)

    def place(n):
        name, region = NATIONS[n]
        return REGIONS[region].replace(" ", "_"), name.replace(" ", "_")
    bot_place = place(r.randrange(25))
    counts, d = {}, hashlib.sha256()
    os.makedirs(out, exist_ok=True)
    ts0 = DAY0_US // 1000
    with open(os.path.join(out, "adclick.txt"), "w") as f:
        for i in range(lines):
            if r.random() < bot_share:
                (prov, city), user, ad = bot_place, bot_ids[r.randrange(bots)], ads - 1
            else:
                while True:
                    user, ad = users.sample(r) + 1, adz.sample(r)
                    if user not in bot_ids and counts.get((user, ad), 0) < THRESHOLD - 1:
                        break
                counts[(user, ad)] = counts.get((user, ad), 0) + 1
                prov, city = place(nk[user - 1])
            line = f"{ts0 + i} {prov} {city} {user} {ad}\n"
            d.update(line.encode())
            f.write(line)
    return d.hexdigest()


STEMS = ["data", "scan", "join", "sort", "hash", "page", "click", "user", "table", "query",
         "batch", "stream", "row", "column", "key", "value", "shard", "index", "cache", "node",
         "graph", "rank", "score", "token", "model", "event", "window", "filter", "merge",
         "split", "group", "order", "price", "region", "city", "ad", "session", "funnel",
         "store", "log"]
VOCAB = [s + suf for s in STEMS for suf in ("", "s", "er", "ing", "ed")]


def corpus(out, seed, docs):
    """A web-text corpus with a fixed share of exact copies (15 %) and
    token-edited near copies (15 %, one to three token replacements,
    insertions or deletions) of earlier original documents. The shares
    are a property of the workload: exact copies short-circuit the
    near-dup verification, so they must not drift between runs. Copies
    are made of originals only, so near-dup clusters are stars, as when
    a crawl re-fetches edited versions of one page. Returns the digest."""
    r = rng(seed, 5)
    texts, originals = [], []
    for i in range(docs):
        u = r.random()
        if i > 0 and u < 0.30:
            b = list(texts[originals[r.randrange(len(originals))]])
            if u >= 0.15:
                for _ in range(1 + r.randrange(3)):
                    p, op = r.randrange(len(b)), r.randrange(3)
                    if op == 0:
                        b[p] = VOCAB[r.randrange(len(VOCAB))]
                    elif op == 1:
                        b.insert(p, VOCAB[r.randrange(len(VOCAB))])
                    elif len(b) > 8:
                        del b[p]
            texts.append(b)
        else:
            originals.append(i)
            texts.append([VOCAB[r.randrange(len(VOCAB))] for _ in range(30 + r.randrange(50))])
    text = [" ".join(t) for t in texts]
    d = hashlib.sha256()
    _write(out, "documents", pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64())]),
        [list(range(docs)), text, ["en"] * docs, [f"src{r.randrange(5)}" for _ in text],
         [len(t) for t in text]], d)
    return d.hexdigest()
