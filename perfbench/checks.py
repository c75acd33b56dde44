"""Output checks, run after the timed region: the batch workloads'
results against the program's own DuckDB oracle twins (graft.Oracles)
run over the generated inputs, and adclick_live's store against a
recomputation of the lines it was fed."""
import datetime
import json
import os
from collections import Counter

import duckdb


def check(workload, res):
    """Returns (incorrect operations, notes)."""
    path = res["facts"].get("check")
    if workload == "session_report":
        return session_report(path)
    if workload == "corpus_dedup":
        return corpus_dedup(path)
    return adclick_live(path)


def _connect(input_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        src = f"read_parquet('{os.path.join(input_dir, t + '.parquet')}/*.parquet')"
        # timestamps are written UTC-adjusted; compare them as UTC wall time
        cols = con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        sel = ", ".join(f"CAST({c[0]} AS TIMESTAMP) AS {c[0]}" if "TIME ZONE" in c[1] else c[0]
                        for c in cols)
        con.execute(f"CREATE VIEW {t}_all AS SELECT {sel} FROM {src}")
    return con


def _rows(table):
    cols = table["columns"]
    return [dict(zip(cols, r)) for r in table["rows"]]


def _query(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return [dict(zip(names, r)) for r in cur.fetchall()]


def session_report(path):
    with open(path) as f:
        chk = json.load(f)
    dims = ("customer", "orders", "lineitem", "nation", "region", "part")
    con = _connect(chk["input_dir"], ("events",) + dims)
    for t in ("customer", "lineitem", "nation", "region", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM {t}_all")
    with open(os.path.join(chk["input_dir"], "tasks.jsonl")) as f:
        tasks = {t["id"]: t for t in map(json.loads, f)}
    by_task = {name: {} for name in chk["tables"]}
    for name, table in chk["tables"].items():
        for r in _rows(table):
            by_task[name].setdefault(int(r["taskid"]), []).append(r)
    sql = chk["oracle_sql"]
    bad, notes = 0, []
    for tid in chk["task_ids"]:
        t = tasks[tid]
        quote = lambda xs: ", ".join(f"'{x}'" for x in xs)
        con.execute(f"""CREATE OR REPLACE VIEW events AS SELECT * FROM events_all
            WHERE ts >= TIMESTAMP '{t['start']}' AND ts < TIMESTAMP '{t['end_exclusive']}'
              AND user_id IN (SELECT c_custkey FROM customer_all
                WHERE c_acctbal >= {t['min_acctbal']} AND c_acctbal <= {t['max_acctbal']}
                  AND c_mktsegment IN ({quote(t['segments'])})
                  AND c_nationkey IN ({', '.join(str(n) for n in t['nations'])}))""")
        con.execute(f"""CREATE OR REPLACE VIEW orders AS SELECT * FROM orders_all
            WHERE o_orderdate >= TIMESTAMP '{t['start']}'
              AND o_orderdate < TIMESTAMP '{t['end_exclusive']}'""")
        got = {name: rows.get(tid, []) for name, rows in by_task.items()}
        problems = []

        want = _query(con, sql["q03_session_stats"])[0]
        stat = got["session_aggr_stat"]
        if len(stat) != 1 or stat[0]["session_count"] != want["session_count"] or any(
                round(stat[0][k[:-3] + "_ratio"] * 100) != want[k]
                for k in want if k.endswith("_bp")):
            problems.append("session_aggr_stat")

        want = {(r["category_id"], r["click_count"], r["purchase_count"], r["view_count"])
                for r in _query(con, sql["q05_top_categories"])}
        have = {(r["categoryid"], r["clickCount"], r["orderCount"], r["payCount"])
                for r in got["top10_category"]}
        if want != have or len(have) != len(got["top10_category"]):
            problems.append("top10_category")

        want = {(r["category_id"], r["session_id"], r["click_count"])
                for r in _query(con, sql["q06_top_sessions_per_category"])}
        have = {(r["categoryid"], r["sessionid"], r["clickCount"]) for r in got["top10_session"]}
        if want != have or len(have) != len(got["top10_session"]):
            problems.append("top10_session")

        steps = sorted(_query(con, sql["q07_page_funnel"]), key=lambda r: r["step_idx"])
        packed = "|".join(f"{r['split']}={r['convert_rate_bp']}" for r in steps)
        if [r["convert_rate"] for r in got["page_split_convert_rate"]] != [packed]:
            problems.append("page_split_convert_rate")

        cols = ("area", "area_level", "product_id", "click_count", "city_infos",
                "product_name", "product_status")
        want = {tuple(r[c] for c in cols) for r in _query(con, sql["q08_area_top3_products"])}
        have = {tuple(r[c] for c in cols) for r in got["area_top3_product"]}
        if want != have or len(have) != len(got["area_top3_product"]):
            problems.append("area_top3_product")

        want = {(r["session_id"], r["start_time"], r["event_types"])
                for r in _query(con, sql["q12_stratified_sample"])}
        ext = got["session_random_extract"]
        have = {(r["sessionid"], r["start_time"], r["search_keywords"]) for r in ext}
        if want != have or len(have) != len(ext) or any(
                r["search_keywords"] != r["click_category_ids"] for r in ext):
            problems.append("session_random_extract")

        # session_detail: every action row of exactly the extracted sessions
        steps_of = {r["session_id"]: r["n"] for r in _query(con, chk["session_cte"] +
                    " SELECT session_id, COUNT(*) AS n FROM sz GROUP BY 1")}
        counts = {}
        for r in got["session_detail"]:
            counts[r["sessionid"]] = counts.get(r["sessionid"], 0) + 1
        if counts != {s: steps_of.get(s) for s, _, _ in want}:
            problems.append("session_detail")

        if problems:
            bad += 1
            notes.append(f"task {tid}: {', '.join(problems)}")
    return bad, notes


def corpus_dedup(path):
    with open(path) as f:
        chk = json.load(f)
    con = _connect(chk["input_dir"], ("documents",))
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_all")
    exact = {(r["text_hash"], r["canonical_doc_id"], r["dup_count"])
             for r in _query(con, chk["oracle_sql"]["q21_exact_dedup"])}
    pairs = {(r["doc_a"], r["doc_b"], r["inter"], r["uni"], r["jaccard_bp"])
             for r in _query(con, chk["oracle_sql"]["q22_minhash_dedup_pairs"])}
    # kept set: one document per connected component of the pair graph,
    # the longest text, lowest id on ties (the q42 canonical rule)
    docs = {r["doc_id"]: len(r["text"]) for r in
            _query(con, "SELECT doc_id, text FROM documents")}
    parent = {d: d for d in docs}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b, *_ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    best = {}
    for d, n in docs.items():
        c = find(d)
        if c not in best or (-n, d) < (-docs[best[c]], best[c]):
            best[c] = d
    kept = set(best.values())

    bad, notes = 0, []
    for out in chk["passes"]:
        def read(name, cols):
            return [tuple(r) for r in con.execute(
                f"SELECT {cols} FROM read_parquet('{out}/{name}/*.parquet')").fetchall()]
        problems = []
        e = read("exact", "text_hash, canonical_doc_id, dup_count")
        if set(e) != exact or len(e) != len(exact):
            problems.append("exact")
        p = read("pairs", "doc_a, doc_b, inter, uni, jaccard_bp")
        if set(p) != pairs or len(p) != len(pairs):
            problems.append("pairs")
        k = read("kept", "doc_id")
        if {x[0] for x in k} != kept or len(k) != len(kept):
            problems.append("kept")
        if problems:
            bad += 1
            notes.append(f"{os.path.basename(out)}: {', '.join(problems)}")
    return bad, notes


def adclick_live(path):
    """The drained store against a recomputation of every fed line:
    ad_click_trend exactly; ad_stat, ad_user_click_count and
    ad_province_top3 exactly for keys and groups without bot clicks
    (whether a bot's clicks before its blacklisting count depends on
    which query runs first); ad_blacklist equals the users who crossed
    the threshold, who must exist. Returns (events in mismatching keys,
    notes)."""
    with open(path) as f:
        chk = json.load(f)
    with open(chk["lines_file"]) as f:
        lines = [l.split() for _, l in zip(range(chk["lines_fed"]), f)]

    def utc(ms, fmt):
        return datetime.datetime.fromtimestamp(int(ms) / 1000, datetime.timezone.utc).strftime(fmt)
    trend = Counter((utc(ts, "%Y%m%d%H%M"), ad) for ts, _, _, _, ad in lines)
    per_user = Counter((utc(ts, "%Y-%m-%d"), user, ad) for ts, _, _, user, ad in lines)
    bots = {u for (_, u, _), n in per_user.items() if n >= chk["threshold"]}
    bot_lines = [l for l in lines if l[3] in bots]
    bot_ads, bot_provs = {l[4] for l in bot_lines}, {l[1] for l in bot_lines}
    people = [l for l in lines if l[3] not in bots]
    stat = Counter((utc(ts, "%Y-%m-%d"), p, c, ad) for ts, p, c, _, ad in people)
    user_count = Counter((utc(ts, "%Y-%m-%d"), u, ad) for ts, _, _, u, ad in people)
    per_group = {}
    for (dt, p, _, ad), n in stat.items():
        g = per_group.setdefault((dt, p), Counter())
        g[ad] += n
    top3 = {(dt, p, ad): n for (dt, p), g in per_group.items()
            for ad, n in sorted(g.items(), key=lambda x: (-x[1], int(x[0])))[:3]}

    bad, notes = 0, []

    def compare(name, want, scope):
        nonlocal bad
        got = {tuple(k): v for k, v in chk["store"][name] if scope(k)}
        want = {k: v for k, v in want.items() if scope(k)}
        wrong = [k for k in want.keys() | got.keys() if want.get(k) != got.get(k)]
        notes.extend(f"{name} {k} want={want.get(k)} got={got.get(k)}" for k in wrong[:3])
        bad += sum(max(want.get(k, 0), got.get(k, 0), 1) for k in wrong)
    compare("ad_click_trend", trend, lambda k: True)
    compare("ad_stat", stat, lambda k: k[3] not in bot_ads)
    compare("ad_user_click_count", user_count, lambda k: k[1] not in bots)
    compare("ad_province_top3", top3, lambda k: k[1] not in bot_provs)
    compare("ad_blacklist", {(b,): 0 for b in bots}, lambda k: True)
    if not bots:
        bad += 1
        notes.append("no user crossed the blacklist threshold")
    return bad, notes
