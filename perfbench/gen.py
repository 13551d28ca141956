"""Seeded input generators for the benchmark workloads.

Every value is a pure function of (seed, size): the star schema (and
the power-law lineitem the graph is built from) is drawn with DuckDB's
hash() over row keys salted with the seed, the corpus with numpy's
seeded generator. The marginals follow
the published sf0.1 test tables (uniform categorical domains, the
same key ratios per scale factor, exponential event values), so the
repo's queries see the column domains they were written for.

Each generator writes parquet tables plus `truth.json`, the planted
ground truth the harness checks its outputs against.
"""
import json
import os
import re
import unicodedata

import duckdb
import numpy as np

NATIONS = 25
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
STATUSES = ["O", "P", "F"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
FLAGS = [("A", "O"), ("N", "F"), ("R", "O"), ("R", "F"), ("N", "O"), ("A", "F")]
PART_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "de", "fr", "es", "zh"]


def _connect(workdir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{workdir}/duckdb.tmp'")
    return con


def _sql_list(xs):
    return "[" + ", ".join("'" + x + "'" for x in xs) + "]"


def star_schema(out, seed, sf, part_zipf=None, micro_csv_rows=0):
    """TPC-H-shaped tables at scale factor `sf` (sf0.1 = 600K lineitem
    rows). `part_zipf` draws l_partkey from a power law instead of
    uniformly, which makes the parts co-purchase graph heavy-tailed.
    `micro_csv_rows` > 0 also writes that many lineitem rows as parquet
    (the in-memory micro-op input) and as a headered CSV (csv_read)."""
    os.makedirs(out, exist_ok=True)
    con = _connect(out)
    s = int(seed)

    def h(expr, tag):
        # 63 bits of the salted hash, as a non-negative BIGINT
        return f"CAST(hash({expr}, '{tag}', {s}) >> 1 AS BIGINT)"

    def u(expr, tag):
        return f"(({h(expr, tag)} % 1000000) / 1000000.0)"

    def pick(xs, expr, tag):
        return f"{_sql_list(xs)}[1 + ({h(expr, tag)} % {len(xs)})]"

    n_cust = max(1, int(150000 * sf))
    n_supp = max(1, int(10000 * sf))
    n_part = max(1, int(200000 * sf))
    n_ord = max(1, int(1500000 * sf))
    n_evt = max(1, int(1000000 * sf))
    n_user = max(1, int(15000 * sf))

    def write(name, sql):
        con.execute(f"COPY ({sql}) TO '{out}/{name}.parquet' (FORMAT PARQUET)")

    write("region", "SELECT CAST(k AS INTEGER) AS r_regionkey, "
          f"{_sql_list(['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])}"
          "[k + 1] AS r_name FROM range(0, 5) r(k)")
    write("nation", "SELECT CAST(k AS INTEGER) AS n_nationkey, "
          "'NATION_' || k AS n_name, CAST(k % 5 AS INTEGER) AS n_regionkey "
          f"FROM range(0, {NATIONS}) r(k)")
    write("customer", f"""
        SELECT CAST(k AS BIGINT) AS c_custkey,
          'Customer#' || lpad(CAST(k AS VARCHAR), 9, '0') AS c_name,
          CAST({h('k', 'cn')} % {NATIONS} AS INTEGER) AS c_nationkey,
          round(-999.99 + {u('k', 'cb')} * 10999.8, 2) AS c_acctbal,
          {pick(SEGMENTS, 'k', 'cs')} AS c_mktsegment
        FROM range(0, {n_cust}) r(k)""")
    write("supplier", f"""
        SELECT CAST(k AS BIGINT) AS s_suppkey,
          'Supplier#' || lpad(CAST(k AS VARCHAR), 9, '0') AS s_name,
          CAST({h('k', 'sn')} % {NATIONS} AS INTEGER) AS s_nationkey,
          round(-999.99 + {u('k', 'sb')} * 10999.8, 2) AS s_acctbal
        FROM range(0, {n_supp}) r(k)""")
    write("part", f"""
        SELECT CAST(k AS BIGINT) AS p_partkey,
          {pick(PART_ADJ, 'k', 'pa')} || ' ' || {pick(PART_NOUN, 'k', 'pn')}
            AS p_name,
          'Brand#' || (1 + {h('k', 'pb')} % 25) AS p_brand,
          {pick(PART_TYPES, 'k', 'pt')} AS p_type,
          CAST(1 + {h('k', 'ps')} % 50 AS INTEGER) AS p_size,
          round(900.0 + {u('k', 'pp')} * 99.9, 1) AS p_retailprice
        FROM range(0, {n_part}) r(k)""")
    write("orders", f"""
        SELECT CAST(k AS BIGINT) AS o_orderkey,
          CAST({h('k', 'oc')} % {n_cust} AS BIGINT) AS o_custkey,
          {pick(STATUSES, 'k', 'os')} AS o_orderstatus,
          round(1000.0 + {u('k', 'op')} * 499000.0, 2) AS o_totalprice,
          TIMESTAMP '1995-01-01' + to_days(CAST({h('k', 'od')} % 2404 AS INTEGER))
            AS o_orderdate,
          {pick(PRIORITIES, 'k', 'oq')} AS o_orderpriority
        FROM range(0, {n_ord}) r(k)""")
    if part_zipf:
        # rank r drawn with P(r) ~ r^-a via inverse CDF of a continuous
        # power law on [1, n_part]; ranks map to keys through a seeded
        # hash so hubs are spread over the key space
        a = float(part_zipf)
        rank = (f"least({n_part}, CAST(floor(pow(1.0 - {u('k', 'lz')} * "
                f"(1.0 - pow({n_part}.0, {1.0 - a})), {1.0 / (1.0 - a)})) "
                "AS BIGINT))")
        partkey = f"CAST(({rank} * 7919 + {s}) % {n_part} AS BIGINT)"
    else:
        partkey = f"CAST({h('k', 'lp')} % {n_part} AS BIGINT)"
    rflags = _sql_list([f for f, _ in FLAGS])
    sflags = _sql_list([t for _, t in FLAGS])
    # four lines per order (the TPC-H mean); line keys are
    # (order, line number)
    write("lineitem", f"""
        SELECT l_orderkey, l_partkey, l_suppkey,
          CAST(k % 4 + 1 AS INTEGER) AS l_linenumber,
          CAST(1 + {h('k', 'lq')} % 50 AS DOUBLE) AS l_quantity,
          round(900.0 + {u('k', 'le')} * 104100.0, 2) AS l_extendedprice,
          CAST({h('k', 'ld')} % 11 AS DOUBLE) / 100.0 AS l_discount,
          CAST({h('k', 'lt')} % 9 AS DOUBLE) / 100.0 AS l_tax,
          {rflags}[1 + {h('k', 'lf')} % 6] AS l_returnflag,
          {sflags}[1 + {h('k', 'lf')} % 6] AS l_linestatus,
          TIMESTAMP '1995-01-02' + to_days(CAST({h('k', 'lsd')} % 2498 AS INTEGER))
            AS l_shipdate
        FROM (
          SELECT k, CAST(k // 4 AS BIGINT) AS l_orderkey,
            {partkey} AS l_partkey,
            CAST({h('k', 'ls')} % {n_supp} AS BIGINT) AS l_suppkey
          FROM range(0, {n_ord * 4}) r(k))""")
    write("events", f"""
        SELECT CAST(k AS BIGINT) AS event_id,
          TIMESTAMP '2024-01-01' + to_microseconds(CAST(
            (k + {u('k', 'et')}) * (2592000000000.0 / {n_evt}) AS BIGINT)) AS ts,
          CAST({h('k', 'eu')} % {n_user} AS BIGINT) AS user_id,
          {pick(EVENT_TYPES, 'k', 'ey')} AS event_type,
          round(-50.0 * ln(1.0 - {u('k', 'ev')}), 2) AS value,
          '{{"k": ' || ({h('k', 'ek')} % 100) || '}}' AS props
        FROM range(0, {n_evt}) r(k)""")
    if micro_csv_rows:
        # lineitem repeated to exactly micro_csv_rows rows (BASELINE.md
        # publishes its micro-ops at 1M rows), as parquet for the
        # in-memory frame and as CSV for csv_read
        n_li = con.execute(f"SELECT count(*) FROM '{out}/lineitem.parquet'") \
            .fetchone()[0]
        li = f"'{out}/lineitem.parquet'"
        full, rest = divmod(micro_csv_rows, n_li)
        con.execute(f"""COPY (
            SELECT l.* FROM range(0, {full}) r(rep), {li} l
            UNION ALL (SELECT * FROM {li}
              ORDER BY l_orderkey, l_linenumber LIMIT {rest}))
          TO '{out}/micro_lineitem.parquet' (FORMAT PARQUET)""")
        con.execute(f"""COPY '{out}/micro_lineitem.parquet'
          TO '{out}/micro_lineitem.csv' (HEADER, DELIMITER ',')""")
    sizes = {t: con.execute(f"SELECT count(*) FROM '{out}/{t}.parquet'")
             .fetchone()[0] for t in ["customer", "supplier", "part",
                                      "orders", "lineitem", "events"]}
    con.close()
    return sizes


def oracle(data_dir, sqls, out_path):
    """Runs each DuckDB oracle SQL over the generated tables and writes
    the expected rows (columns sorted by name) as JSON."""
    con = _connect(data_dir)
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "micro_lineitem"]:
        p = f"{data_dir}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    expected = {}
    for name, sql in sorted(sqls.items()):
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        expected[name] = {
            "cols": [cols[i] for i in order],
            "rows": [[_norm(r[i]) for i in order] for r in rows]}
    con.close()
    with open(out_path, "w") as f:
        json.dump(expected, f)


def _norm(v):
    import datetime
    import decimal
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
            microseconds=1)
    if isinstance(v, datetime.date):
        return (v - datetime.date(1970, 1, 1)).days
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return str(v)
    return v


# ---------------------------------------------------------------- corpus

def _vocab(rng, n):
    cons = list("bcdfghjklmnprstvwz")
    vows = list("aeiou")
    words = set()
    while len(words) < n:
        k = rng.integers(2, 5)
        words.add("".join(rng.choice(cons) + rng.choice(vows)
                          for _ in range(k)))
    return sorted(words)


def _quality(text):
    """Python twin of graft.functions.TextFunctions.qualityScore."""
    n_chars = float(len(text))
    n_tok = float(len([t for t in re.split(r"[ \t\n\x0b\f\r]+", text.strip())
                       if t]))
    mean_wl = n_chars / n_tok if n_tok > 0 else 0.0
    alpha = (len(re.sub(r"[^A-Za-z \t\n\x0b\f\r]", "", text)) / n_chars
             if n_chars > 0 else 0.0)
    len_score = min(n_chars / 200.0, 1.0)
    wl_score = 1.0 if 3.0 <= mean_wl <= 10.0 else 0.5
    return round((len_score + wl_score + alpha) / 3.0, 6)


def corpus(out, seed, n_docs, quality_min, ngram, span_w):
    """Documents with planted exact, near-duplicate, shared-paragraph,
    benchmark-contamination and low-quality rows; `truth.json` holds
    what a correct pipeline must find."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(int(seed))
    vocab = _vocab(rng, 5000)
    zipf_p = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf_p /= zipf_p.sum()

    def words(n):
        return [vocab[i] for i in rng.choice(len(vocab), size=n, p=zipf_p)]

    def paragraph():
        return " ".join(words(int(rng.integers(12, 30))))

    bench = [" ".join(words(30)) for _ in range(200)]
    boiler = [paragraph() for _ in range(40)]
    texts, kind = [], []
    near_pairs = []
    decomposed = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            j = int(rng.integers(0, i))
            texts.append(texts[j])
            kind.append("exact")
        elif i > 10 and r < 0.06 and kind[i - 1] != "junk":
            j = int(rng.integers(0, i))
            while kind[j] == "junk":
                j = int(rng.integers(0, i))
            toks = texts[j].split(" ")
            p = int(rng.integers(0, len(toks)))
            toks[p] = "zq" + vocab[int(rng.integers(0, len(vocab)))]
            texts.append(" ".join(toks))
            kind.append("near")
            near_pairs.append((j, i))
        elif i > 10 and r < 0.075 and decomposed:
            # an exact duplicate only after NFC: the copy of a document
            # with decomposed accents is composed
            j = decomposed[int(rng.integers(0, len(decomposed)))]
            texts.append(unicodedata.normalize("NFC", texts[j]))
            kind.append("nfc")
        elif r < 0.095:
            # short and non-alphabetic: quality score about 0.45
            texts.append(" ".join(str(int(x)) + "#%" for x in
                                  rng.integers(10 ** 5, 10 ** 6, size=6)))
            kind.append("junk")
        else:
            paras = [paragraph() for _ in range(int(rng.integers(2, 5)))]
            if rng.random() < 0.05:
                paras.insert(int(rng.integers(0, len(paras) + 1)),
                             boiler[int(rng.integers(0, len(boiler)))])
            if rng.random() < 0.02:
                b = bench[int(rng.integers(0, len(bench)))].split(" ")
                a = int(rng.integers(0, len(b) - ngram))
                paras[0] += " " + " ".join(b[a:a + ngram + 4])
            if rng.random() < 0.05:
                # decomposed accents: NFC changes these rows
                paras[-1] += " cafe\u0301 nai\u0308ve"
                decomposed.append(i)
            texts.append("\n".join(paras))
            kind.append("base")
    ids = list(range(n_docs))
    langs = [LANGS[int(x)] for x in rng.integers(0, len(LANGS), size=n_docs)]
    sources = ["src%d" % int(x) for x in rng.integers(0, 20, size=n_docs)]

    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()), "text": texts,
        "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    pq.write_table(pa.table({
        "doc_id": pa.array(range(len(bench)), pa.int64()), "text": bench}),
        f"{out}/benchmark.parquet")

    # ---- planted truth, replaying the pipeline's contracts
    kept_q = [i for i in ids if _quality(texts[i]) >= quality_min]
    nfc = {i: unicodedata.normalize("NFC", texts[i]) for i in kept_q}
    first = {}
    for i in kept_q:
        first.setdefault(nfc[i], i)
    survivors = sorted(first.values())
    surv = set(survivors)
    true_near = [(a, b) for a, b in near_pairs if a in surv and b in surv
                 and nfc[a] != nfc[b]]
    lines = set()
    for i in survivors:
        for ln in nfc[i].split("\n"):
            if ln.strip(" "):
                lines.add(ln)
    bench_grams = set()
    for b in bench:
        t = b.lower().split()
        bench_grams.update(" ".join(t[k:k + ngram])
                           for k in range(len(t) - ngram + 1))
    contaminated = []
    for i in survivors:
        t = nfc[i].lower().split()
        if any(" ".join(t[k:k + ngram]) in bench_grams
               for k in range(len(t) - ngram + 1)):
            contaminated.append(i)
    first_win = {}
    span_docs = set()
    for i in survivors:
        t = nfc[i].lower().split()
        for k in range(len(t) - span_w + 1):
            w = " ".join(t[k:k + span_w])
            if w in first_win:
                span_docs.add(i)
            else:
                first_win[w] = i
    truth = {
        "n_docs": n_docs,
        "quality_kept": len(kept_q),
        "survivors": len(survivors),
        "survivor_id_sum": sum(survivors),
        "exact_planted": sum(1 for k in kind if k == "exact"),
        "nfc_planted": sum(1 for k in kind if k == "nfc"),
        "near_pairs": true_near,
        "distinct_paragraphs": len(lines),
        "contaminated": contaminated,
        "span_docs": sorted(span_docs),
        "survivor_tokens": sum(len(nfc[i].split()) for i in survivors),
    }
    with open(f"{out}/truth.json", "w") as f:
        json.dump(truth, f)
    return {"documents": n_docs, "benchmark": len(bench),
            "text_bytes": sum(len(t.encode()) for t in texts)}


def graph_truth(data_dir, out_path):
    """Reference components and 3-core of the parts co-purchase graph
    (edges = parts ordered together, as the repo's graph queries build
    it), computed with union-find and peeling."""
    con = _connect(data_dir)
    e = con.execute(f"""
        SELECT DISTINCT least(x.l_partkey, y.l_partkey),
          greatest(x.l_partkey, y.l_partkey)
        FROM '{data_dir}/lineitem.parquet' x
        JOIN '{data_dir}/lineitem.parquet' y
          ON x.l_orderkey = y.l_orderkey AND x.l_partkey < y.l_partkey""") \
        .fetchnumpy()
    con.close()
    src, dst = (np.asarray(v, dtype=np.int64) for v in e.values())
    verts = np.unique(np.concatenate([src, dst]))
    parent = {int(v): int(v) for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in zip(src.tolist(), dst.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp = {v: find(v) for v in parent}
    adj = {int(v): set() for v in verts}
    for a, b in zip(src.tolist(), dst.tolist()):
        adj[a].add(b)
        adj[b].add(a)
    k = 3
    alive = set(adj)
    stack = [v for v in alive if len(adj[v]) < k]
    deg = {v: len(adj[v]) for v in adj}
    while stack:
        v = stack.pop()
        if v not in alive:
            continue
        alive.discard(v)
        for w in adj[v]:
            if w in alive:
                deg[w] -= 1
                if deg[w] < k:
                    stack.append(w)
    truth = {"edges": int(len(src)), "vertices": int(len(verts)),
             "components": len(set(comp.values())),
             "component_label_sum": int(sum(comp.values())),
             "kcore3": sorted(alive)}
    with open(out_path, "w") as f:
        json.dump(truth, f)
    return truth
