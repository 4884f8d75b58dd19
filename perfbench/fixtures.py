"""Seeded inputs for the benchmark, and the oracles that say what the engine
must answer on them.

ETL fixtures are pages in the shape of the connector's paginated API (the
bundled test pages): items under ``results`` or ``pulses`` or as a bare
array, one empty page per fixture, keyed items whose key sits in
``pulse_info.id`` or only in the top-level ``id``, duplicate keys within
and across pages, keyless items (the append path) and scalar items (the
quarantine path). ``EtlState`` replays pages with the connector's rules,
independently of the engine: last write wins per key, keyless items
append, non-object items are quarantined.

Board tables regenerate the engine's sf0.1 test corpus (TESTDATA.md)
row for row; ``table_digests`` and ``corpus_sf0.1.json`` prove it.
``board_oracle`` runs the engine's DuckDB oracle SQL over them.
"""
import hashlib
import json
import os
import random

WORDS = ("apt botnet c2 dns exfil fast flux hash ioc kill chain lateral loader "
         "macro phish ransom rat sinkhole spam stager tor url worm yara zero").split()
ENVELOPES = ("results", "pulses", "array")


def _doc(rng, key, serial):
    """One pulse document; ``key`` None makes it keyless."""
    name = "pulse %d %s" % (serial, " ".join(rng.choice(WORDS) for _ in range(rng.randint(1, 3))))
    count = None if rng.random() < 0.1 else rng.randint(0, 5000)
    day = "2024-%02d-%02dT00:00:00Z" % (rng.randint(1, 12), rng.randint(1, 28))
    if key is None:
        doc = ({"name": name, "indicator_count": count} if rng.random() < 0.5 else
               {"pulse_info": {"name": name, "created": day}, "indicator_count": count})
    else:
        mode = rng.random()
        if mode < 0.6:    # key in pulse_info.id; a different top-level id loses the coalesce
            doc = {"id": rng.randint(1, 10 ** 6), "indicator_count": count,
                   "pulse_info": {"name": name, "id": key, "created": day, "modified": day}}
        elif mode < 0.85:  # pulse_info without an id: the key falls back to the top level
            doc = {"id": key, "indicator_count": count, "pulse_info": {"name": name, "created": day}}
        else:             # no pulse_info at all
            doc = {"id": key, "indicator_count": count}
    if count is None and rng.random() < 0.5:
        del doc["indicator_count"]  # absent and null must read the same
    doc["tags"] = [rng.choice(WORDS) for _ in range(rng.randint(2, 6))]
    doc["description"] = " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 24)))
    return doc


def _malformed(rng):
    return rng.choice([rng.randint(0, 999), "broken %s" % rng.choice(WORDS), True, False])


def page_text(rng, items):
    env = rng.choice(ENVELOPES)
    body = items if env == "array" else {env: items}
    return json.dumps(body, separators=(",", ":"))


def etl_pages(rng, n_pages, per_page, pick_key, empty_page, keyless_frac=0.05,
              malformed_frac=0.03):
    """Page texts in page order. ``pick_key(rng)`` draws the key of a keyed
    item; one in twenty keyed items repeats a key already used on the page."""
    pages, serial = [], 0
    for p in range(n_pages):
        if p == empty_page:
            pages.append(json.dumps({rng.choice(("results", "pulses")): []}))
            continue
        items, used = [], []
        for _ in range(per_page):
            serial += 1
            r = rng.random()
            if r < malformed_frac:
                items.append(_malformed(rng))
            elif r < malformed_frac + keyless_frac:
                items.append(_doc(rng, None, serial))
            else:
                key = rng.choice(used) if used and rng.random() < 0.05 else pick_key(rng)
                used.append(key)
                items.append(_doc(rng, key, serial))
        pages.append(page_text(rng, items))
    return pages


def write_pages(directory, texts):
    os.makedirs(directory, exist_ok=True)
    for i, text in enumerate(texts):
        with open(os.path.join(directory, "page-%d.json" % i), "w") as f:
            f.write(text)


def extract_items(root):
    """The connector's envelope rule: ``results``, else ``pulses`` (an empty
    list counts as absent), else the first non-empty list member, else the
    payload itself when it is a list."""
    if isinstance(root, list):
        return root
    if not isinstance(root, dict):
        return []
    for k in ("results", "pulses"):
        v = root.get(k)
        if isinstance(v, list) and v:
            return v
    for v in root.values():
        if isinstance(v, list) and v:
            return v
    return []


class EtlState:
    """Expected snapshot: last write wins per key in page-then-item order,
    keyless rows append, non-object items are quarantined."""

    def __init__(self):
        self.keyed = {}
        self.keyless = []
        self.quarantined = 0
        self.valid = 0

    def apply(self, texts):
        for text in texts:
            for it in extract_items(json.loads(text)):
                if not isinstance(it, dict):
                    self.quarantined += 1
                    continue
                self.valid += 1
                pi = it.get("pulse_info") if isinstance(it.get("pulse_info"), dict) else None
                key = pi.get("id") if pi and pi.get("id") is not None else it.get("id")
                row = (key, pi.get("name") if pi else None, it.get("indicator_count"))
                if key is None:
                    self.keyless.append(row)
                else:
                    self.keyed[key] = row
        return self

    def rows(self):
        return list(self.keyed.values()) + self.keyless

    def summary(self):
        rows = self.rows()
        return {"rows": len(rows), "hash": row_hash(rows), "keyless": len(self.keyless),
                "quarantined": self.quarantined, "valid": self.valid}


def row_hash(rows):
    """Order-independent: the sum mod 2^64 of the first 8 bytes of each
    row's SHA-256 over its fields joined by \\x1f, nulls written as \\N."""
    total = 0
    for row in rows:
        text = "\x1f".join("\\N" if v is None else str(v) for v in row)
        total += int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
    return str(total % (1 << 64))


# ---- workload fixtures ------------------------------------------------------

BATCH_PAGES, BATCH_PER_PAGE, BATCH_FIXTURES = 100, 50, 2


def batch_fixtures(seed, root, pages=BATCH_PAGES):
    """``BATCH_FIXTURES`` fixtures of 100 pages x 50 items (the connector's
    own per-run cap), one page of each empty, and one more, ``warm-up``, for
    the warm-up runs. Returns the expected state of a run over each
    fixture, by directory name."""
    rng = random.Random(seed)
    key_space = int(BATCH_PAGES * BATCH_PER_PAGE * 0.7)
    expected = {}
    for name, n in ([("fx-%d" % f, pages) for f in range(BATCH_FIXTURES)] + [("warm-up", pages)]):
        texts = etl_pages(rng, n, BATCH_PER_PAGE, lambda r: 10_000_000 + r.randrange(key_space),
                          empty_page=rng.randrange(n))
        write_pages(os.path.join(root, name), texts)
        expected[name] = EtlState().apply(texts).summary()
    return expected


# ---- board tables -----------------------------------------------------------

CORPUS_SEED = 42  # the corpus's own seed (TESTDATA.md)


def board_tables(root, sf=0.1):
    """The ten tables of the engine's test corpus at scale ``sf``, one
    parquet file each. At sf0.1 they hold exactly the corpus's rows
    (``corpus_sf0.1.json`` pins their digests): the same draws in the same
    order from NumPy's default generator."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(CORPUS_SEED)
    os.makedirs(root, exist_ok=True)
    n = lambda base: max(1, int(base * sf))
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(root, name + ".parquet"))

    def pick(choices, size):
        return pa.array(np.array(choices, dtype=object)[rng.integers(0, len(choices), size)], s)

    def money(lo, hi, size):
        return pa.array(np.round(rng.uniform(lo, hi, size), 2), f64)

    def days(start, end, size):
        lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
        d = lo + rng.integers(0, (hi - lo).astype(int) + 1, size).astype("timedelta64[D]")
        return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))

    write("region", {"r_regionkey": pa.array(range(5), i32),
                     "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)})
    write("nation", {"n_nationkey": pa.array(range(25), i32),
                     "n_name": pa.array(["NATION_%d" % i for i in range(25)], s),
                     "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc, ns, npart, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    write("customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array(["Customer#%09d" % i for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": pick(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"], nc)})
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array(["Supplier#%09d" % i for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(-999.99, 9999.99, ns)})
    adj = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
    noun = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
    write("part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(["%s %s" % (adj[a], noun[b]) for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))], s),
        "p_brand": pa.array(["Brand#%d" % b for b in rng.integers(1, 26, npart)], s),
        "p_type": pick(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"], npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(900.0 + (np.arange(npart) % 1000) / 10.0, f64)})
    write("orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pick(["O", "F", "P"], no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": days("1995-01-01", "2001-08-01", no),
        "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)})
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": money(900.0, 105000.0, nl),
        "l_discount": money(0.0, 0.1, nl),
        "l_tax": money(0.0, 0.08, nl),
        "l_returnflag": pick(["R", "A", "N"], nl),
        "l_linestatus": pick(["O", "F"], nl),
        "l_shipdate": days("1995-01-02", "2001-11-04", nl)})
    ne, nu = n(1_000_000), n(15_000)
    seconds = np.sort(rng.uniform(0, 30 * 86400, ne))
    ts = np.datetime64("2024-01-01", "us") + ((seconds * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]")
    write("events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, nu, ne), i64),
        "event_type": pick(["click", "view", "purchase", "signup", "error"], ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), f64),
        "props": pa.array(['{"k": %d}' % k for k in rng.integers(0, 100, ne)], s)})
    vocab = np.array(("the a spark query table join group filter window data order customer part "
                      "line fast slow big small hash sort merge scan agg stream batch vector key "
                      "value row column").split())
    nd = n(50_000)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))]) for _ in range(nd)]
    # one document in twenty is another's text with " dup" appended
    for i, j in zip(rng.choice(nd, nd // 20, replace=False), rng.integers(0, nd, nd // 20)):
        texts[i] = texts[j] + " dup"
    write("documents", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pick(["en", "en", "en", "de", "fr", "es", "zh"], nd),
        "source": pa.array(["src%d" % (i % 20) for i in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    nv = n(20_000)
    vecs = rng.normal(size=(nv, 64)).astype(np.float32)
    vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})


def table_digests(tables_dir):
    """Per table: its row count and an MD5 over its column names and types
    and its rows rendered by DuckDB, in sorted order, so two directories
    compare equal exactly when they hold the same tables."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    out = {}
    for t in TABLES:
        src = "read_parquet('%s')" % os.path.join(tables_dir, t + ".parquet")
        schema = con.execute("DESCRIBE SELECT * FROM %s" % src).fetchall()
        rows, digest = con.execute(
            "SELECT count(*), md5(%s || string_agg(CAST(x AS VARCHAR), chr(10) "
            "ORDER BY CAST(x AS VARCHAR))) FROM %s x"
            % ("'%s'" % repr([c[:2] for c in schema]).replace("'", "''"), src)).fetchone()
        out[t] = {"rows": rows, "md5": digest}
    con.close()
    return out


TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def canonical(table):
    """A result as a hashable value, independent of engine: columns sorted
    by name; integer widths folded, but integers kept apart from floats;
    timestamps compared by date, as the board's own cross-check does."""
    import datetime
    cols = sorted(table.column_names)

    def cell(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, int):
            return ("i", v)
        if isinstance(v, float):
            return ("f", repr(v))
        if isinstance(v, datetime.datetime):
            return ("d", v.date().isoformat())
        if isinstance(v, datetime.date):
            return ("d", v.isoformat())
        if isinstance(v, list):
            return ("l", tuple(cell(x) for x in v))
        return (type(v).__name__, str(v))

    rows = zip(*(table.column(c).to_pylist() for c in cols)) if cols else []
    data = repr((cols, [tuple(cell(v) for v in r) for r in rows]))
    return {"rows": table.num_rows, "hash": hashlib.sha256(data.encode()).hexdigest()}


def board_oracle(tables_dir, sql_by_query):
    """DuckDB over the same parquet files: canonical result per query."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % max(1, len(os.sched_getaffinity(0))))
    for t in TABLES:
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(tables_dir, t + ".parquet")))
    out = {q: canonical(con.execute(sql).fetch_arrow_table()) for q, sql in sql_by_query.items()}
    con.close()
    return out


def spark_result(directory):
    import pyarrow.parquet as pq
    files = sorted(f for f in os.listdir(directory) if f.endswith(".parquet"))
    return canonical(pq.ParquetDataset([os.path.join(directory, f) for f in files]).read())
