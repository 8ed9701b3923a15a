"""Seeded input generators and output checks for the workloads.

Each workload has `generate(seed, inputs_dir, seconds)`, which writes every
input graft will see (parquet tables, statement or query streams, delta
batches) and returns a description of those inputs (rows and bytes), and
`check(inputs_dir, out_dir, ops)`, which judges the outputs graft wrote
with DuckDB and returns the ids of the operations whose output is wrong.
Checks run after the timed region.
"""
import json
import math
import os
import random
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table, path):
    pq.write_table(pa.table(table), path)
    return {"rows": len(next(iter(table.values()))), "bytes": os.path.getsize(path)}


def _dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def _con(threads=2):
    con = duckdb.connect()
    con.execute(f"SET threads={threads}")
    return con


def _same(a, b):
    """Cell equality; floating values within 1e-6 relative."""
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        if isinstance(a, int) and isinstance(b, int):
            return a == b
        return math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-6)
    return str(a) == str(b)


def _rows_equal(got, exp, ordered=True):
    if len(got) != len(exp):
        return False
    if not ordered:
        key = lambda r: tuple("" if v is None else
                              (f"{v:.4f}" if isinstance(v, float) else str(v)) for v in r)
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    return all(len(g) == len(e) and all(_same(x, y) for x, y in zip(g, e))
               for g, e in zip(got, exp))


def _plain(v):
    return float(v) if isinstance(v, Decimal) else v


# --------------------------------------------------------------------------
# etl_session: one CLI-like statement stream. The generator keeps a model of
# which tables and partitions exist, so every statement is valid where it
# stands; each statement carries the DuckDB statements that apply the same
# change to a mirror of the tables, and what its own output must be.

ETL_SRC_ROWS = 100_000
ETL_FORMATS = ["TEXTFILE", "SEQUENCEFILE", "RCFILE"]
ETL_CATS = [f"c{i}" for i in range(6)]
ETL_STATIC = [f"p{i}" for i in range(6)]


class _EtlGen:
    def __init__(self, seed, inputs, src):
        self.r = random.Random(seed)
        self.inputs = inputs
        self.k, self.v, self.amt, self.cat = src
        self.tables = {}    # name -> {"fmt": ..., "parts": set of ds values}
        self.next_table = 0
        self.loads = 0
        self.sets = 0
        self.selects = 0
        self.sizes = []

    def _slice(self):
        """A source slice; its size comes from a shuffled deck of 12
        log-spaced sizes (10^2 to 10^4.3 rows), so every run writes the
        same size mix."""
        if not self.sizes:
            self.sizes = [int(10 ** (2 + 2.3 * i / 11)) for i in range(12)]
            self.r.shuffle(self.sizes)
        n = self.sizes.pop()
        lo = self.r.randrange(0, ETL_SRC_ROWS - n)
        return lo, lo + n

    def _table(self, pred=lambda t: True):
        names = sorted(n for n in self.tables if pred(n))
        return self.r.choice(names) if names else None

    @staticmethod
    def _stmt(hive, duck=(), expect=None):
        return {"hive": hive, "duck": list(duck), "expect": expect}

    def create(self, fmt=None):
        name = f"t{self.next_table}"
        self.next_table += 1
        fmt = fmt or ETL_FORMATS[self.next_table % len(ETL_FORMATS)]
        self.tables[name] = {"fmt": fmt, "parts": set()}
        return self._stmt(
            f"CREATE TABLE {name} (k INT, v STRING, amt DOUBLE) "
            f"PARTITIONED BY (ds STRING) STORED AS {fmt}",
            [f"CREATE TABLE {name} (k INTEGER, v VARCHAR, amt DOUBLE, ds VARCHAR)"])

    def _static_write(self, t, ds, lo, hi, overwrite):
        self.tables[t]["parts"].add(ds)
        where = f"k >= {lo} AND k < {hi}"
        duck = [f"DELETE FROM {t} WHERE ds = '{ds}'"] if overwrite else []
        duck.append(f"INSERT INTO {t} SELECT k, v, amt, '{ds}' FROM src WHERE {where}")
        return where, duck

    def insert(self, overwrite):
        t = self._table()
        ds = self.r.choice(ETL_STATIC)
        where, duck = self._static_write(t, ds, *self._slice(), overwrite)
        kw = "OVERWRITE" if overwrite else "INTO"
        return self._stmt(f"INSERT {kw} TABLE {t} PARTITION (ds='{ds}') "
                          f"SELECT k, v, amt FROM src WHERE {where}", duck)

    def insert_dynamic(self):
        t = self._table()
        lo, hi = self._slice()
        self.tables[t]["parts"] |= set(self.cat[lo:hi])
        where = f"k >= {lo} AND k < {hi}"
        return self._stmt(
            f"INSERT OVERWRITE TABLE {t} PARTITION (ds) "
            f"SELECT k, v, amt, cat FROM src WHERE {where}",
            [f"DELETE FROM {t} WHERE ds IN (SELECT DISTINCT cat FROM src WHERE {where})",
             f"INSERT INTO {t} SELECT k, v, amt, cat FROM src WHERE {where}"])

    def multi_insert(self):
        a = self._table()
        b = self._table(lambda n: n != a)
        hive, duck = ["FROM src"], []
        for t in (a, b):
            ds = self.r.choice(ETL_STATIC)
            where, d = self._static_write(t, ds, *self._slice(), True)
            hive.append(f"INSERT OVERWRITE TABLE {t} PARTITION (ds='{ds}') "
                        f"SELECT k, v, amt WHERE {where}")
            duck += d
        return self._stmt(" ".join(hive), duck)

    def load(self):
        t = self._table(lambda n: self.tables[n]["fmt"] == "TEXTFILE")
        if t is None:
            return self.create("TEXTFILE")
        ds = self.r.choice(ETL_STATIC)
        lo, hi = self._slice()
        path = os.path.join(self.inputs, "loads", f"load{self.loads}.txt")
        self.loads += 1
        with open(path, "w") as f:
            f.writelines(f"{self.k[i]}\x01{self.v[i]}\x01{self.amt[i]!r}\n"
                         for i in range(lo, hi))
        overwrite = self.r.random() < 0.3
        _, duck = self._static_write(t, ds, lo, hi, overwrite)
        kw = "OVERWRITE " if overwrite else ""
        return self._stmt(f"LOAD DATA LOCAL INPATH '{path}' {kw}INTO TABLE {t} "
                          f"PARTITION (ds='{ds}')", duck)

    def add_partition(self):
        t = self._table()
        free = [d for d in ETL_STATIC + ETL_CATS if d not in self.tables[t]["parts"]]
        if not free:
            return self.show_partitions()
        ds = self.r.choice(free)
        self.tables[t]["parts"].add(ds)
        return self._stmt(f"ALTER TABLE {t} ADD PARTITION (ds='{ds}')")

    def drop_partition(self):
        t = self._table(lambda n: bool(self.tables[n]["parts"]))
        if t is None:
            return self.add_partition()
        ds = self.r.choice(sorted(self.tables[t]["parts"]))
        self.tables[t]["parts"].discard(ds)
        return self._stmt(f"ALTER TABLE {t} DROP PARTITION (ds='{ds}')",
                          [f"DELETE FROM {t} WHERE ds = '{ds}'"])

    def show_partitions(self):
        t = self._table()
        return self._stmt(f"SHOW PARTITIONS {t}", expect={
            "partitions": sorted(f"ds={d}" for d in self.tables[t]["parts"])})

    def show_tables(self):
        return self._stmt("SHOW TABLES", expect={"tables": sorted(self.tables)})

    def describe(self):
        return self._stmt(f"DESCRIBE {self._table()}",
                          expect={"columns": ["k", "v", "amt", "ds"]})

    def set_(self):
        self.sets += 1
        key = self.r.choice(["hive.exec.reducers.bytes.per.reducer=1000000000", "hive.exec.compress.output=false",
                             f"graftbench.step={self.sets}"])
        return self._stmt(f"SET {key}")

    def select(self):
        t = self._table()
        kind = self.selects % 3
        self.selects += 1
        ds = self.r.choice(ETL_STATIC + ETL_CATS)
        if kind == 0:
            q = (f"SELECT ds, count(1) AS n, sum(k) AS sk, sum(amt) AS sa FROM {t} "
                 "GROUP BY ds ORDER BY ds")
        elif kind == 1:
            q = f"SELECT count(1) AS n FROM {t} WHERE ds = '{ds}'"
        else:
            q = (f"SELECT k, v, amt FROM {t} WHERE ds = '{ds}' "
                 "ORDER BY k, v, amt LIMIT 5")
        return self._stmt(q, expect={"query": q})

    def drop(self):
        t = self._table()
        del self.tables[t]
        return self._stmt(f"DROP TABLE {t}", [f"DROP TABLE {t}"])

    # One block of the stream: a fixed multiset of statement kinds, shuffled
    # by the seed, so every run sees the same mix whatever its length. No
    # recorded session backs the weights, so the mix is provisional: every
    # statement kind of an ETL session appears at least once, and the
    # weights beyond that are a steadiness choice. The writes, whose cost
    # varies smoothly with the slice size, are just over half of the block;
    # with fewer, the median fell between the latency clusters of the cheap
    # kinds and of the readbacks, and moved with the draw.
    BLOCK = (["overwrite"] * 5 + ["into"] * 3 + ["dynamic"] * 2 + ["multi"] * 2 +
             ["select"] * 3 +
             ["load", "add", "droppart", "showparts", "showtables", "describe", "set", "ddl"])

    def block(self):
        kinds = list(self.BLOCK)
        self.r.shuffle(kinds)
        return [self.step(k) for k in kinds]

    def step(self, kind):
        if kind == "ddl":
            if len(self.tables) <= 3 or (len(self.tables) < 6 and self.r.random() < 0.5):
                return self.create()
            return self.drop()
        return {"overwrite": lambda: self.insert(True),
                "into": lambda: self.insert(False),
                "dynamic": self.insert_dynamic, "multi": self.multi_insert,
                "load": self.load, "add": self.add_partition,
                "droppart": self.drop_partition, "showparts": self.show_partitions,
                "showtables": self.show_tables, "describe": self.describe,
                "set": self.set_, "select": self.select}[kind]()


def etl_generate(seed, inputs, seconds):
    rng = np.random.default_rng(seed)
    n = ETL_SRC_ROWS
    k = np.arange(n, dtype=np.int32)
    v = [f"v{x:x}" for x in rng.integers(0, 1 << 40, n)]
    amt = np.round(rng.uniform(0, 1000, n), 2)
    cat = [ETL_CATS[i] for i in rng.integers(0, len(ETL_CATS), n)]
    described = {"src": _write({"k": k, "v": v, "amt": amt, "cat": cat},
                               os.path.join(inputs, "src.parquet"))}
    os.makedirs(os.path.join(inputs, "loads"))
    gen = _EtlGen(seed, inputs, (k.tolist(), v, amt.tolist(), cat))
    warm = [gen._stmt("SET hive.exec.dynamic.partition=true"),
            gen._stmt("SET hive.exec.dynamic.partition.mode=nonstrict")]
    warm += [gen.create(f) for f in ETL_FORMATS]
    warm += gen.block()
    ops = []
    while len(ops) < seconds * 25 + 50:
        ops += gen.block()
    for name, stmts in (("warm", warm), ("ops", ops)):
        with open(os.path.join(inputs, f"{name}.sql"), "w") as f:
            f.writelines(s["hive"] + "\n" for s in stmts)
        with open(os.path.join(inputs, f"{name}.json"), "w") as f:
            json.dump(stmts, f)
    described["loads"] = {"files": gen.loads,
                          "bytes": _dir_bytes(os.path.join(inputs, "loads"))}
    return described


def etl_check(inputs, out, ops):
    con = _con()
    con.execute(f"CREATE TABLE src AS SELECT * FROM '{os.path.join(inputs, 'src.parquet')}'")
    stmts = {"w": json.load(open(os.path.join(inputs, "warm.json"))),
             "o": json.load(open(os.path.join(inputs, "ops.json")))}
    bad = []
    for op in ops:
        s = stmts[op["id"][0]][int(op["id"][1:])]
        for d in s["duck"]:
            con.execute(d)
        exp, rows = s["expect"] or {}, op["rows"]
        ok = op["error"] is None
        if ok and "query" in exp:
            want = [[_plain(x) for x in r] for r in con.execute(exp["query"]).fetchall()]
            ok = _rows_equal(rows, want)
        elif ok and "tables" in exp:
            ok = _table_names(rows) == exp["tables"]
        elif ok and "partitions" in exp:
            ok = sorted(r[0] for r in rows) == exp["partitions"]
        elif ok and "columns" in exp:
            names = [r[0] for r in rows if r[0] and not r[0].startswith("#")]
            ok = names[:4] == exp["columns"]
        if not ok:
            bad.append(op["id"])
    # final contents of every table the executed prefix left behind
    final = os.path.join(out, "final")
    left = sorted(os.listdir(final)) if os.path.isdir(final) else []
    live = sorted(r[0] for r in con.execute(
        "SELECT table_name FROM duckdb_tables() WHERE table_name <> 'src'").fetchall())
    if left != live:
        bad.append("final-tables")
    for t in set(left) & set(live):
        files = os.path.join(final, t, "*.parquet")
        got = con.execute(f"SELECT k, v, amt, ds FROM '{files}'").fetchall() \
            if any(f.endswith(".parquet") for f in os.listdir(os.path.join(final, t))) else []
        want = con.execute(f"SELECT k, v, amt, ds FROM {t}").fetchall()
        if not _rows_equal([list(r) for r in got], [list(r) for r in want], ordered=False):
            bad.append(f"final-{t}")
    return bad


def _table_names(rows):
    """Non-temporary table names from SHOW TABLES output (Hive's one-column
    form or Spark's namespace/name/isTemporary form)."""
    names = []
    for r in rows:
        if len(r) >= 3:
            if not r[2]:
                names.append(r[1])
        else:
            names.append(r[0])
    return sorted(n for n in names if n != "src")


# --------------------------------------------------------------------------
# dedup_ingest: a bootstrapped signature store and a stream of delta batches
# with planted near-duplicates.
#
# Document length and the planted rate follow the repo's `documents` test
# fixture: 10 to 99 words, uniform, and 5% of documents a copy of another
# one with one word appended (the fixture appends "dup"). Its vocabulary
# does not carry over: 30 words drawn uniformly make 70% of the fixture's
# documents near-duplicates (Jaccard >= 0.8) of another by chance. The
# Zipf-headed 6000-word vocabulary below is a provisional choice under
# which only planted documents are near-duplicates.

DEDUP_STORE_DOCS = 12_000
DEDUP_BATCH_DOCS = 300
DEDUP_VOCAB = 6000
DEDUP_DUP_FRAC = 0.05
DEDUP_WARM = 5               # admits before the timed region


def _words(rng, n):
    return [f"w{i}" for i in np.minimum(rng.zipf(1.3, n) - 1 + rng.integers(0, 40, n),
                                        DEDUP_VOCAB)]


def dedup_generate(seed, inputs, seconds):
    rng = np.random.default_rng(seed)
    n_batches = int(seconds * 1.5) + 10
    total = DEDUP_STORE_DOCS + n_batches * DEDUP_BATCH_DOCS
    ids = rng.permutation(total).astype(np.int64) + 1
    langs = ["en", "de", "fr"]

    def fresh():
        return " ".join(_words(rng, int(rng.integers(10, 100))))

    def table(doc_ids, texts):
        return {"doc_id": np.asarray(doc_ids, dtype=np.int64), "text": texts,
                "lang": [langs[int(i) % 3] for i in doc_ids],
                "n_chars": np.asarray([len(t) for t in texts], dtype=np.int64)}

    texts = [fresh() for _ in range(DEDUP_STORE_DOCS)]
    described = {"store": _write(table(ids[:DEDUP_STORE_DOCS], texts),
                                 os.path.join(inputs, "store.parquet"))}
    os.makedirs(os.path.join(inputs, "deltas"))
    paths, planted = [], 0
    for b in range(n_batches):
        lo = len(texts)
        for _ in range(DEDUP_BATCH_DOCS):
            if rng.random() < DEDUP_DUP_FRAC:
                # a copy of any earlier document: the store, an earlier
                # delta or this one
                texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
                planted += 1
            else:
                texts.append(fresh())
        p = os.path.join(inputs, "deltas", f"batch{b:04d}.parquet")
        _write(table(ids[lo:len(texts)], texts[lo:]), p)
        paths.append(p)
    described["deltas"] = {"batches": n_batches, "rows": n_batches * DEDUP_BATCH_DOCS,
                           "rows_per_batch": DEDUP_BATCH_DOCS, "planted_near_dups": planted,
                           "bytes": _dir_bytes(os.path.join(inputs, "deltas"))}
    with open(os.path.join(inputs, "warm.txt"), "w") as f:
        f.writelines(p + "\n" for p in paths[:DEDUP_WARM])
    with open(os.path.join(inputs, "ops.txt"), "w") as f:
        f.writelines(p + "\n" for p in paths[DEDUP_WARM:])
    return described


def _half_up6(x):
    return Decimal(repr(x)).quantize(Decimal("0.000001"), rounding=ROUND_HALF_UP)


def dedup_check(inputs, out, ops):
    """Replays the chained-admission rule of the q131 oracle over every
    admit the run made, in order: a delta document is rejected when one of
    the 10 lowest ids in a shared (band, hash) bucket of store + delta is a
    store document (any id order) or an earlier delta document, and their
    exact word-set Jaccard, rounded to 6 places, is at least 0.8."""
    batches = ([l.strip() for l in open(os.path.join(inputs, "warm.txt")) if l.strip()] +
               [l.strip() for l in open(os.path.join(inputs, "ops.txt")) if l.strip()])
    order = [batches[int(op["id"][1:]) + (0 if op["id"][0] == "w" else DEDUP_WARM)]
             for op in ops]
    con = _con(threads=4)
    files = [os.path.join(inputs, "store.parquet")] + order
    con.execute(f"""
        CREATE TABLE sig AS
        WITH w AS (
          SELECT doc_id, list_distinct(str_split(lower(text), ' ')) AS words
          FROM read_parquet({files!r})),
        dw AS (SELECT doc_id, unnest(words) AS word FROM w),
        -- each (seed, word) hash once, not once per document
        h AS (
          SELECT word, i, CAST(('0x' || substr(md5(i || ':' || word), 1, 8)) AS BIGINT) AS h
          FROM (SELECT DISTINCT word FROM dw), range(0, 16) r(i)),
        m AS (SELECT doc_id, i, min(h) AS m FROM dw JOIN h USING (word) GROUP BY doc_id, i)
        SELECT doc_id, words,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) FILTER (WHERE i < 8)) AS b0,
               md5(string_agg(CAST(m AS VARCHAR), ',' ORDER BY i) FILTER (WHERE i >= 8)) AS b1
        FROM w JOIN m USING (doc_id) GROUP BY doc_id, words""")
    words, bands = {}, {}
    for doc_id, ws, b0, b1 in con.execute("SELECT doc_id, words, b0, b1 FROM sig").fetchall():
        words[doc_id] = set(ws)
        bands[doc_id] = ((0, b0), (1, b1))
    buckets = {}

    def admit_to_store(ids):
        for d in ids:
            for key in bands[d]:
                buckets.setdefault(key, []).append(d)

    store_ids = pq.read_table(os.path.join(inputs, "store.parquet"),
                              columns=["doc_id"]).column(0).to_pylist()
    admit_to_store(store_ids)
    bad = []
    for op, path in zip(ops, order):
        delta = pq.read_table(path, columns=["doc_id"]).column(0).to_pylist()
        dset = set(delta)
        local = {}
        for d in delta:
            for key in bands[d]:
                local.setdefault(key, []).append(d)
        rejected = set()
        for key, members in local.items():
            kept = sorted(buckets.get(key, []) + members)[:10]
            for b in members:
                for a in kept:
                    if (a not in dset and a != b) or (a in dset and a < b):
                        wa, wb = words[a], words[b]
                        inter = len(wa & wb)
                        if _half_up6(inter / (len(wa) + len(wb) - inter)) >= _half_up6(0.8):
                            rejected.add(b)
        admitted = sorted(d for d in delta if d not in rejected)
        got = sorted(r[0] for r in op["rows"])
        if op["error"] is not None or got != admitted:
            bad.append(op["id"])
        admit_to_store(admitted)
    return bad


WORKLOADS = {
    "etl_session": (etl_generate, etl_check),
    "dedup_ingest": (dedup_generate, dedup_check),
}
