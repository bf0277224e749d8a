"""The `query_sweep` inputs and their output check.

`generate` writes the analytics corpus -- the star-schema tables plus the
`events` and `documents` tables the engine's queries read -- as one parquet
file per table, with the column names, types and value ranges of the
engine's test corpus at sf0.01. Every value comes from Python's seeded RNG,
so the same seed gives the same files.

`check` compares each query's result, as the sweep's untimed pass wrote it,
with the result of the query's DuckDB reference SQL (the engine's
`SparkEntry.oracleSql`, which the sweep writes next to the results) over the
same files. The comparison sorts columns by name and rows by value, and
allows 1e-9 of absolute difference on doubles.
"""
import datetime
import glob
import json
import math
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {"customer": 1500, "part": 2000, "supplier": 100, "orders": 15000,
         "lineitem": 60000, "events": 10000, "documents": 300}
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en"] * 9 + ["de", "de", "es", "es", "fr", "fr", "zh", "zh"]
WORDS = ("a the agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
ADJ = "blue green red small large shiny metal".split()
NOUN = "anvil bolt gear nut spring valve widget wheel shaft".split()
NATIONS = 25
MATERIALIZE = re.compile(r"\b([A-Za-z_]\w*) AS \((\s*SELECT)")


def _day(start, end, rng):
    span = (end - start).days
    return datetime.datetime.combine(start + datetime.timedelta(days=rng.randrange(span + 1)),
                                     datetime.time())


def _write(out, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out, f"{name}.parquet"))


def generate(out, seed):
    """Write the corpus for `seed` under `out`, one parquet file per table."""
    os.makedirs(out, exist_ok=True)

    def rng(table):
        return random.Random(f"{seed}/{table}")

    ts = pa.timestamp("us")
    i32 = pa.int32()
    r = rng("region")
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(NATIONS), i32),
        "n_name": [f"NATION{k:02d}" for k in range(NATIONS)],
        "n_regionkey": pa.array([r.randrange(5) for _ in range(NATIONS)], i32)})

    n = SIZES["customer"]
    r = rng("customer")
    _write(out, "customer", {
        "c_custkey": pa.array(range(n), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n)],
        "c_nationkey": pa.array([r.randrange(NATIONS) for _ in range(n)], i32),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)],
        "c_mktsegment": [r.choice(SEGMENTS) for _ in range(n)]})

    n = SIZES["supplier"]
    r = rng("supplier")
    _write(out, "supplier", {
        "s_suppkey": pa.array(range(n), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n)],
        "s_nationkey": pa.array([r.randrange(NATIONS) for _ in range(n)], i32),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n)]})

    n = SIZES["part"]
    r = rng("part")
    _write(out, "part", {
        "p_partkey": pa.array(range(n), pa.int64()),
        "p_name": [f"{r.choice(ADJ)} {r.choice(NOUN)}" for _ in range(n)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n)],
        "p_type": [r.choice(PART_TYPES) for _ in range(n)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n)], i32),
        "p_retailprice": [r.randrange(9000, 10000) / 10 for _ in range(n)]})

    n = SIZES["orders"]
    r = rng("orders")
    d0, d1 = datetime.date(1995, 1, 1), datetime.date(2001, 8, 1)
    _write(out, "orders", {
        "o_orderkey": pa.array(range(n), pa.int64()),
        "o_custkey": pa.array([r.randrange(SIZES["customer"]) for _ in range(n)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n)],
        "o_totalprice": [r.randrange(100000, 50000000) / 100 for _ in range(n)],
        "o_orderdate": pa.array([_day(d0, d1, r) for _ in range(n)], ts),
        "o_orderpriority": [r.choice(PRIORITIES) for _ in range(n)]})

    n = SIZES["lineitem"]
    r = rng("lineitem")
    d0, d1 = datetime.date(1995, 1, 2), datetime.date(2001, 11, 4)
    _write(out, "lineitem", {
        "l_orderkey": pa.array([r.randrange(SIZES["orders"]) for _ in range(n)], pa.int64()),
        "l_partkey": pa.array([r.randrange(SIZES["part"]) for _ in range(n)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(SIZES["supplier"]) for _ in range(n)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n)], i32),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(n)],
        "l_extendedprice": [r.randrange(90000, 10500000) / 100 for _ in range(n)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(n)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(n)],
        "l_returnflag": [r.choice("ANR") for _ in range(n)],
        "l_linestatus": [r.choice("FO") for _ in range(n)],
        "l_shipdate": pa.array([_day(d0, d1, r) for _ in range(n)], ts)})

    n = SIZES["events"]
    r = rng("events")
    t0 = datetime.datetime(2024, 1, 1)
    _write(out, "events", {
        "event_id": pa.array(range(n), pa.int64()),
        "ts": pa.array([t0 + datetime.timedelta(microseconds=r.randrange(30 * 86400 * 10**6))
                        for _ in range(n)], ts),
        "user_id": pa.array([r.randrange(150) for _ in range(n)], pa.int64()),
        "event_type": [r.choice(EVENT_TYPES) for _ in range(n)],
        "value": [r.randint(1, 49002) / 100 for _ in range(n)],
        "props": [f'{{"k": {r.randrange(100)}}}' for _ in range(n)]})

    n = SIZES["documents"]
    r = rng("documents")
    texts = [" ".join(r.choice(WORDS) for _ in range(r.randint(8, 90))) for _ in range(n)]
    _write(out, "documents", {
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": [r.choice(LANGS) for _ in range(n)],
        "source": [f"src{r.randrange(20)}" for _ in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})


def _canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = [tuple(v.isoformat() if hasattr(v, "isoformat") else v for v in (row[i] for i in order))
            for row in rows]
    return [cols[i] for i in order], sorted(norm, key=lambda t: tuple(str(x) for x in t))


def _differ(a, b):
    if a == b:
        return False
    if isinstance(a, float) and isinstance(b, float):
        return not (math.isnan(a) and math.isnan(b)) and abs(a - b) > 1e-9
    return True


def _compare(spark_cols, spark_rows, duck_cols, duck_rows):
    sc, srows = _canon(spark_cols, spark_rows)
    dc, drows = _canon(duck_cols, duck_rows)
    if sc != dc:
        return f"columns {sc} != {dc}"
    if len(srows) != len(drows):
        return f"{len(srows)} rows, expected {len(drows)}"
    for x, y in zip(srows, drows):
        if any(_differ(a, b) for a, b in zip(x, y)):
            return f"row {x} != {y}"
    return None


def check(data, results, corrupt=False):
    """Compare every query result under `results` with its DuckDB oracle.
    Returns (queries checked, error messages). With `corrupt`, each expected
    result loses its last row (or gains one), so every query must fail.
    """
    import duckdb  # the check's only use of DuckDB; imported late so that
    # a run without it fails here, after the timing, with a clear message
    oracle = json.load(open(os.path.join(results, "oracle_sql.json")))
    con = duckdb.connect()
    con.execute("SET threads = 2")
    for f in sorted(glob.glob(os.path.join(data, "*.parquet"))):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    errors = []
    for q, sql in sorted(oracle.items()):
        # The same SQL with every CTE evaluated once: DuckDB inlines CTEs,
        # and the BPE oracle's eight chained rounds, each naming the round
        # before twice, take seconds inlined and milliseconds materialized.
        sql = MATERIALIZE.sub(r"\1 AS MATERIALIZED (\2", sql)
        files = glob.glob(os.path.join(results, q, "*.parquet"))
        if not files:
            errors.append(f"{q}: no result written")
            continue
        try:
            s = con.execute(f"SELECT * FROM read_parquet('{os.path.join(results, q)}/*.parquet')")
            s_cols, s_rows = [d[0] for d in s.description], s.fetchall()
            d = con.execute(sql)
            d_cols, d_rows = [x[0] for x in d.description], d.fetchall()
        except Exception as e:  # noqa: BLE001 -- any failure is a failed check
            errors.append(f"{q}: {e}")
            continue
        if corrupt:
            d_rows = d_rows[:-1] if d_rows else [tuple(0 for _ in d_cols)]
        diff = _compare(s_cols, s_rows, d_cols, d_rows)
        if diff:
            errors.append(f"{q}: {diff}"[:300])
    return len(oracle), errors
