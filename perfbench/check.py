"""Benchmark-side expected results: the checksum of a DuckDB result computed
exactly like the JVM's (perfbench/scala/perfbench/Checksum.scala), the
registry specs' DuckDB oracles, the DuckDB twin of the reference ETL and a
replay of the lakehouse ops on a plain DuckDB table."""
import datetime as dt
import os
import zlib
from decimal import Decimal

import duckdb

EPOCH_D = dt.date(1970, 1, 1)
EPOCH_TS = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _crc(x):
    if isinstance(x, str):
        x = x.encode("utf-8")
    return zlib.crc32(bytes(x))


def _micros(x):
    if isinstance(x, dt.datetime):
        if x.tzinfo is None:
            x = x.replace(tzinfo=dt.timezone.utc)
        d = x - EPOCH_TS
        return (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds
    if isinstance(x, dt.date):
        return (x - EPOCH_D).days * 86_400_000_000
    return float(x)


def _days(x):
    if isinstance(x, dt.datetime):
        x = x.date()
    return (x - EPOCH_D).days


def _num(x):
    if isinstance(x, (bool, int, float, Decimal)):
        return float(x)
    raise TypeError(f"not numeric: {x!r}")


VALUE = {
    "num": _num,
    "str": _crc,
    "date": _days,
    "ts": _micros,
    "arrnum": lambda xs: sum(float(v) for v in xs if v is not None),
    "arrstr": lambda xs: sum(_crc(v) for v in xs if v is not None),
}


def checksum(names, rows, tags):
    """Checksum of ``rows`` (tuples in ``names`` order) with the JVM's tags
    per column name. Returns {"rows", "cols": {name: (nonNull, sum, absSum)}}."""
    cols = {}
    for i, n in enumerate(names):
        tag = tags.get(n, "other")
        nn, s, a = 0, 0.0, 0.0
        f = VALUE.get(tag)
        for r in rows:
            v = r[i]
            if v is None:
                continue
            nn += 1
            if f is not None:
                x = f(v)
                s += x
                a += abs(x)
        cols[n] = (nn, s, a)
    return {"rows": len(rows), "cols": cols}


def compare(got, exp):
    """None if the JVM checksum ``got`` matches ``exp``, else a reason."""
    if got["rows"] != exp["rows"]:
        return f"rows: got {got['rows']} expected {exp['rows']}"
    names = sorted(c[0] for c in got["cols"])
    if names != sorted(exp["cols"]):
        return f"columns: got {names} expected {sorted(exp['cols'])}"
    for name, tag, nn, s in got["cols"]:
        enn, es, ea = exp["cols"][name]
        if nn != enn:
            return f"{name}: {nn} non-null, expected {enn}"
        if tag == "other":
            continue
        if tag in ("str", "date", "arrstr"):
            if int(s) != int(es):
                return f"{name}: sum {s} expected {es}"
        elif s is None or abs(float(s) - es) > 1e-9 * max(1.0, ea):
            return f"{name}: sum {s} expected {es}"
    return None


def tags_of(got):
    return {name: tag for name, tag, _, _ in got["cols"]}


def _run(con, sql):
    cur = con.execute(sql)
    names = [d[0] for d in cur.description]
    return names, cur.fetchall()


def registry_expected(tables_dir, oracles, tags_by_name):
    """Checksum of each registry spec's DuckDB oracle over the generated
    tables; a spec whose oracle errors maps to an error string."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for name, sql in oracles.items():
        if name not in tags_by_name:
            continue
        try:
            names, rows = _run(con, sql)
            out[name] = checksum(names, rows, tags_by_name[name])
        except Exception as e:  # noqa: BLE001 - reported as the op's verdict
            out[name] = f"oracle error: {e}"
    return out


ETL_COLS = ["transaction_id", "user_id", "product_id", "category", "amount",
            "currency", "amount_usd", "timestamp", "transaction_date",
            "transaction_year", "transaction_month", "transaction_week",
            "transaction_day"]
ETL_DOUBLES = {"amount", "amount_usd"}


def _etl_checksum(con, relation):
    """Order-insensitive checksum of the 13 output columns, computed in
    DuckDB: exact for keys, strings, dates and ints, a sum for doubles."""
    parts = ["count(*)"]
    for c in ETL_COLS:
        q = f'"{c}"'
        if c in ETL_DOUBLES:
            parts += [f"count({q})", f"sum({q})", f"sum(abs({q}))"]
        elif c == "timestamp":
            parts += [f"count({q})", f"sum(epoch_us({q}))"]
        elif c == "transaction_date":
            parts += [f"count({q})", f"sum({q} - DATE '1970-01-01')"]
        else:
            parts += [f"count({q})", f"sum(hash({q}))"]
    return con.execute(f"SELECT {', '.join(parts)} FROM ({relation})").fetchone()


def etl_expected(etl_dir):
    """The reference transform (latest rate wins, 1.0 fallback, USD bypass,
    left-outer categories, derived date parts) in DuckDB over the raw CSVs:
    (checksum, rows)."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    tx = os.path.join(etl_dir, "tx", "*.csv")
    sql = f"""
      WITH tx AS (
        SELECT transaction_id, user_id, product_id,
               CAST(CAST(amount AS FLOAT) AS DOUBLE) AS amount, currency,
               CAST("timestamp" AS TIMESTAMPTZ) AS ts
        FROM read_csv('{tx}', header=true, all_varchar=true)),
      rates AS (
        SELECT currency, CAST(rate_to_usd AS FLOAT) AS rate_to_usd,
               CAST(rate_date AS TIMESTAMP) AS rate_date
        FROM read_csv('{os.path.join(etl_dir, "rates.csv")}', header=true, all_varchar=true)),
      latest AS (
        SELECT currency, rate_to_usd FROM rates
        QUALIFY row_number() OVER (PARTITION BY currency
                                   ORDER BY rate_date DESC, rate_to_usd DESC) = 1),
      cats AS (
        SELECT product_id, category
        FROM read_csv('{os.path.join(etl_dir, "categories.csv")}', header=true, all_varchar=true))
      SELECT t.transaction_id, t.user_id, t.product_id, c.category, t.amount, t.currency,
             CASE WHEN t.currency = 'USD' THEN t.amount
                  ELSE t.amount * coalesce(CAST(l.rate_to_usd AS DOUBLE), 1.0) END AS amount_usd,
             t.ts AS "timestamp", CAST(t.ts AS DATE) AS transaction_date,
             CAST(year(t.ts) AS INTEGER) AS transaction_year,
             CAST(month(t.ts) AS INTEGER) AS transaction_month,
             CAST(weekofyear(t.ts) AS INTEGER) AS transaction_week,
             CAST(dayofmonth(t.ts) AS INTEGER) AS transaction_day
      FROM tx t LEFT JOIN latest l ON t.currency = l.currency
      LEFT JOIN cats c ON t.product_id = c.product_id"""
    exp = _etl_checksum(con, sql)
    return exp, exp[0]


def etl_check(out_dir, exp):
    """None if one EtlJob output (partitioned by load_date) matches the
    expected checksum, else a reason."""
    parts = sorted(os.listdir(out_dir))
    parts = [d for d in parts if d.startswith("load_date=")]
    if parts != ["load_date=2025-07-01"]:
        return f"partitions {parts}, expected ['load_date=2025-07-01']"
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    got = _etl_checksum(con, f"SELECT * FROM read_parquet('{out_dir}/*/*.parquet')")
    names = ["rows"] + [f"{c}.{k}" for c in ETL_COLS
                        for k in (("n", "sum", "abs") if c in ETL_DOUBLES else ("n", "sum"))]
    for i, (g, e) in enumerate(zip(got, exp)):
        if names[i].endswith(".abs"):
            continue
        if names[i].split(".")[0] in ETL_DOUBLES and names[i].endswith(".sum"):
            if g is None or abs(g - e) > 1e-9 * max(1.0, exp[i + 1]):
                return f"{names[i]}: {g} expected {e}"
        elif g != e:
            return f"{names[i]}: {g} expected {e}"
    return None


def stream_check(out_dir, src_dir):
    """None if the streaming ingest's sink (partitioned by event_date) holds
    exactly the source events, each under its own date, else a reason."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    agg = ("SELECT count(*), sum(event_id), sum(epoch_us(ts)), sum(user_id), "
           "sum(hash(event_type)), sum(value), sum(hash(props)), "
           "count(*) FILTER (WHERE CAST(ts AS DATE) <> event_date) FROM ")
    got = con.execute(agg + f"read_parquet('{out_dir}/*/*.parquet', hive_partitioning=true)").fetchone()
    exp = con.execute(agg + f"(SELECT *, CAST(ts AS DATE) AS event_date "
                      f"FROM read_parquet('{src_dir}/*.parquet'))").fetchone()
    for i, (g, e) in enumerate(zip(got, exp)):
        if (abs(g - e) > 1e-9 * abs(e)) if i == 5 else g != e:
            return f"sink checksum field {i}: {g} expected {e}"
    return None


class LakeReplay:
    """The lakehouse ops replayed on a plain DuckDB table. Only commits the
    engine reported as successful are applied, so one failure is counted
    once, not again by every later read."""

    def __init__(self, lake_dir, rounds):
        self.dir = lake_dir
        self.rounds = rounds
        self.con = duckdb.connect()
        self.con.execute("SET TimeZone='UTC'")
        self.snap = {}

    def _p(self, name):
        return os.path.join(self.dir, f"{name}.parquet")

    def reset(self):
        self.con.execute(f"CREATE OR REPLACE TABLE t AS SELECT * FROM read_parquet('{self._p('base')}')")
        self.snap = {}

    def apply(self, op, r):
        c, rd = self.con, self.rounds[r]
        if op == "insert":
            c.execute(f"INSERT INTO t SELECT * FROM read_parquet('{self._p(f'load_{r}')}')")
            c.execute(f"CREATE OR REPLACE TABLE snap_{r} AS SELECT * FROM t")
            self.snap[r] = f"snap_{r}"
        elif op == "merge":
            src = f"read_parquet('{self._p(f'corr_{r}')}')"
            c.execute(f"DELETE FROM t WHERE transaction_id IN (SELECT transaction_id FROM {src})")
            c.execute(f"INSERT INTO t SELECT * FROM {src}")
        elif op == "delete":
            c.execute(f"DELETE FROM t WHERE user_id = '{rd['erase_user']}'")
        elif op == "update_mor":
            c.execute("UPDATE t SET amount_usd = amount_usd * 2.0 "
                      f"WHERE product_id = '{rd['reprice_product']}'")
        elif op == "branch":
            c.execute(f"INSERT INTO t SELECT * FROM read_parquet('{self._p(f'branch_{r}')}')")

    def read(self, op, r, tags):
        rd = self.rounds[r]
        if op == "scan_agg":
            sql = ("SELECT transaction_date, category, count(*) AS n, sum(amount_usd) AS usd "
                   "FROM t GROUP BY 1, 2")
        elif op == "scan_point":
            sql = f"SELECT * FROM t WHERE transaction_id = '{rd['point_id']}'"
        elif op == "scan_travel":
            if r not in self.snap:
                return "the round's load did not commit"
            sql = f"SELECT * FROM {self.snap[r]}"
        else:
            raise ValueError(op)
        names, rows = _run(self.con, sql)
        return checksum(names, rows, tags)

