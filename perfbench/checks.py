"""Output checks of the benchmark, run with DuckDB after the timed passes.

- Queries with oracle SQL: the op's output must match the oracle's run over
  the same inputs in column names, row count and an order-insensitive
  content hash (values canonicalised like the program's oracle tooling).
- h122: the audit ledger must chain, docs_in(k) = docs_out(k-1).
- lakehouse_etl: fact rows = generated rows - malformed-timestamp rows, one
  partition per distinct transaction date, null segments become 'Unknown'.

Each function returns a list of failure messages (empty when it passes).
"""
import glob
import hashlib
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.9g}"
    return str(v)


def _digest(table):
    cols = sorted(table.column_names)
    rows = table.to_pylist()
    h = hashlib.sha256()
    for line in sorted("\x1f".join(_canon(r[c]) for c in cols) for r in rows):
        h.update(line.encode())
        h.update(b"\x1e")
    return cols, len(rows), h.hexdigest()


class Oracle:
    """DuckDB views over one inputs directory per connection."""

    def __init__(self):
        self.cons = {}

    def con(self, inputs):
        if inputs not in self.cons:
            con = duckdb.connect()
            con.execute("SET threads=2")
            for t in TABLES:
                path = os.path.join(inputs, f"{t}.parquet")
                if os.path.exists(path):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            self.cons[inputs] = con
        return self.cons[inputs]

    def compare(self, name, sql, dump, inputs):
        con = self.con(inputs)
        try:
            got = con.execute(f"SELECT * FROM read_parquet('{dump}/*.parquet')").fetch_arrow_table()
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any load error fails the check
            return [f"{name}: {str(e)[:200]}"]
        g, w = _digest(got), _digest(want)
        if g[0] != w[0]:
            return [f"{name}: columns {g[0]} != {w[0]}"]
        if g[1] != w[1]:
            return [f"{name}: {g[1]} rows, oracle {w[1]}"]
        if g[2] != w[2]:
            return [f"{name}: content differs from the oracle"]
        return []


def ledger(dump):
    rows = duckdb.sql(f"SELECT stage_idx, stage, docs_in, docs_out FROM read_parquet('{dump}/*.parquet') "
                      "ORDER BY stage_idx").fetchall()
    return rows


def ledger_chain(name, rows):
    bad = [f"{name}: stage {rows[k][1]} docs_in {rows[k][2]} != docs_out {rows[k - 1][3]}"
           for k in range(1, len(rows)) if rows[k][2] != rows[k - 1][3]]
    if len(rows) != 10:
        bad.append(f"{name}: {len(rows)} ledger rows, expected 10")
    return bad


def etl_conservation(root, txn_dir, dims_dir, edge_cases=True):
    """Checks one lakehouse root written by the six flows from the
    transactions CSV under `txn_dir` and the dimension CSVs under `dims_dir`;
    with `edge_cases` the inputs must hold malformed timestamps and null
    segments, so that the check means something."""
    con = duckdb.connect()
    con.execute("SET threads=2")
    txn = f"read_csv('{txn_dir}/customer_transactions/*.csv', header=true, all_varchar=true)"
    generated, malformed, dates = con.execute(
        f"SELECT count(*), count(*) FILTER (WHERE ts IS NULL), count(DISTINCT strftime(ts, '%Y-%m-%d')) "
        f"FROM (SELECT try_strptime(transaction_timestamp, '%Y-%m-%d %H:%M:%S') AS ts FROM {txn})").fetchone()
    fact_dir = os.path.join(root, "curated", "fact_customer_transactions")
    fact_rows = con.execute(
        f"SELECT count(*) FROM read_parquet('{fact_dir}/*/*.parquet')").fetchone()[0]
    partitions = len(glob.glob(os.path.join(fact_dir, "transaction_date=*")))
    cust = f"read_csv('{dims_dir}/customers/*.csv', header=true, all_varchar=true)"
    null_segments = con.execute(
        f"SELECT count(*) FROM {cust} WHERE customer_segment IS NULL").fetchone()[0]
    dim = os.path.join(root, "curated", "dim_customer")
    unknown, still_null = con.execute(
        f"SELECT count(*) FILTER (WHERE customer_segment = 'Unknown'), "
        f"count(*) FILTER (WHERE customer_segment IS NULL) FROM read_parquet('{dim}/*.parquet')").fetchone()
    name = os.path.basename(root)
    bad = []
    if fact_rows != generated - malformed:
        bad.append(f"etl {name}: {fact_rows} fact rows, expected {generated} - {malformed}")
    if partitions != dates:
        bad.append(f"etl {name}: {partitions} partitions for {dates} dates")
    if edge_cases and (malformed == 0 or null_segments == 0):
        bad.append(f"etl {name}: inputs lack malformed timestamps or null segments")
    if unknown != null_segments or still_null:
        bad.append(f"etl {name}: {unknown} 'Unknown' segments for {null_segments} nulls, {still_null} left null")
    return bad
