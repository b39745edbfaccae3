"""Output checks: query results against their DuckDB oracles, and the mart
against the rows the generator expects."""
import glob
import math
import os

import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(v):
    """The canonical form `tools/selfcheck.py` compares: floats at 9 dp."""
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(round(v, 9))
    return repr(v)


def connect(sf_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads = 2")
    con.execute("SET memory_limit = '1GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare_query(con, oracle_sql, result_dir):
    """None when the Spark result in `result_dir` equals the oracle's rows
    (columns sorted by name, row order kept); otherwise why not."""
    files = glob.glob(os.path.join(result_dir, "*.parquet"))
    if not files:
        return "no result files"
    got = con.execute(f"SELECT * FROM read_parquet('{result_dir}/*.parquet')").fetch_arrow_table()
    want = con.execute(oracle_sql).fetch_arrow_table()
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} != {wcols}"
    if got.num_rows != want.num_rows:
        return f"rows {got.num_rows} != {want.num_rows}"
    for c in gcols:
        g = [canon(v) for v in got.column(c).to_pylist()]
        w = [canon(v) for v in want.column(c).to_pylist()]
        if g != w:
            first = next(i for i in range(len(g)) if g[i] != w[i])
            return f"column {c} row {first}: {g[first]} != {w[first]}"
    return None


def _values(column):
    """A column as Python values, timestamps as epoch microseconds."""
    if pa.types.is_timestamp(column.type):
        column = column.cast(pa.timestamp("us", tz=column.type.tz)).cast(pa.int64())
    return column.to_pylist()


def read_mart(table_dir, columns):
    """The mart's rows as tuples in `columns` order, timestamps in micros."""
    files = sorted(glob.glob(os.path.join(table_dir, "*.parquet")))
    if not files:
        return None
    rows = []
    for f in files:
        t = pq.read_table(f)
        rows.extend(zip(*[_values(t.column(c)) for c in columns]))
    return sorted(rows, key=repr)


def compare_mart(got, want):
    """None when the mart holds exactly the expected rows."""
    if got is None:
        return "mart table has no files"
    if len(got) != len(want):
        return f"mart rows {len(got)} != {len(want)}"
    for g, w in zip(got, want):
        if g != w:
            return f"mart row {g} != {w}"
    return None
