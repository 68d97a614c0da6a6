"""Output checks computed outside the program, in DuckDB.

- `topn_board`: a board written by the configured top-N job must equal a
  DuckDB `GROUP BY` plus `rank()` over the same input files, and must have the
  shape of a top-N: ranks 1..k per group with k <= n, and metrics that do not
  increase with rank.
- `query_output`: a query key's full output must equal its oracle SQL, run in
  DuckDB over the same corpus (compared as `tools/check.py` does: columns by
  name, rows in order; floats within a relative 1e-9).

Each function returns None when the output is right, else a one-line reason.
"""
import glob
import math
from decimal import Decimal

import duckdb

TOP_N = 3
CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part",
                 "orders", "lineitem", "events", "documents", "embeddings"]


def _parquet(path):
    files = sorted(glob.glob(f"{path}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {path}")
    return f"read_parquet({files!r})"


def expected_board(con, input_dir):
    """The top-N products per region by summed sales, as sorted row tuples."""
    return con.execute(f"""
        WITH agg AS (
          SELECT region, product, SUM(sales) AS metric
          FROM {_parquet(input_dir)} GROUP BY region, product),
        ranked AS (
          SELECT region, product, metric,
                 rank() OVER (PARTITION BY region ORDER BY metric DESC, product ASC) AS rnk
          FROM agg)
        SELECT region, product, metric, rnk FROM ranked
        WHERE rnk <= {TOP_N} ORDER BY region, rnk, product""").fetchall()


def topn_board(con, board_dir, expected):
    try:
        rel = con.execute(f"SELECT * FROM {_parquet(board_dir)}")
    except Exception as e:
        return f"unreadable board: {e}"
    cols = [d[0] for d in rel.description]
    if sorted(cols) != ["metric", "product", "region", "rnk"]:
        return f"board columns {cols}, want region, product, metric, rnk"
    idx = {c: i for i, c in enumerate(cols)}
    got = sorted(((r[idx["region"]], r[idx["product"]], r[idx["metric"]], r[idx["rnk"]])
                  for r in rel.fetchall()), key=lambda r: (r[0], r[3], r[1]))
    groups = {}
    for region, _, metric, rnk in got:
        groups.setdefault(region, []).append((rnk, metric))
    for region, rows in groups.items():
        ranks = [r for r, _ in rows]
        if len(rows) > TOP_N or ranks[0] != 1 or any(r < 1 or r > TOP_N for r in ranks):
            return f"group {region}: ranks {ranks} are not a top-{TOP_N}"
        if any(a[1] < b[1] for a, b in zip(rows, rows[1:])):
            return f"group {region}: metric increases with rank"
    if len(got) != len(expected):
        return f"{len(got)} board rows, want {len(expected)}"
    for g, w in zip(got, expected):
        if g[0] != w[0] or g[1] != w[1] or g[3] != w[3] or not _same(g[2], w[2]):
            return f"board row {g} != expected {w}"
    return None


def corpus_connection(corpus_dir):
    con = duckdb.connect()
    for t in CORPUS_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')")
    return con


def query_output(con, out_dir, sql):
    try:
        got = con.execute(f"SELECT * FROM {_parquet(out_dir)}").fetch_arrow_table()
        want = con.execute(sql).fetch_arrow_table()
    except Exception as e:
        return f"error: {e}"
    gcols, wcols = sorted(got.column_names), sorted(want.column_names)
    if gcols != wcols:
        return f"columns {gcols} vs oracle {wcols}"
    if got.num_rows != want.num_rows:
        return f"{got.num_rows} rows vs oracle {want.num_rows}"
    for c in gcols:
        for i, (a, b) in enumerate(zip(got.column(c).to_pylist(), want.column(c).to_pylist())):
            if not _same(a, b):
                return f"column {c} row {i}: program {a!r} vs oracle {b!r}"
    return None


def _same(a, b):
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (float, Decimal)) and isinstance(b, (float, Decimal)):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b
