"""DuckDB oracle check for the mixes' reference outputs.

For each query the engine registers oracle SQL for, run that SQL in DuckDB
over the same generated parquet tables and compare with the rows the engine
wrote in the reference pass: columns sorted by name, rows sorted, floats at
six decimals, lists element by element.

One difference is let through, and reported: a float cell that differs from
the oracle by exactly one unit in its last rounded decimal, when that is at
most 1e-7 of the value. Both engines sum doubles in an unspecified order, so
a `round(sum(x), 2)` whose exact sum ends in 5 (common when prices and
discounts both carry two decimals) rounds either way.
"""
import glob
import json
import os

import duckdb
import pandas as pd

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    def cell(v):
        if isinstance(v, float):
            return f"{v:.6f}"
        if isinstance(v, (list, tuple)) or str(type(v)).endswith("ndarray'>"):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)
    df = df.reindex(sorted(df.columns), axis=1).map(cell)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _decimals(cell: str) -> int:
    frac = cell.rstrip("0").partition(".")[2]
    return len(frac)


def _tie_flip(a: str, b: str) -> bool:
    try:
        x, y = float(a), float(b)
    except ValueError:
        return False
    unit = 10.0 ** -max(_decimals(a), _decimals(b))
    diff = abs(x - y)
    return abs(diff - unit) < unit * 1e-3 and diff <= 1e-7 * max(abs(x), abs(y))


def check(inputs: str, work: str) -> tuple:
    """Returns ({query: failure message}, {query: cells accepted as rounding
    ties}) for the queries that disagree with the oracle."""
    sqls = json.load(open(os.path.join(work, "oracle.json")))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    failures, ties = {}, {}
    for name, sql in sorted(sqls.items()):
        files = glob.glob(os.path.join(work, "ref", name, "*.parquet"))
        if not files:
            failures[name] = "no reference output"
            continue
        got = pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
        try:
            exp = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[name] = f"oracle SQL failed: {e}"
            continue
        g, e = _canon(got), _canon(exp)
        if list(g.columns) != list(e.columns):
            failures[name] = f"columns {list(g.columns)} vs oracle {list(e.columns)}"
        elif len(g) != len(e):
            failures[name] = f"{len(g)} rows vs oracle {len(e)}"
        elif not g.equals(e):
            cells = [(i, c) for c in g.columns for i in g.index[g[c] != e[c]]]
            if all(_tie_flip(g.at[i, c], e.at[i, c]) for i, c in cells):
                ties[name] = [f"{c}: {g.at[i, c]} vs oracle {e.at[i, c]}" for i, c in cells]
            else:
                i = (g != e).any(axis=1).idxmax()
                failures[name] = f"row {i}: {g.iloc[i].to_dict()} vs oracle {e.iloc[i].to_dict()}"
    return failures, ties
