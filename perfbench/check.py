"""Oracle check of query outputs against DuckDB, by row count and an
order-insensitive sum of row hashes (floats rounded to 6 dp first), as
`tools/check_oracle_hash.py` compares them. An engine column is cast to the
oracle's type only where the cast cannot change a value: between integer
widths, and from an integer, decimal or FLOAT to a DOUBLE."""
import glob
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
INTS = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT", "UTINYINT",
        "USMALLINT", "UINTEGER", "UBIGINT"}
FLOATS = {"FLOAT", "DOUBLE"}


def widens(src, dst):
    """True if casting type `src` to `dst` keeps every value: the row hash
    tells INTEGER 5 from BIGINT 5, a value check must not. A fractional
    value in a column the oracle types as an integer is not cast (a cast
    would round it), so it fails the hash."""
    return src != dst and ((src in INTS and dst in INTS) or (
        dst == "DOUBLE" and (src in INTS or src == "FLOAT"
                             or src.startswith("DECIMAL"))))


def canon(c, t, src=None):
    """Column `c` of oracle type `t`, floats rounded to 6 dp; `src` is the
    engine's type of the column, cast to `t` where that keeps the value."""
    v = f'CAST("{c}" AS {t})' if src and widens(src, t) else f'"{c}"'
    return (f'round({v}, 6) AS "{c}"' if t in FLOATS
            else f'{v} AS "{c}"')


def check_outputs(out_dir, data_dir, oracle):
    """Compare every `out_dir/<name>/*.parquet` with its oracle SQL run
    over `data_dir`. Returns {name: None if equal, else the reason}."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    verdicts = {}
    for name, sql in sorted(oracle.items()):
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            verdicts[name] = "no output written"
            continue
        res = os.path.join(out_dir, name, "*.parquet")
        try:
            cols = [(r[0], r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM ({sql})").fetchall()]
            have = dict((r[0], r[1]) for r in con.execute(
                f"DESCRIBE SELECT * FROM read_parquet('{res}')").fetchall())
            s_exprs = ", ".join(canon(c, t, have.get(c)) for c, t in cols)
            o_exprs = ", ".join(canon(c, t) for c, t in cols)
            collist = ", ".join(f'"{c}"' for c, _ in cols)
            s_n, o_n, s_h, o_h = con.execute(f"""
              WITH s AS (SELECT {s_exprs} FROM read_parquet('{res}')),
                   o AS (SELECT {o_exprs} FROM ({sql}))
              SELECT (SELECT count(*) FROM s), (SELECT count(*) FROM o),
                     (SELECT sum(hash({collist})) FROM s),
                     (SELECT sum(hash({collist})) FROM o)""").fetchone()
        except Exception as exc:  # noqa: BLE001 - a failed check is a verdict
            verdicts[name] = f"{type(exc).__name__}: {exc}"
            continue
        if s_n != o_n:
            verdicts[name] = f"rows: oracle {o_n}, engine {s_n}"
        elif s_h != o_h:
            verdicts[name] = f"row hash mismatch over {s_n} rows"
        else:
            verdicts[name] = None
    con.close()
    return verdicts
