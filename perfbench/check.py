"""Output checks for the benchmark, run by DuckDB outside the timed region.

Each check returns a list of failure strings; an empty list means the
outputs were right. A wrong result counts as a failed operation.
"""
import glob
import os
import sqlite3

import duckdb

ROW_COLS = "symbol, epoch_us(bucket_ts) AS b, open, high, low, close, volume, trades"


def _norm(v):
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)) or (hasattr(v, "ndim") and getattr(v, "ndim") >= 1):
        return str([_norm(x) for x in v])
    return v


def frames_equal(duck, spark):
    """Row-set equality with the normalization rules of tools/check.py:
    same column names, same row count, and every value equal as text after
    sorting both sides by every column."""
    for df in (duck, spark):
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(_norm)
    dc, sc = sorted(duck.columns), sorted(spark.columns)
    if dc != sc:
        return f"columns duck={dc} spark={sc}"
    d = duck[dc].sort_values(dc, ignore_index=True)
    s = spark[sc].sort_values(sc, ignore_index=True)
    if len(d) != len(s):
        return f"rows duck={len(d)} spark={len(s)}"
    for c in dc:
        if d[c].dtype != s[c].dtype:
            try:
                s[c] = s[c].astype(d[c].dtype)
            except Exception:
                return f"column {c} dtype duck={d[c].dtype} spark={s[c].dtype}"
        neq = d[c].astype(str) != s[c].astype(str)
        if neq.any():
            i = neq.idxmax()
            return f"column {c}: {int(neq.sum())} values differ, e.g. {d[c][i]!r} vs {s[c][i]!r}"
    return None


def _views(con, inputs):
    for p in glob.glob(os.path.join(inputs, "*.parquet")):
        name = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM '{p}'")


def registry(result, inputs):
    con = duckdb.connect()
    _views(con, inputs)
    fails = []
    for ch in result["checks"]:
        if ch["kind"] != "oracle":
            continue
        try:
            duck = con.sql(ch["sql"]).df()
            spark = con.sql(f"SELECT * FROM '{ch['path']}/*.parquet'").df()
            err = frames_equal(duck, spark)
        except Exception as e:  # an oracle that cannot run is a failed check
            err = f"error {e}"
        if err:
            fails.append(f"{ch['name']}: {err}")
    return fails


def _diff(con, a, b):
    """Rows of query a not in b plus rows of b not in a."""
    return con.sql(f"SELECT count(*) FROM (({a}) EXCEPT ALL ({b})) UNION ALL "
                   f"SELECT count(*) FROM (({b}) EXCEPT ALL ({a}))").fetchall()


def candles(result, inputs, manifest):
    con = duckdb.connect()
    trades = os.path.join(inputs, "*", "trades.parquet")  # archive + rest
    archive_end = manifest["pages"][0][0]
    page_end = {i: e for i, (_, e) in enumerate(manifest["pages"])}
    page_end[-1] = archive_end

    def upto(end_us):
        return f"(SELECT * FROM '{trades}' WHERE epoch_us(ts) < {end_us})"

    fails = []
    store = next(c for c in result["checks"] if c["kind"] == "store")
    sql = {f["tf"]: f["sql"] for f in store["frames"]}
    cached = {}

    def one_min(end):
        """1m candles over every trade before `end`, computed once per end."""
        if end not in cached:
            cached[end] = f"m{len(cached)}"
            con.execute(f"CREATE TEMP TABLE {cached[end]} AS "
                        + sql["1m"].replace("FROM t ", f"FROM {upto(end)} "))
        return f"SELECT * FROM {cached[end]}"
    for ch in result["checks"]:
        if ch["kind"] == "resume":
            end = page_end[ch["page"]]
            want = con.sql(f"SELECT max(epoch_us(bucket_ts)) FROM ({one_min(end)}) "
                           f"WHERE symbol = '{ch['symbol']}'").fetchone()[0]
            if want != ch["value_us"]:
                fails.append(f"resumeSince {ch['symbol']} after page {ch['page']}: "
                             f"{ch['value_us']} != {want}")
        elif ch["kind"] == "page":
            want = con.sql(
                f"SELECT count(*), sum(trades), CAST(sum(CAST(volume AS DECIMAL(24,2))) AS VARCHAR), "
                f"CAST(sum(CAST(close AS DECIMAL(24,2))) AS VARCHAR) FROM ({one_min(page_end[ch['page']])})"
            ).fetchone()
            got = (ch["candles"], ch["trades"], ch["volume"], ch["close_sum"])
            if tuple(map(str, want)) != tuple(map(str, got)):
                fails.append(f"store after page {ch['page']}: {got} != {want}")
    done_end = page_end[store["pages_done"] - 1] if store["pages_done"] else archive_end
    for tf, q in sql.items():
        end = done_end if tf == "1m" else archive_end
        exp = f"SELECT {ROW_COLS} FROM ({q.replace('FROM t ', f'FROM {upto(end)} ')})"
        got = (f"SELECT {ROW_COLS} FROM read_parquet('{store['root']}/exchange=bench/*/timeframe={tf}/*.parquet', "
               f"hive_partitioning = true)")
        d = _diff(con, exp, got)
        if d[0][0] or d[1][0]:
            fails.append(f"store frame {tf}: {d[0][0]} expected rows missing, {d[1][0]} unexpected")
    hour = f"({sql['1h'].replace('FROM t ', f'FROM {upto(archive_end)} ')})"
    csv = glob.glob(os.path.join(store["csv"], "*.csv"))
    d = _diff(con, f"SELECT epoch_us(bucket_ts), open, high, low, close, volume, trades FROM {hour} "
                   f"WHERE symbol = '{store['hot']}'",
              f"SELECT epoch_us(bucket_ts::TIMESTAMPTZ), open, high, low, close, volume, trades "
              f"FROM read_csv('{csv[0] if csv else 'missing.csv'}', header = true)")
    if d[0][0] or d[1][0]:
        fails.append(f"csv export: {d[0][0]} rows missing, {d[1][0]} unexpected")
    want = {(r[0], r[1]): r[2:] for r in con.sql(
        f"SELECT symbol, epoch_ms(bucket_ts), open, high, low, close, volume FROM {hour}").fetchall()}
    got = {}
    for f in glob.glob(os.path.join(store["sqlite"], "**", "*.sqlite"), recursive=True):
        sym = os.path.basename(f).split("_")[1]
        with sqlite3.connect(f) as db:
            for r in db.execute("SELECT timestamp, open, high, low, close, volume FROM candles"):
                got[(sym, r[0])] = tuple(float(x) for x in r[1:])
    if want != got:
        fails.append(f"sqlite export: {len(set(want) ^ set(got))} keys differ, "
                     f"{sum(1 for k in want if k in got and want[k] != got[k])} values differ")
    return fails


def tail(result):
    ch = next((c for c in result["checks"] if c["kind"] == "tail"), None)
    if ch is None:
        return ["live tail produced no outputs"]
    con = duckdb.connect()
    trades = (f"(SELECT * FROM read_csv('{ch['csv_dir']}/*.csv', header = true, "
              "columns = {'symbol': 'VARCHAR', 'ts': 'TIMESTAMP', 'price': 'DOUBLE', 'qty': 'DOUBLE'}))")
    exp = f"SELECT {ROW_COLS} FROM ({ch['sql'].replace('FROM t ', f'FROM {trades} ')})"
    fails = []
    for label, src in (("readMerged", f"'{ch['merged']}/*.parquet'"),
                       ("compactTo", f"read_parquet('{ch['compact']}/*/*/*/*.parquet', hive_partitioning = true)")):
        d = _diff(con, exp, f"SELECT {ROW_COLS} FROM {src}")
        if d[0][0] or d[1][0]:
            fails.append(f"{label}: {d[0][0]} expected candles missing, {d[1][0]} unexpected")
    return fails
