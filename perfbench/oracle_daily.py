#!/usr/bin/env python3
"""Cross-check the daily batch's final state against a DuckDB replay.

Run from the root of a checkout after a daily_batch run:

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 11 --trace 0
    python3 perfbench/oracle_daily.py --seed 1

The benchmark leaves its final master state and resolved price view in
.bench_build/perfbench/run/final_{master,price}. This script replays every
drop of that seed in DuckDB with the rules of graft.ingest (normalize,
validate, last-write-wins merge) and of MarketClient.optimizeTable, and
compares both tables row for row. Exit code 0 when they agree.
"""

import argparse
import datetime as dt
import glob
import html
import json
import os
import re
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

TABLE_RE = re.compile(r"<table[^>]*>.*?</table>", re.S)
ROW_RE = re.compile(r"<tr[^>]*>.*?</tr>", re.S)
CELL_RE = re.compile(r"<t[dh][^>]*>(.*?)</t[dh]>", re.S)
# graft.ingest.DailyPipeline.DefaultRenames: first substring match wins.
RENAMES = [("회사명", "name"), ("종목명", "name"), ("종목코드", "symbol"),
           ("폐지일", "delisting_date"), ("상장일", "listing_date"), ("시장", "market"),
           ("company", "name"), ("code", "symbol"), ("delist", "delisting_date"),
           ("list", "listing_date"), ("market", "market")]


def crawl_rows(path):
    """Largest table of the page; header row first, cells stripped of tags."""
    with open(path, encoding="utf-8") as f:
        tables = TABLE_RE.findall(f.read())
    best = max(tables, key=lambda t: len(ROW_RE.findall(t)))
    rows = [[html.unescape(re.sub(r"<[^>]*>", "", c)).strip() for c in CELL_RE.findall(r)]
            for r in ROW_RE.findall(best)]
    return [r for r in rows if r]


def replay_master(con, daily_dir, days):
    raw = []
    for d in days:
        rows = crawl_rows(os.path.join(daily_dir, f"master_{d['day']}.html"))
        names = [next((v for k, v in RENAMES if k in h), None) for h in rows[0]]
        for r in rows[1:]:
            rec = {n: r[i] for i, n in enumerate(names) if n}
            raw.append((rec.get("name"), rec.get("symbol"), rec.get("market"),
                        rec.get("listing_date"), rec.get("delisting_date"), d["stamp"]))
    con.execute("CREATE TABLE raw (name VARCHAR, code VARCHAR, market VARCHAR, "
                "lst VARCHAR, dl VARCHAR, stamp VARCHAR)")
    con.executemany("INSERT INTO raw VALUES (?, ?, ?, ?, ?, ?)", raw)
    today = dt.date.today().isoformat()
    return con.execute(f"""
        WITH n AS (
          SELECT substr(regexp_replace(nullif(trim(code), ''), '[^0-9]', '', 'g'), 1, 6) AS symbol,
                 coalesce(nullif(trim(name), ''), 'Unknown') AS name,
                 coalesce(upper(nullif(trim(market), '')), 'UNKNOWN') AS market,
                 try_strptime(regexp_replace(nullif(trim(lst), ''), '[^0-9]', '', 'g'), '%Y%m%d')::DATE
                   AS listing_date,
                 try_strptime(regexp_replace(nullif(trim(dl), ''), '[^0-9]', '', 'g'), '%Y%m%d')::DATE
                   AS delisting_date,
                 CAST(stamp AS TIMESTAMP) AS update_dt
          FROM raw),
        v AS (
          SELECT *, CASE WHEN delisting_date IS NULL THEN 1 ELSE 0 END AS is_active FROM n
          WHERE regexp_full_match(coalesce(symbol, ''), '[0-9]{{6}}')
            AND (listing_date IS NULL OR listing_date BETWEEN DATE '1990-01-01' AND DATE '{today}')
            AND (delisting_date IS NULL OR delisting_date BETWEEN DATE '1990-01-01' AND DATE '{today}'))
        SELECT symbol, name, market, listing_date, delisting_date, is_active, update_dt FROM v
        QUALIFY row_number() OVER (PARTITION BY symbol
          ORDER BY update_dt DESC, is_active ASC, name DESC) = 1
        ORDER BY symbol""").fetchall()


def replay_price(con, daily_dir):
    files = [os.path.join(daily_dir, "backfill.csv")] + sorted(
        glob.glob(os.path.join(daily_dir, "price_*.csv")))
    cols = ", ".join(gen.PRICE_COLUMNS)
    return con.execute(f"""
        SELECT {cols} FROM read_csv({files!r}, header = true, columns = {{
          'symbol': 'VARCHAR', 'trade_date': 'DATE', 'open_price': 'DOUBLE',
          'high_price': 'DOUBLE', 'low_price': 'DOUBLE', 'close_price': 'DOUBLE',
          'volume': 'BIGINT', 'amount': 'BIGINT', 'market_cap': 'BIGINT',
          'change_rate': 'DOUBLE', 'create_dt': 'TIMESTAMP', 'update_dt': 'TIMESTAMP'}})
        QUALIFY row_number() OVER (PARTITION BY symbol, trade_date
          ORDER BY update_dt DESC, close_price DESC) = 1
        ORDER BY symbol, trade_date""").fetchall()


def engine(con, path, cols, order):
    # The engine writes UTC-adjusted timestamps; compare their UTC wall clock.
    sel = ", ".join(f"CAST({c} AS TIMESTAMP) AS {c}" if c.endswith("_dt") else c
                    for c in cols.split(", "))
    return con.execute(f"SELECT {sel} FROM read_parquet('{path}/*.parquet') "
                       f"ORDER BY {order}").fetchall()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    work = os.path.join(os.getcwd(), ".bench_build", "perfbench")
    daily = sorted(glob.glob(os.path.join(work, "data", f"daily-*-seed{a.seed}")),
                   key=os.path.getmtime)[-1]
    with open(os.path.join(daily, "days.json"), encoding="utf-8") as f:
        days = json.load(f)["days"]
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    ok = True
    master_cols = "symbol, name, market, listing_date, delisting_date, is_active, update_dt"
    for name, want, got in [
            ("master", replay_master(con, daily, days),
             engine(con, f"{work}/run/final_master", master_cols, "symbol")),
            ("price", replay_price(con, daily),
             engine(con, f"{work}/run/final_price", ", ".join(gen.PRICE_COLUMNS),
                    "symbol, trade_date"))]:
        same = want == got
        ok &= same
        print(f"{'PASS' if same else 'FAIL'} {name}: engine {len(got)} rows, "
              f"duckdb replay {len(want)} rows")
        if not same:
            diff = [(w, g) for w, g in zip(want, got) if w != g][:3]
            print(f"  first differences (duckdb, engine): {diff}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
