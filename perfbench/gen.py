"""Seeded input generators for the benchmark.

Two families of inputs, both plain parquet/CSV/HTML files written before
any timing starts, so the program under test only ever sees files:

* ``write_tables`` - the ten synthetic star-schema tables the registered
  queries read (region .. embeddings), with the column types and value
  distributions of the repository's sf0.1 fixture, at a chosen scale.
* ``write_daily`` - the daily-batch inputs: a historical price backfill,
  then one raw master crawl (HTML, Korean headers, all strings) and one
  price drop (CSV) per day, plus a manifest of every planted dirty row.

Every byte depends only on the arguments: numpy's PCG64 stream seeded
from them, fixed column order, fixed writer settings.
"""

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1
TABLES_SEED = 42        # the static query tables do not depend on --seed

# Daily-batch sizes.
DAYS = 2                # daily drops after the backfill
LISTED = 2000           # symbols listed before day 1
PRICED = 400            # listed symbols with prices
HISTORY = 60            # trade dates in the backfill
DATES_PER_DROP = 5      # new trade dates per price drop
CORRECTIONS = 60        # late restatements drawn per price drop
RECENT = 15             # trade dates a correction may restate
NEW_PER_DAY = 20        # new listings per master crawl
DELIST_PER_DAY = 10     # delistings per master crawl
REJECTS_PER_DAY = 12    # planted invalid rows per master crawl

_EPOCH = dt.date(1970, 1, 1)
_VOCAB = ("a the key agg row scan slow fast table value part hash merge batch "
          "spark data column join small big line customer query order group "
          "filter sort window stream vector").split()
_LANGS = ["en", "zh", "de", "fr", "es"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_COLORS = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
_NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(d):
    return (d - _EPOCH).days


def _day_ts(rng, n, lo, hi):
    """Midnight timestamps (us) uniform over [lo, hi]."""
    days = rng.integers(_days(lo), _days(hi) + 1, n)
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def table_rows(sf):
    """Row counts per table at scale factor ``sf`` (sf0.1 = 600k lineitem)."""
    k = sf / 0.1
    return {
        "customer": round(15000 * k), "supplier": max(10, round(1000 * k)),
        "part": round(20000 * k), "orders": round(150000 * k),
        "lineitem": round(600000 * k), "events": round(100000 * k),
        "documents": round(5000 * k), "embeddings": max(500, round(2000 * k)),
    }


def write_tables(out_dir, sf):
    """The ten query-input tables at scale ``sf`` into ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([GEN_VERSION, TABLES_SEED]))
    n = table_rows(sf)
    path = lambda t: os.path.join(out_dir, f"{t}.parquet")

    _write(pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": _REGIONS}), path("region"))
    _write(pa.table({"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
           path("nation"))

    nc = n["customer"]
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }), path("customer"))

    ns = n["supplier"]
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), pa.int32()),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99),
    }), path("supplier"))

    npart = n["part"]
    keys = np.arange(npart)
    _write(pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": pa.array(rng.integers(1, 51, npart), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
    }), path("part"))

    no = n["orders"]
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _day_ts(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }), path("orders"))

    nl = n["lineitem"]
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _day_ts(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
    }), path("lineitem"))

    ne = n["events"]
    start_us = _days(dt.date(2024, 1, 1)) * 86_400_000_000
    span_us = 30 * 86_400_000_000
    gaps = rng.exponential(1.0, ne)
    ts = start_us + (np.cumsum(gaps) / gaps.sum() * (span_us - 60_000_000)).astype("int64")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, nc // 10), ne), pa.int64()),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {i}}}' for i in rng.integers(0, 100, ne)],
    }), path("events"))

    nd = n["documents"]
    texts = [" ".join(_VOCAB[j] for j in rng.integers(0, len(_VOCAB), rng.integers(10, 101)))
             for _ in range(nd)]
    # 5% planted near-duplicates: another document's text plus one token.
    dups = rng.choice(nd, nd // 20, replace=False)
    for d in dups:
        texts[d] = texts[int(rng.integers(0, nd))] + " dup"
    _write(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.choice(5, nd, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), path("documents"))

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
    }), path("embeddings"))
    return n


# ---- daily batch ---------------------------------------------------------

MASTER_HEADER = ["회사명", "종목코드", "시장구분", "상장일", "상장폐지일", "상장폐지사유"]
PRICE_COLUMNS = ["symbol", "trade_date", "open_price", "high_price", "low_price",
                 "close_price", "volume", "amount", "market_cap", "change_rate",
                 "create_dt", "update_dt"]
_MARKETS = ["KOSPI", "KOSDAQ", "KONEX"]


def _business_days(start, n):
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _fmt_date(rng, d):
    """One of the crawl's date spellings; all parse to the same date."""
    style = int(rng.integers(0, 3))
    return d.strftime(("%Y.%m.%d", "%Y-%m-%d", "%Y%m%d")[style])


def _fmt_code(rng, code):
    """A clean code, or one of the dirty spellings normalize repairs."""
    r = rng.random()
    if r < 0.05:
        return "A" + code
    if r < 0.08:
        return f" {code} "
    return code


def _html(rows):
    cell = lambda v: f"<td>{v}</td>"
    body = "\n".join("<tr>" + "".join(cell(v) for v in r) + "</tr>" for r in rows)
    head = "<tr>" + "".join(f"<th>{h}</th>" for h in MASTER_HEADER) + "</tr>"
    return ("<html><body>\n<table class=\"nav\"><tr><td>상장법인목록</td></tr></table>\n"
            f"<table class=\"CI-GRID\">\n{head}\n{body}\n</table>\n</body></html>\n")


def _price_rows(rng, symbols, dates, base, stamp):
    rows = []
    for d in dates:
        for i, s in enumerate(symbols):
            base[i] *= 1.0 + rng.normal(0.0, 0.02)
            close = round(base[i], 1)
            lo = round(close * (1 - rng.uniform(0, 0.03)), 1)
            hi = round(close * (1 + rng.uniform(0, 0.03)), 1)
            opn = round(rng.uniform(lo, hi), 1)
            vol = int(rng.integers(1_000, 2_000_000))
            rows.append([s, d.isoformat(), opn, hi, lo, close, vol, int(vol * close),
                         int(close * 10_000_000), round(rng.normal(0, 2), 2), stamp, stamp])
    return rows


def _write_csv(path, rows):
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(PRICE_COLUMNS) + "\n")
        for r in rows:
            f.write(",".join(str(v) for v in r) + "\n")


def write_daily(out_dir, seed):
    """Daily-batch inputs for ``seed`` into ``out_dir``.

    backfill.csv        history of PRICED symbols over HISTORY trade dates
    master_<d>.html     day d's raw master crawl (every listed symbol)
    price_<d>.csv       day d's price drop: DATES_PER_DROP new trade dates
                        plus up to CORRECTIONS late restatements of the
                        RECENT trade dates before them
    days.json           per-day stamp, trade dates and planted rejects
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64([GEN_VERSION, 7, seed]))
    codes = [f"{c:06d}" for c in rng.choice(np.arange(20, 999_999), LISTED + DAYS * NEW_PER_DAY,
                                            replace=False)]
    listing = {c: dt.date(1990, 1, 2) + dt.timedelta(days=int(rng.integers(0, 11_000)))
               for c in codes}
    names = {c: f"종목{c}" for c in codes}
    markets = {c: _MARKETS[int(rng.choice(3, p=[0.45, 0.5, 0.05]))] for c in codes}
    live = codes[:LISTED]
    upcoming = codes[LISTED:]

    trade = _business_days(dt.date(2023, 1, 2), HISTORY + DAYS * DATES_PER_DROP)
    hist, drops = trade[:HISTORY], trade[HISTORY:]
    priced_codes = live[:PRICED]
    base = list(rng.uniform(1_000, 200_000, PRICED))
    # Every drop is stamped after the backfill, so its corrections win.
    _write_csv(os.path.join(out_dir, "backfill.csv"),
               _price_rows(rng, priced_codes, hist, base, f"{hist[-1].isoformat()} 18:00:00"))

    manifest = []
    delisted = set()
    for d in range(1, DAYS + 1):
        stamp = f"{drops[(d - 1) * DATES_PER_DROP].isoformat()} 18:00:00"
        # Master crawl: every listed symbol, today's new listings and delistings.
        live = live + upcoming[:NEW_PER_DAY]
        upcoming = upcoming[NEW_PER_DAY:]
        for c in rng.choice([c for c in live[PRICED:] if c not in delisted],
                            DELIST_PER_DAY, replace=False):
            delisted.add(str(c))
        rows = []
        for c in live:
            market = markets[c] if rng.random() > 0.05 else markets[c].lower()
            gone = c in delisted
            rows.append([names[c], _fmt_code(rng, c), market, _fmt_date(rng, listing[c]),
                         _fmt_date(rng, drops[0]) if gone else "",
                         "사업보고서 미제출" if gone else ""])
        planted = []
        for i in range(REJECTS_PER_DAY):
            name = f"불량{d:02d}_{i:02d}"
            kind = i % 4
            code = ("12345", "ABCDEF", "1234", "00012")[i % 4] if kind < 2 else live[i]
            lst = "1985.03.02" if kind == 2 else "2001.05.02"
            dl = "2999.12.31" if kind == 3 else ""
            rows.append([name, code, "KOSDAQ", lst, dl, ""])
            planted.append(name)
        order = rng.permutation(len(rows))
        with open(os.path.join(out_dir, f"master_{d}.html"), "w", encoding="utf-8") as f:
            f.write(_html([rows[i] for i in order]))

        # Price drop: the next trade dates plus late corrections.
        dates = drops[(d - 1) * DATES_PER_DROP: d * DATES_PER_DROP]
        prows = _price_rows(rng, priced_codes, dates, base, stamp)
        seen = (hist + drops[:(d - 1) * DATES_PER_DROP])[-RECENT:]
        picks = {(int(rng.integers(0, PRICED)), int(rng.integers(0, len(seen))))
                 for _ in range(CORRECTIONS)}
        for si, di in sorted(picks):
            close = round(float(rng.uniform(1_000, 200_000)), 1)
            prows.append([priced_codes[si], seen[di].isoformat(), close, close, close, close,
                          0, 0, int(close * 10_000_000), 0.0, stamp, stamp])
        _write_csv(os.path.join(out_dir, f"price_{d}.csv"), prows)
        manifest.append({"day": d, "stamp": stamp, "last_trade_date": dates[-1].isoformat(),
                         "planted_rejects": planted})

    with open(os.path.join(out_dir, "days.json"), "w", encoding="utf-8") as f:
        json.dump({"seed": seed, "gen_version": GEN_VERSION, "days": manifest}, f,
                  ensure_ascii=False, indent=1, sort_keys=True)
