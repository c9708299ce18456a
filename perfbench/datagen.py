"""Seeded inputs for the benchmark.

``write_tables`` writes the ten source tables (region … embeddings) with
the schemas and value domains of the engine's test fixtures
(FIXTURES.md §A) at the sf0.001 row counts. ``write_consume_inputs``
writes a schedule extract CSV, an airports JSON-lines file and event
chunk files for the monthly consume dataflow, and returns the legs the
consume must land, computed here without Spark.

The same seed always gives the same files.
"""

from __future__ import annotations

import datetime
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1500,
    "lineitem": 6000,
    "events": 1000,
    "documents": 500,
    "embeddings": 500,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype("timedelta64[us]"), pa.timestamp("us"))


def _days(base: str, offsets: np.ndarray) -> pa.Array:
    return _ts(base, offsets.astype(np.int64) * 86_400_000_000)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            # Planted near-duplicate: an earlier document plus a suffix.
            src = texts[int(rng.integers(0, i))]
            texts.append(src + " dup" * int(rng.integers(1, 4)))
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(rng.choice(WORDS, k)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n, p=LANG_P)),
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_tables(out_dir: str, seed: int) -> None:
    """Write the ten source tables as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    r = ROWS
    n_cust, n_supp, n_part = r["customer"], r["supplier"], r["part"]
    n_ord, n_li, n_ev = r["orders"], r["lineitem"], r["events"]
    n_emb = r["embeddings"]
    vec = rng.standard_normal((n_emb, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    ev_offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": list(rng.choice(PART_TYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(900.0 + np.arange(n_part) / 10.0, 2),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
                "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
                "o_orderpriority": list(rng.choice(PRIORITIES, n_ord)),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
                "l_discount": np.round(rng.uniform(0.0, 0.1, n_li), 2),
                "l_tax": np.round(rng.uniform(0.0, 0.08, n_li), 2),
                "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": list(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n_li)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev), pa.int64()),
                "ts": _ts("2024-01-01", ev_offsets),
                "user_id": pa.array(rng.integers(0, 15, n_ev), pa.int64()),
                "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
                "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
        "documents": _documents(rng, r["documents"]),
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(
                    list(vec.astype(np.float32)), pa.list_(pa.float32())
                ),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        ),
    }
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# --- monthly consume inputs ----------------------------------------------

#: The extract and the events cover the same three months.
MONTHS = ("2024-01", "2024-02", "2024-03")
#: Schedule rows per month, and how many of them consuming must drop
#: (zero seats, freight, codeshare, unknown origin, unknown destination).
#: The rest each run three weeks on five weekdays: exactly 15 legs.
SCHEDULE_ROWS_PER_MONTH = 700
DROPPED_PER_MONTH = {"zero_seats": 28, "freight": 63, "codeshare": 98,
                     "unknown_orig": 3, "unknown_dest": 3}
SPAN_DAYS = 21
AIRPORT_ROWS = 60
#: Events arrive in time order and are cut into files by size, not by
#: month, as an extract feed would drop them: a month's events span
#: files, and files span months.
EVENT_ROWS_PER_MONTH = 2000
EVENT_ROWS_PER_FILE = 240


def _airport_code(i: int) -> str:
    return "".join(chr(65 + (i // 26**p) % 26) for p in (2, 1, 0))


def write_consume_inputs(out_dir: str, seed: int) -> dict:
    """Write ``schedules.csv``, ``airports.jsonl`` and ``events/`` under
    ``out_dir``. Returns their sizes and ``legs``, the dated departures
    that consuming the extract must land."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)

    offsets = rng.integers(-12, 13, AIRPORT_ROWS) * 60
    codes = [_airport_code(i) for i in range(AIRPORT_ROWS)]
    with open(os.path.join(out_dir, "airports.jsonl"), "w") as fh:
        for i, code in enumerate(codes):
            row = {
                "code": code,
                "name": f"Airport {i}",
                "city": f"City {i % 20}",
                "country": f"C{i % 13}",
                "lat": round(float(rng.uniform(-70, 70)), 4),
                "lon": round(float(rng.uniform(-180, 180)), 4),
                "utc_offset_min": int(offsets[i]),
            }
            fh.write(json.dumps(row) + "\n")

    # Every month gets the same rows, so every month, and any choice of
    # re-consumed months, lands the same number of legs whatever the seed.
    # A leg stays in its schedule's month: its days keep one day clear of
    # the month's ends, and the UTC shift of a departure is under a day.
    known = {c: int(o) for c, o in zip(codes, offsets)}
    unknown = [_airport_code(AIRPORT_ROWS), _airport_code(AIRPORT_ROWS + 1)]
    per_month = SCHEDULE_ROWS_PER_MONTH
    n = per_month * len(MONTHS)
    kept = per_month - sum(DROPPED_PER_MONTH.values())
    kind = np.concatenate([
        rng.permutation(np.repeat(["kept", *DROPPED_PER_MONTH],
                                  [kept, *DROPPED_PER_MONTH.values()]))
        for _ in MONTHS
    ])
    first = [pd.Timestamp(f"{m}-01") for m in MONTHS]
    eff = pd.to_datetime(np.concatenate([
        np.datetime64(f.date()) + rng.integers(1, f.days_in_month - SPAN_DAYS, per_month)
        for f in first
    ]))

    def hhmm() -> list[str]:
        return [f"{h:02d}:{m:02d}"
                for h, m in zip(rng.integers(0, 24, n), rng.integers(0, 12, n) * 5)]

    orig, dest = rng.choice(codes, n), rng.choice(codes, n)
    orig = np.where(kind == "unknown_orig", rng.choice(unknown, n), orig)
    dest = np.where(kind == "unknown_dest", rng.choice(unknown, n), dest)
    sched = pd.DataFrame(
        {
            "sched_id": np.arange(n),
            "carrier": [f"{a}{b}" for a, b in zip(rng.choice(list("ABCDE"), n),
                                                  rng.choice(list("FGHIJKL"), n))],
            "flight_num": rng.integers(100, 9100, n),
            "orig": orig,
            "dest": dest,
            "eff_date": eff,
            "disc_date": eff + pd.Timedelta(days=SPAN_DAYS - 1),
            "day_mask": ["".join(m) for m in rng.permuted(
                np.tile(list("1111100"), (n, 1)), axis=1)],
            "dep_time_local": hhmm(),
            "arr_time_local": hhmm(),
            "seats": np.where(kind == "zero_seats", 0, rng.integers(20, 400, n)),
            "service_type": np.where(kind == "freight", "F", "J"),
            "codeshare": kind == "codeshare",
        }
    )
    out = sched.copy()
    for c in ("eff_date", "disc_date"):
        out[c] = out[c].dt.strftime("%Y-%m-%d")
    out["codeshare"] = out["codeshare"].map({True: "true", False: "false"})
    out.to_csv(os.path.join(out_dir, "schedules.csv"), index=False)

    legs = _expected_legs(sched, known)

    ev_dir = os.path.join(out_dir, "events")
    os.makedirs(ev_dir)
    n_ev = EVENT_ROWS_PER_MONTH * len(MONTHS)
    ts = np.sort(np.concatenate([
        np.datetime64(f.date(), "us") + rng.integers(
            0, f.days_in_month * 86_400_000_000, EVENT_ROWS_PER_MONTH
        ).astype("timedelta64[us]")
        for f in first
    ]))
    n_files = -(-n_ev // EVENT_ROWS_PER_FILE)
    mtime = 1_700_000_000
    for f in range(n_files):
        rows = slice(f * EVENT_ROWS_PER_FILE, (f + 1) * EVENT_ROWS_PER_FILE)
        k = len(ts[rows])
        table = pa.table(
            {
                "event_id": pa.array(np.arange(n_ev)[rows], pa.int64()),
                "ts": pa.array(ts[rows], pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, 50, k), pa.int64()),
                "event_type": list(rng.choice(EVENT_TYPES, k)),
                "value": np.round(rng.exponential(50.0, k), 2),
                "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, k)],
            }
        )
        path = os.path.join(ev_dir, f"chunk-{f:03d}.parquet")
        pq.write_table(table, path)
        # The file source admits files in modification-time order.
        mtime += 10
        os.utime(path, (mtime, mtime))
    months, counts = np.unique(ts.astype("datetime64[M]").astype(str), return_counts=True)
    return {
        "schedule_rows": n,
        "airport_rows": AIRPORT_ROWS,
        "event_rows": n_ev,
        "event_files": n_files,
        "event_rows_by_month": {m: int(c) for m, c in zip(months, counts)},
        "legs": legs,
    }


def _expected_legs(sched: pd.DataFrame, offsets: dict[str, int]) -> pd.DataFrame:
    """The dated departures consuming ``sched`` must produce, computed row
    by row: passenger service, positive seats, operating carrier, both
    airports known, one leg per day in [eff_date, disc_date] whose
    weekday bit is set. ``month`` is the UTC departure month."""
    legs = []
    for row in sched.itertuples(index=False):
        if (
            row.service_type != "J"
            or row.seats <= 0
            or row.codeshare
            or row.orig not in offsets
            or row.dest not in offsets
        ):
            continue
        hh, mm = map(int, row.dep_time_local.split(":"))
        day = row.eff_date.date()
        while day <= row.disc_date.date():
            if row.day_mask[day.isoweekday() - 1] == "1":
                dep = datetime.datetime.combine(day, datetime.time(hh, mm))
                dep -= datetime.timedelta(minutes=offsets[row.orig])
                legs.append((row.orig, row.dest, day.isoformat(),
                             int(row.seats), dep.strftime("%Y-%m")))
            day += datetime.timedelta(days=1)
    return pd.DataFrame(legs, columns=["orig", "dest", "leg_date", "seats", "month"])
