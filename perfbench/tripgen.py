"""Seeded generator of monthly yellow-trip parquet drops.

One process, numpy + pyarrow only.  Each month file carries the adversarial
mix of FIXTURES.md section 1 on top of valid trips:

- exact re-deliveries (whole-row copies, so the surrogate key repeats);
- out-of-domain and NULL ``payment_type`` (dropped by the silver filter);
- unknown vendor / ratecode ids (decode ELSE branches);
- negative and NULL money amounts (ABS/COALESCE cleaning);
- month-boundary pickups: the first and last second of the month, plus
  stray rows stamped in the neighbouring months (the bronze month filter
  drops them) and NULL pickups (tagged with the load month, then dropped).

The last day's midnight always holds one valid row, which the next month's
daily-summary watermark skips (the reference's P5 quirk).

Every month stays passable by the pipeline's gates: vendor, pickup and
dropoff are never NULL on rows of the load month, and valid rows get
distinct pickup seconds so no two of them share a surrogate key.

The expectations (silver rows, trips and revenue per month) are computed
here from the generated arrays, without the engine.  ``pipeline_months``
calls ``write_months``.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

YEAR = 2024
MONEY = ["fare_amount", "extra", "mta_tax", "tip_amount", "tolls_amount",
         "improvement_surcharge", "congestion_surcharge", "airport_fee"]
INT_COLS = ["vendorid", "passenger_count", "ratecodeid", "pulocationid",
            "dolocationid", "payment_type"]
COLUMNS = ["vendorid", "tpep_pickup_datetime", "tpep_dropoff_datetime",
           "passenger_count", "trip_distance", "ratecodeid",
           "store_and_fwd_flag", "pulocationid", "dolocationid",
           "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
           "tolls_amount", "improvement_surcharge", "total_amount",
           "congestion_surcharge", "airport_fee"]

# shares of the month's valid-row count
REDELIVERED = 0.02     # whole-row copies of valid rows
BAD_PAYMENT = 0.01     # payment_type 0/7/9/NULL
NULL_PICKUP = 0.003    # pickup NULL -> tagged with the load month, dropped
STRAY = 0.002          # pickup in the previous / next month
UNKNOWN_IDS = 0.01     # vendor 3/99, ratecode 99/NULL on valid rows
NEG_MONEY = 0.01       # negative fare/tip/extra
NULL_MONEY = 0.01      # per money column


def month_name(index: int) -> str:
    """Month ``index`` (0-based) of the generated year, as ``YYYY-MM``."""
    return f"{YEAR}-{index + 1:02d}"


def _month_bounds(index: int) -> tuple[np.datetime64, int]:
    start = dt.datetime(YEAR, index + 1, 1)
    end = dt.datetime(YEAR + (index == 11), (index + 1) % 12 + 1, 1)
    return np.datetime64(start, "s"), int((end - start).total_seconds())


def _valid_rows(rng: np.random.Generator, n: int, start: np.datetime64,
                seconds: int) -> dict[str, np.ndarray]:
    """``n`` valid trips with distinct pickup seconds.  The first and last
    second of the month are always among them (the boundary rows), and so is
    midnight of the month's last day: the next month's daily-summary
    watermark (``pickup > MAX(trip_date)``) skips exactly that row."""
    fixed = [0, seconds - 1, seconds - 86400]
    inner = rng.choice(np.setdiff1d(np.arange(1, seconds - 1), fixed),
                       size=n - len(fixed), replace=False)
    offs = np.concatenate([fixed, inner])
    pickup = start + offs.astype("timedelta64[s]")
    duration = rng.integers(60, 3600, size=n).astype("timedelta64[s]")
    # a few dropoffs before their pickup: negative durations stay legal
    flip = rng.random(n) < 0.002
    duration[flip] = -duration[flip]
    cols: dict[str, np.ndarray] = {
        "vendorid": rng.choice([1, 2, 6, 7], size=n, p=[0.3, 0.6, 0.05, 0.05]),
        "tpep_pickup_datetime": pickup,
        "tpep_dropoff_datetime": pickup + duration,
        "passenger_count": rng.integers(1, 7, size=n),
        # whole-number distances every tenth row: integer-valued doubles
        "trip_distance": np.where(
            rng.random(n) < 0.1, rng.integers(0, 30, size=n).astype(float),
            np.round(rng.exponential(3.0, size=n), 2)),
        "ratecodeid": rng.choice([1, 2, 3, 4, 5, 6], size=n,
                                 p=[0.9, 0.04, 0.02, 0.01, 0.02, 0.01]),
        "store_and_fwd_flag": rng.choice(np.array(["N", "Y"], dtype=object),
                                         size=n, p=[0.99, 0.01]),
        "pulocationid": rng.integers(1, 266, size=n),
        "dolocationid": rng.integers(1, 266, size=n),
        "payment_type": rng.choice([1, 2, 3, 4, 5, 6], size=n,
                                   p=[0.7, 0.2, 0.04, 0.03, 0.02, 0.01]),
        "fare_amount": np.round(rng.uniform(3.0, 80.0, size=n), 2),
        "extra": rng.choice([0.0, 0.5, 1.0, 2.5], size=n),
        "mta_tax": np.full(n, 0.5),
        "tip_amount": np.round(rng.uniform(0.0, 15.0, size=n), 2),
        "tolls_amount": np.where(rng.random(n) < 0.05, 6.94, 0.0),
        "improvement_surcharge": np.full(n, 1.0),
        "congestion_surcharge": rng.choice([0.0, 2.5], size=n),
        "airport_fee": np.where(rng.random(n) < 0.05, 1.75, 0.0),
        # noise: the silver model recomputes the total from the components
        "total_amount": np.round(rng.uniform(-5.0, 120.0, size=n), 2),
    }
    k = max(1, int(n * UNKNOWN_IDS))
    cols["vendorid"][rng.choice(n, k, replace=False)] = rng.choice([3, 99], k)
    cols["ratecodeid"][rng.choice(n, k, replace=False)] = 99
    for c in ("fare_amount", "tip_amount", "extra"):
        idx = rng.choice(n, max(1, int(n * NEG_MONEY)), replace=False)
        cols[c][idx] = -np.abs(cols[c][idx]) - 0.5
    return cols


def _to_table(cols: dict[str, np.ndarray], masks: dict[str, np.ndarray]
              ) -> pa.Table:
    arrays = []
    for c in COLUMNS:
        mask = masks.get(c)
        if c in INT_COLS:
            arrays.append(pa.array(cols[c].astype(np.int32), pa.int32(),
                                   mask=mask))
        elif c in ("tpep_pickup_datetime", "tpep_dropoff_datetime"):
            arrays.append(pa.array(cols[c].astype("datetime64[us]"),
                                   pa.timestamp("us"), mask=mask))
        elif c == "store_and_fwd_flag":
            arrays.append(pa.array(cols[c], pa.string(), mask=mask))
        else:
            arrays.append(pa.array(cols[c].astype(float), pa.float64(),
                                   mask=mask))
    return pa.table(arrays, names=COLUMNS)


def generate_month(rng: np.random.Generator, index: int, rows: int
                   ) -> tuple[pa.Table, dict]:
    """One month drop of about ``rows`` rows and its expectation."""
    start, seconds = _month_bounds(index)
    n_valid = rows
    cols = _valid_rows(rng, n_valid, start, seconds)
    nulls = {c: rng.random(n_valid) < NULL_MONEY for c in MONEY}
    nulls["ratecodeid"] = rng.random(n_valid) < UNKNOWN_IDS / 2

    # the expectation: every valid row is one silver row; revenue is the
    # 8-way sum of ABS(COALESCE(money, 0)) over them
    money = sum(np.where(nulls[c], 0.0, np.abs(cols[c])) for c in MONEY)
    last_midnight = start + np.timedelta64(seconds - 86400, "s")
    expect = {"month": month_name(index), "silver_rows": n_valid,
              "revenue": float(np.sum(money)),
              "last_midnight_rows": int(np.sum(
                  cols["tpep_pickup_datetime"] == last_midnight))}

    # rows that never reach silver: copies of valid rows with a bad
    # payment_type, NULL pickups and strays from the neighbouring months
    extra_parts = []
    for share, kind in ((BAD_PAYMENT, "payment"), (NULL_PICKUP, "null_pickup"),
                        (STRAY, "stray")):
        k = max(2, int(n_valid * share))
        pick = rng.choice(n_valid, k, replace=False)
        part = {c: v[pick].copy() for c, v in cols.items()}
        part_masks = {c: m[pick].copy() for c, m in nulls.items()}
        if kind == "payment":
            part["payment_type"] = rng.choice([0, 7, 9, 1], k)
            part_masks["payment_type"] = rng.random(k) < 0.25
            # NULL wins over the in-domain placeholder 1
            part_masks["payment_type"] |= part["payment_type"] == 1
        elif kind == "null_pickup":
            part_masks["tpep_pickup_datetime"] = np.ones(k, bool)
        else:
            before = np.arange(k) % 2 == 0
            step = np.timedelta64(1, "s")
            part["tpep_pickup_datetime"] = np.where(
                before, start - step,
                start + np.timedelta64(seconds, "s"))
            part["tpep_dropoff_datetime"] = (part["tpep_pickup_datetime"]
                                             + np.timedelta64(600, "s"))
        extra_parts.append((part, part_masks))

    # exact re-deliveries: whole-row copies of valid rows
    k = max(1, int(n_valid * REDELIVERED))
    pick = rng.choice(n_valid, k, replace=False)
    extra_parts.append(({c: v[pick].copy() for c, v in cols.items()},
                        {c: m[pick].copy() for c, m in nulls.items()}))

    all_cols = {c: np.concatenate([cols[c]] + [p[c] for p, _ in extra_parts])
                for c in cols}
    base_masks = nulls
    masks = {}
    for c in set(base_masks) | {m for _, pm in extra_parts for m in pm}:
        masks[c] = np.concatenate(
            [base_masks.get(c, np.zeros(n_valid, bool))]
            + [pm.get(c, np.zeros(len(p["vendorid"]), bool))
               for p, pm in extra_parts])
    n_total = len(all_cols["vendorid"])
    order = rng.permutation(n_total)
    all_cols = {c: v[order] for c, v in all_cols.items()}
    masks = {c: m[order] for c, m in masks.items()}
    expect["source_rows"] = n_total
    return _to_table(all_cols, masks), expect


def write_months(out_dir: str, seed: int, months: int, rows: int
                 ) -> tuple[list[str], list[dict]]:
    """Write ``months`` drops under ``out_dir``; returns their paths and
    expectations, both in month order."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    paths, expects = [], []
    for i in range(months):
        table, expect = generate_month(rng, i, rows)
        path = os.path.join(out_dir, f"yellow_tripdata_{month_name(i)}.parquet")
        pq.write_table(table, path)
        paths.append(path)
        expects.append(expect)
    return paths, expects

