"""Seeded input generators for the benchmark.

Everything here is plain numpy/pyarrow: the engine under test never runs
while its inputs are made, and the same seed always gives byte-identical
inputs.

* ``write_cms_csvs``: CMS-shaped claims and beneficiary CSVs (FIXTURES.md
  A1/A2): N:1 claim fan-out, about 3 % orphan claims, empty trailing ICD
  slots (loaded as NULL), NULL/other sex codes, extra unused columns.
* ``write_tables``: the ``orders``, ``lineitem`` and ``events`` tables the
  ``stream_cdc`` queries read, shaped like the driver testdata (FIXTURES.md
  B) at scale factor ``sf``.
* ``write_change_batch``: one micro-batch file of a seeded CDC change feed.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ICD_CODES = [
    "4019", "25000", "V5869", "2724", "42731", "4280", "5849", "486", "2449",
    "53081", "41401", "V4581", "2859", "311", "V1582", "49121", "5990", "2762",
]
CLAIMS_EXTRA = ["SEGMENT", "AT_PHYSN_NPI", "CLM_UTLZTN_DAY_CNT", "NCH_BENE_IP_DDCTBL_AMT"]


def _yyyymmdd(days_since_2008: np.ndarray) -> list[str]:
    base = np.datetime64("2008-01-01")
    return [str(d).replace("-", "") for d in (base + days_since_2008.astype("timedelta64[D]"))]


def write_cms_csvs(out_dir: str, seed: int, n_bene: int, n_claims: int) -> dict:
    """Write ``claims.csv`` and ``beneficiary.csv``; return their row counts."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    ids = [f"{v:016X}" for v in rng.choice(2**62, size=n_bene + n_claims // 30, replace=False)]
    bene_ids, orphan_ids = ids[:n_bene], ids[n_bene:]

    birth = _yyyymmdd(rng.integers(-36500, -6000, n_bene))
    death_days = rng.integers(0, 1095, n_bene)
    dead = rng.random(n_bene) < 0.05
    death = _yyyymmdd(death_days)
    sex = rng.choice(["1", "2", "", "0", "9"], size=n_bene, p=[0.47, 0.47, 0.03, 0.02, 0.01])
    hi = rng.integers(0, 13, n_bene)
    smi = rng.integers(0, 13, n_bene)
    with open(os.path.join(out_dir, "beneficiary.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["DESYNPUF_ID", "BENE_BIRTH_DT", "BENE_DEATH_DT", "BENE_SEX_IDENT_CD",
                    "BENE_HI_CVRAGE_TOT_MONS", "BENE_SMI_CVRAGE_TOT_MONS", "SP_STATE_CODE"])
        for i in range(n_bene):
            w.writerow([bene_ids[i], birth[i], death[i] if dead[i] else "", sex[i],
                        hi[i], smi[i], int(rng.integers(1, 55))])

    # N:1 fan-out: a skewed (Zipf-like) choice of patients, ~3 % orphans
    orphan = rng.random(n_claims) < 0.03
    pick = np.minimum(rng.zipf(1.3, n_claims) - 1 + rng.integers(0, n_bene, n_claims), n_bene - 1)
    pick = np.where(rng.random(n_claims) < 0.5, rng.integers(0, n_bene, n_claims), pick)
    from_days = rng.integers(0, 1095, n_claims)
    thru_days = from_days + rng.integers(0, 30, n_claims)
    frm, thru = _yyyymmdd(from_days), _yyyymmdd(thru_days)
    cents = rng.integers(-50000, 5000000, n_claims)
    cents[rng.random(n_claims) < 0.02] = 0
    n_dx = rng.integers(1, 10, n_claims)
    codes = rng.choice(ICD_CODES, size=(n_claims, 9))
    with open(os.path.join(out_dir, "claims.csv"), "w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["DESYNPUF_ID", "CLM_ID", "SEGMENT", "CLM_FROM_DT", "CLM_THRU_DT",
                    "PRVDR_NUM", "CLM_PMT_AMT", "AT_PHYSN_NPI"]
                   + [f"ICD9_DGNS_CD_{i}" for i in range(1, 10)] + CLAIMS_EXTRA[2:])
        for i in range(n_claims):
            pid = orphan_ids[i % len(orphan_ids)] if orphan[i] else bene_ids[pick[i]]
            amt = f"{'-' if cents[i] < 0 else ''}{abs(cents[i]) // 100}.{abs(cents[i]) % 100:02d}"
            dx = list(codes[i, : n_dx[i]]) + [""] * (9 - n_dx[i])
            w.writerow([pid, str(100000000 + i), "1", frm[i], thru[i],
                        f"{int(rng.integers(0, 999999)):06d}", amt,
                        str(int(rng.integers(10**9, 10**10)))]
                       + dx + [int(rng.integers(0, 30)), "1068.00"])
    return {"claims": n_claims, "beneficiary": n_bene}


# --------------------------------------------------------------------------- #
# testdata tables                                                             #
# --------------------------------------------------------------------------- #

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "click", "view", "purchase", "error"]


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n: int) -> np.ndarray:
    d = np.datetime64(start) + rng.integers(0, span_days, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def write_tables(out_dir: str, seed: int, sf: float) -> dict:
    """Write ``orders``, ``lineitem`` and ``events`` as
    ``<out_dir>/<name>.parquet``; return their row counts."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150000 * sf), max(10, int(10000 * sf)), int(200000 * sf)
    n_ord, n_li, n_ev = int(1500000 * sf), int(6000000 * sf), int(1000000 * sf)
    n_user = max(15, int(15000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, n_ord), pa.timestamp("us")),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, n_li), pa.timestamp("us")),
    })
    # events: ascending timestamps over 30 days, whole microseconds, stored
    # as TIMESTAMP(NANOS) like the driver testdata
    span_us = 30 * 86400 * 10**6
    ts_us = np.sort(rng.choice(span_us, size=n_ev, replace=False)) + 1704067200 * 10**6
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts_us * 1000, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_user, n_ev), pa.int64()),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(np.minimum(rng.lognormal(2.5, 1.2, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --------------------------------------------------------------------------- #
# CDC change feed                                                             #
# --------------------------------------------------------------------------- #

CHANGE_SCHEMA = pa.schema([("key", pa.int64()), ("val", pa.string()), ("seq", pa.int64())])


def write_change_batch(path: str, seed: int, batch: int, rows: int, key_space: int) -> int:
    """One micro-batch of an upsert feed: ``rows`` changes over ``key_space``
    keys, with repeated keys inside the batch (the sink must compact them to
    the latest ``seq``).  ``seq`` is globally unique and increasing.  Batch
    -1 is the base snapshot: every key once, with negative ``seq``."""
    rng = np.random.default_rng([seed, 3, batch + 1])
    keys = np.arange(key_space) if batch < 0 else rng.integers(0, key_space, rows)
    seq = batch * rows + np.arange(rows)
    vals = [f"v{b}_{s}" for b, s in zip(rng.integers(0, 10**6, rows), seq)]
    pq.write_table(pa.table({"key": keys, "val": vals, "seq": seq}, schema=CHANGE_SCHEMA), path)
    return rows
