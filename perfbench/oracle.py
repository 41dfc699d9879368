"""Independent oracles, run outside the timed region.

* Registry queries: each ``QuerySpec.oracle`` runs on DuckDB over the same
  parquet files, and the frames are compared with the engine's own
  differential check, ``tests/conftest.py:assert_frames_match`` (column
  names, dtype families and row count must match; rows order-insensitive;
  floats bit-for-bit).
* ``patient_claims_plus``: the reference join is re-expressed in DuckDB SQL
  over the raw CSVs, and each published table must match it in row count
  and in an order-independent hash of every row.
* CDC upsert table: last-write-wins by ``seq`` per key over the base
  snapshot and every change file.
"""

from __future__ import annotations

import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from conftest import assert_frames_match  # noqa: E402  (the engine's own differential check)


def connect(data_dir: str | None = None, tables=()) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with a view over ``<data_dir>/<t>.parquet`` for
    each of ``tables``."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def frames_mismatch(got, want, name: str) -> str | None:
    """``None`` when equal, else the reason ``assert_frames_match`` gives."""
    try:
        assert_frames_match(got, want, name)
    except AssertionError as exc:
        return str(exc).splitlines()[0][:300]
    return None


# --------------------------------------------------------------------------- #
# patient_claims_plus                                                         #
# --------------------------------------------------------------------------- #

PCP_COLUMNS = [
    "patient_id", "claim_from_date", "claim_thru_date", "claim_id", "provider_number",
    "claim_payment_amount", *[f"icd_diagnosis_code_{i}" for i in range(1, 10)],
    "patient_hospital_insurance_total_months",
    "patient_supplementary_medical_insurance_total_months",
    "patient_birth_date", "patient_death_date", "patient_sex",
]


def _row_hash_sql(rel: str) -> str:
    cells = ", ".join(f"coalesce(CAST({c} AS VARCHAR), '\\N')" for c in PCP_COLUMNS)
    return f"SELECT count(*), sum(hash(concat_ws('|', {cells}))::HUGEINT) FROM {rel}"


def expected_patient_claims(con, claims_csv: str, bene_csv: str) -> tuple:
    """(rows, hash) of the reference join (LEFT join, sex decode with
    NULL/other -> 'Unknown', empty cells -> NULL)."""
    def v(col: str) -> str:
        return f"NULLIF({col}, '')"

    icd = ", ".join(f"{v(f'c.ICD9_DGNS_CD_{i}')} AS icd_diagnosis_code_{i}" for i in range(1, 10))
    rel = f"""(
      SELECT {v('c.DESYNPUF_ID')} AS patient_id, {v('c.CLM_FROM_DT')} AS claim_from_date,
             {v('c.CLM_THRU_DT')} AS claim_thru_date, {v('c.CLM_ID')} AS claim_id,
             {v('c.PRVDR_NUM')} AS provider_number,
             TRY_CAST({v('c.CLM_PMT_AMT')} AS DECIMAL(12,2)) AS claim_payment_amount, {icd},
             TRY_CAST({v('b.BENE_HI_CVRAGE_TOT_MONS')} AS INTEGER)
               AS patient_hospital_insurance_total_months,
             TRY_CAST({v('b.BENE_SMI_CVRAGE_TOT_MONS')} AS INTEGER)
               AS patient_supplementary_medical_insurance_total_months,
             {v('b.BENE_BIRTH_DT')} AS patient_birth_date, {v('b.BENE_DEATH_DT')} AS patient_death_date,
             CASE TRY_CAST({v('b.BENE_SEX_IDENT_CD')} AS INTEGER)
                  WHEN 1 THEN 'Male' WHEN 2 THEN 'Female' ELSE 'Unknown' END AS patient_sex
      FROM read_csv('{claims_csv}', header=true, all_varchar=true) c
      LEFT JOIN read_csv('{bene_csv}', header=true, all_varchar=true) b
        ON NULLIF(c.DESYNPUF_ID, '') = NULLIF(b.DESYNPUF_ID, ''))"""
    return tuple(con.execute(_row_hash_sql(rel)).fetchone())


def published_patient_claims(con, out_dir: str) -> tuple:
    return tuple(con.execute(_row_hash_sql(f"read_parquet('{out_dir}/*.parquet')")).fetchone())


# --------------------------------------------------------------------------- #
# CDC upsert table                                                            #
# --------------------------------------------------------------------------- #

def _kv_hash(rel: str) -> str:
    return f"SELECT count(*), sum(hash(key, val, seq)::HUGEINT) FROM {rel}"


def expected_upsert(con, files: list[str]) -> tuple:
    listed = ", ".join(f"'{f}'" for f in files)
    rel = f"""(SELECT key, arg_max(val, seq) AS val, max(seq) AS seq
               FROM read_parquet([{listed}]) GROUP BY key)"""
    return tuple(con.execute(_kv_hash(rel)).fetchone())


def published_upsert(con, table_dir: str) -> tuple:
    return tuple(con.execute(_kv_hash(f"read_parquet('{table_dir}/*.parquet')")).fetchone())
