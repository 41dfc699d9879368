"""Typed schemas for the CMS parity surface.

Mirrors the reference DDL (``/root/reference/dags/patient_claims_plus_postgres.py:78-103``):
15 inpatient-claims columns and 6 beneficiary columns, with Postgres types mapped
to Spark types per SURVEY.md §1.2 — ``TEXT``→string (dates stay `YYYYMMDD` text,
the reference never parses them), ``NUMERIC``→decimal(12,2) for money,
``INT``→int.  Column names are normalized to lowercase on ingest (Postgres folds
unquoted DDL identifiers; the reference leans on that at
``patient_claims_plus_postgres.py:70``).
"""

from __future__ import annotations

from pyspark.sql import types as T

# CSV header names (UPPERCASE in the SynPUF files,
# /root/reference/dags/patient_claims_plus_postgres.py:115-120)
CLAIMS_KEEP_COLS = [
    "DESYNPUF_ID",
    "CLM_ID",
    "CLM_FROM_DT",
    "CLM_THRU_DT",
    "PRVDR_NUM",
    "CLM_PMT_AMT",
    *[f"ICD9_DGNS_CD_{i}" for i in range(1, 10)],
]

# /root/reference/dags/patient_claims_plus_postgres.py:138-145
BENEFICIARY_KEEP_COLS = [
    "DESYNPUF_ID",
    "BENE_HI_CVRAGE_TOT_MONS",
    "BENE_SMI_CVRAGE_TOT_MONS",
    "BENE_BIRTH_DT",
    "BENE_DEATH_DT",
    "BENE_SEX_IDENT_CD",
]


CLAIMS_SCHEMA = T.StructType(
    [
        T.StructField("desynpuf_id", T.StringType()),
        T.StructField("clm_id", T.StringType()),
        T.StructField("clm_from_dt", T.StringType()),
        T.StructField("clm_thru_dt", T.StringType()),
        T.StructField("prvdr_num", T.StringType()),
        # Postgres bare NUMERIC at :84 — pinned to money decimal per SURVEY §1.2
        T.StructField("clm_pmt_amt", T.DecimalType(12, 2)),
        *[T.StructField(f"icd9_dgns_cd_{i}", T.StringType()) for i in range(1, 10)],
    ]
)

BENEFICIARY_SCHEMA = T.StructType(
    [
        T.StructField("desynpuf_id", T.StringType()),
        T.StructField("bene_hi_cvrage_tot_mons", T.IntegerType()),
        T.StructField("bene_smi_cvrage_tot_mons", T.IntegerType()),
        T.StructField("bene_birth_dt", T.StringType()),
        T.StructField("bene_death_dt", T.StringType()),
        T.StructField("bene_sex_ident_cd", T.IntegerType()),
    ]
)
