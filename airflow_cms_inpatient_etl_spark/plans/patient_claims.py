"""The flagship query: ``patient_claims_plus`` (reference A15-A18) — twice.

1. ``build_patient_claims_plus``: the true CMS-shaped pipeline over claims ⋈
   beneficiary, mirroring ``/root/reference/dags/patient_claims_plus_postgres.py:160-190``
   column-for-column (20 output columns, one row per claim, LEFT join, sex code
   decoded with NULL→'Unknown').  Exercised by the CSV-fixture tests.
2. ``flagship_testdata``: the same operator shape over the driver testdata
   (orders ⋈ customer stands in for claims ⋈ beneficiary) so the driver's
   smoke/oracle harness can grade it.

Scale notes: the dimension side (beneficiary / customer) is the small side —
broadcast it so the fact side never shuffles.  At 100 TB the fact scan is
pruned to the projected columns by Catalyst and the join is map-side; the
materialization writes partitioned parquet through the distributed commit
protocol (no driver buffering, unlike the reference's StringIO load at
``:46-53``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from airflow_cms_inpatient_etl_spark.sources.registry import load_table


# Reference CASE decode (:182-186): 1→Male, 2→Female, else/NULL→Unknown.
SEX_DECODE = "CASE sex_code WHEN 1 THEN 'Male' WHEN 2 THEN 'Female' ELSE 'Unknown' END"

# (source, output) column pairs of each side (reference :161-189); the join
# key comes first, the beneficiary's sex code is decoded after the join
CLAIMS_RENAMES = [
    ("desynpuf_id", "patient_id"),
    ("clm_from_dt", "claim_from_date"),
    ("clm_thru_dt", "claim_thru_date"),
    ("clm_id", "claim_id"),
    ("prvdr_num", "provider_number"),
    ("clm_pmt_amt", "claim_payment_amount"),
    *[(f"icd9_dgns_cd_{i}", f"icd_diagnosis_code_{i}") for i in range(1, 10)],
]
BENEFICIARY_RENAMES = [
    ("desynpuf_id", "patient_id"),
    ("bene_hi_cvrage_tot_mons", "patient_hospital_insurance_total_months"),
    ("bene_smi_cvrage_tot_mons", "patient_supplementary_medical_insurance_total_months"),
    ("bene_birth_dt", "patient_birth_date"),
    ("bene_death_dt", "patient_death_date"),
    ("bene_sex_ident_cd", "sex_code"),
]


def build_patient_claims_plus(claims: DataFrame, beneficiary: DataFrame) -> DataFrame:
    """claims ⋈ beneficiary → the 20-column analytics table (reference :161-189).

    The projections are SQL strings: one py4j call per column instead of
    two or three per ``Column`` (col/alias/cast), which is most of the
    plan-building time of a small DAG run."""
    c = claims.selectExpr(*[f"{src} AS {dst}" for src, dst in CLAIMS_RENAMES])
    b = beneficiary.selectExpr(*[f"{src} AS {dst}" for src, dst in BENEFICIARY_RENAMES])
    return c.join(F.broadcast(b), on="patient_id", how="left").selectExpr(
        *[dst for _, dst in CLAIMS_RENAMES],
        *[dst for _, dst in BENEFICIARY_RENAMES[1:-1]],
        f"{SEX_DECODE} AS patient_sex",
    )


def flagship_testdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship operator shape on driver testdata: fact LEFT JOIN broadcast
    dim + renames + CASE decode with NULL→'Unknown' (orders⋈customer as the
    claims⋈beneficiary analog)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dim = customer.select(
        F.col("c_custkey"),
        F.col("c_name").alias("patient_name"),
        F.col("c_acctbal").alias("patient_acctbal"),
        F.col("c_mktsegment"),
    )
    return (
        orders.join(F.broadcast(dim), orders.o_custkey == dim.c_custkey, "left")
        .select(
            F.col("o_orderkey").alias("claim_id"),
            F.col("o_orderdate").alias("claim_date"),
            F.col("o_totalprice").alias("claim_payment_amount"),
            F.col("o_orderpriority").alias("claim_priority"),
            F.col("patient_name"),
            F.col("patient_acctbal"),
            F.when(F.col("c_mktsegment") == "AUTOMOBILE", "Automobile")
            .when(F.col("c_mktsegment") == "BUILDING", "Building")
            .otherwise("Unknown")
            .alias("patient_segment"),
        )
    )


FLAGSHIP_ORACLE_SQL = """
SELECT o.o_orderkey AS claim_id,
       o.o_orderdate AS claim_date,
       o.o_totalprice AS claim_payment_amount,
       o.o_orderpriority AS claim_priority,
       c.c_name AS patient_name,
       c.c_acctbal AS patient_acctbal,
       CASE WHEN c.c_mktsegment = 'AUTOMOBILE' THEN 'Automobile'
            WHEN c.c_mktsegment = 'BUILDING' THEN 'Building'
            ELSE 'Unknown' END AS patient_segment
FROM orders o
LEFT JOIN customer c ON o.o_custkey = c.c_custkey
"""
