"""Reference-parity tests on CMS-shaped fixtures (FIXTURES.md §A).

Reproduces the semantic edge cases of the reference pipeline
(``/root/reference/dags/patient_claims_plus_postgres.py``):
empty-CSV-cell→NULL (COPY-csv semantics), unmatched LEFT-join keys →
``patient_sex='Unknown'``, N:1 fan-out, decimal money casts, YYYYMMDD text
dates, header validation failure, and real (raising) DQ checks.
"""

from __future__ import annotations

import decimal
import os

import pytest

from airflow_cms_inpatient_etl_spark.plans.dq import (
    DataQualityError,
    check_non_empty,
    check_unique_key,
    observe_dq,
)
from airflow_cms_inpatient_etl_spark.plans.patient_claims import build_patient_claims_plus
from airflow_cms_inpatient_etl_spark.schemas import (
    BENEFICIARY_KEEP_COLS,
    BENEFICIARY_SCHEMA,
    CLAIMS_KEEP_COLS,
    CLAIMS_SCHEMA,
)
from airflow_cms_inpatient_etl_spark.sources.files import MissingColumnsError, read_csv_projected

CLAIMS_CSV = """DESYNPUF_ID,CLM_ID,CLM_FROM_DT,CLM_THRU_DT,PRVDR_NUM,CLM_PMT_AMT,ICD9_DGNS_CD_1,ICD9_DGNS_CD_2,ICD9_DGNS_CD_3,ICD9_DGNS_CD_4,ICD9_DGNS_CD_5,ICD9_DGNS_CD_6,ICD9_DGNS_CD_7,ICD9_DGNS_CD_8,ICD9_DGNS_CD_9,EXTRA_COL
P001,C1,20080101,20080105,100001,1234.50,4019,25000,,,,,,,,x
P001,C2,20080201,20080201,100002,-50.00,V5869,,,,,,,,,x
P002,C3,20090315,20090320,100003,0.00,4019,25000,2724,4011,2720,V5869,40291,2859,5990,x
P404,C4,20100101,20100102,100004,99.99,,,,,,,,,,x
"""

BENEFICIARY_CSV = """DESYNPUF_ID,BENE_HI_CVRAGE_TOT_MONS,BENE_SMI_CVRAGE_TOT_MONS,BENE_BIRTH_DT,BENE_DEATH_DT,BENE_SEX_IDENT_CD,IGNORED
P001,12,12,19400101,,1,y
P002,6,0,19551231,20100615,2,y
P003,12,12,19600707,,3,y
"""


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("cms")
    (d / "claims.csv").write_text(CLAIMS_CSV)
    (d / "beneficiary.csv").write_text(BENEFICIARY_CSV)
    return str(d)


@pytest.fixture(scope="module")
def loaded(spark, fixture_dir):
    claims = read_csv_projected(
        spark, os.path.join(fixture_dir, "claims.csv"), CLAIMS_KEEP_COLS, CLAIMS_SCHEMA
    )
    bene = read_csv_projected(
        spark,
        os.path.join(fixture_dir, "beneficiary.csv"),
        BENEFICIARY_KEEP_COLS,
        BENEFICIARY_SCHEMA,
    )
    return claims, bene


def test_projection_drops_extra_columns(loaded):
    claims, bene = loaded
    assert len(claims.columns) == 15  # 15 of 16 (EXTRA_COL dropped) — reference :115-120
    assert len(bene.columns) == 6
    assert claims.columns[0] == "desynpuf_id"  # lowercased on ingest (reference :70)


def test_empty_cells_load_as_null_not_empty_string(loaded):
    """COPY-csv semantics (reference :51,:55-57): empty unquoted cell → NULL."""
    claims, _ = loaded
    row = claims.filter(claims.clm_id == "C1").first()
    assert row["icd9_dgns_cd_2"] == "25000"
    assert row["icd9_dgns_cd_3"] is None  # NULL, not ''
    all_null = claims.filter(claims.clm_id == "C4").first()
    assert all(all_null[f"icd9_dgns_cd_{i}"] is None for i in range(1, 10))


def test_money_cast_to_decimal(loaded):
    """Text→NUMERIC cast at load (reference :84,:55-57) incl. negatives (reversals)."""
    claims, _ = loaded
    amounts = {r["clm_id"]: r["clm_pmt_amt"] for r in claims.collect()}
    assert amounts["C1"] == decimal.Decimal("1234.50")
    assert amounts["C2"] == decimal.Decimal("-50.00")
    assert amounts["C3"] == decimal.Decimal("0.00")


def test_header_validation_fails_on_missing_column(spark, fixture_dir):
    """Reference :42-44: load hard-fails when a keep_col is absent."""
    with pytest.raises(MissingColumnsError, match="BENE_SEX_IDENT_CD"):
        read_csv_projected(
            spark,
            os.path.join(fixture_dir, "claims.csv"),
            BENEFICIARY_KEEP_COLS,
            BENEFICIARY_SCHEMA,
        )


def test_flagship_output_contract(loaded):
    """Reference :161-189: 20 columns, one row per claim, LEFT join."""
    claims, bene = loaded
    out = build_patient_claims_plus(claims, bene)
    assert len(out.columns) == 20
    assert out.count() == claims.count() == 4  # LEFT join preserves every claim
    cols = set(out.columns)
    assert {"patient_id", "claim_id", "claim_payment_amount", "patient_sex"} <= cols
    assert {f"icd_diagnosis_code_{i}" for i in range(1, 10)} <= cols


def test_sex_decode_and_unmatched_join(loaded):
    """Reference :182-186: 1→Male, 2→Female, else→Unknown; unmatched claims
    keep NULL beneficiary attrs but patient_sex='Unknown'."""
    claims, bene = loaded
    out = build_patient_claims_plus(claims, bene)
    by_claim = {r["claim_id"]: r for r in out.collect()}
    assert by_claim["C1"]["patient_sex"] == "Male"
    assert by_claim["C3"]["patient_sex"] == "Female"
    orphan = by_claim["C4"]  # P404 has no beneficiary row
    assert orphan["patient_sex"] == "Unknown"
    assert orphan["patient_birth_date"] is None
    assert orphan["patient_hospital_insurance_total_months"] is None
    # N:1 fan-out: P001 has two claims joined to one beneficiary row
    assert by_claim["C1"]["patient_birth_date"] == by_claim["C2"]["patient_birth_date"] == "19400101"
    # out-of-domain sex code (3) would decode to 'Unknown' too
    bene3 = {r["desynpuf_id"]: r for r in bene.collect()}
    assert bene3["P003"]["bene_sex_ident_cd"] == 3


def test_dq_checks_raise(loaded, spark):
    """SURVEY A14: the reference's DQ selects can never fail; ours raise.
    The checks judge metrics observed while a write consumed the frame."""
    claims, bene = loaded

    def observed(df, name, key=None):
        df, obs = observe_dq(df, name, unique_key=key)
        df.write.format("noop").mode("overwrite").save()
        return obs

    assert check_non_empty(observed(claims, "claims"), "claims") == 4
    check_unique_key(observed(bene, "bene", "desynpuf_id"), "desynpuf_id", "beneficiary")  # unique → ok
    with pytest.raises(DataQualityError, match="empty"):
        empty_slice = claims.filter(claims.clm_id == "nope")
        check_non_empty(observed(empty_slice, "empty_slice"), "empty_slice")
    with pytest.raises(DataQualityError, match="not unique"):
        # P001 twice
        check_unique_key(observed(claims, "dup", "desynpuf_id"), "desynpuf_id", "claims")


def test_observed_dq_metrics_single_pass(loaded, spark):
    """observe()-based DQ profiling: row count + null counts accumulate while
    the SAME job runs (no second scan — one job total), and the numbers match
    a direct computation."""
    claims, bene = loaded
    joined = build_patient_claims_plus(claims, bene)
    observed, obs = observe_dq(joined, "pcp_dq", ["patient_death_date"])

    # the metrics ride the plan as a CollectMetrics node — not a second scan
    plan = observed._jdf.queryExecution().optimizedPlan().toString()
    assert "CollectMetrics" in plan and plan.count("Relation") == joined._jdf.queryExecution().optimizedPlan().toString().count("Relation")

    n_written = observed.count()  # the ONE action drives plan AND metrics
    assert obs.get["n_rows"] == n_written == 4
    expected_nulls = joined.filter(joined.patient_death_date.isNull()).count()
    assert obs.get["n_null_patient_death_date"] == expected_nulls


def test_materialize_roundtrip(loaded, spark, tmp_path):
    """CTAS analog (reference :161): overwrite-mode parquet write + re-read."""
    from airflow_cms_inpatient_etl_spark.sources.files import write_table

    claims, bene = loaded
    out = build_patient_claims_plus(claims, bene)
    dest = str(tmp_path / "patient_claims_plus")
    write_table(out, dest)
    write_table(out, dest)  # idempotent re-run (drop-if-exists analog :63-68)
    back = spark.read.parquet(dest)
    assert back.count() == 4
    assert set(back.columns) == set(out.columns)
