"""Output checks, run after the timed window.

Registry queries are compared with their ``oracle_sql()`` in DuckDB
using the repo's canonical compare (``tools/check_parity.py``). The ETL
destination tables are checked for their grain and against a pandas
re-execution of the reference transform chain; each of the twelve
reporting views is compared with a DuckDB re-statement of its SQL over
the published tables.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

GENDER_EXCLUSIVE_SITES = {
    "Larynx": "Male", "Prostate": "Male", "Cervix": "Female", "Ovary": "Female",
}


class Oracle:
    def __init__(self, root: str, data_dir: str) -> None:
        import sys

        import duckdb

        sys.path.insert(0, os.path.join(root, "tools"))
        from check_parity import compare

        import __spark_entry__

        self.compare = compare
        self.sql = __spark_entry__.oracle_sql()
        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(data_dir, f)
                self.con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")

    def check_query(self, name: str, df) -> list[str]:
        got = df.toPandas()
        if name not in self.sql:
            return [] if len(got) else ["no oracle and zero rows"]
        return self.compare(name, got, self.con.sql(self.sql[name]).df())


def _nulls_as_none(pdf: pd.DataFrame) -> pd.DataFrame:
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
    return pdf


def pandas_index(raw: pd.DataFrame, targets) -> pd.DataFrame:
    """Reference INDEX chain re-executed in pandas (reference
    src/main.py:108-212, as in tests/test_recipes.py)."""
    df = raw[
        (raw["Geography type"] == "Cancer Alliance")
        | raw["Geography code"].isin(targets)
    ].copy()
    df["area_core"] = df["Geography code"].isin(targets)
    df["data_substituted"] = df["Substituted by Other Geography"].notnull()
    bfa = (
        (df["Cancer site"] == "Breast") & (df["Gender"] == "Female")
        & (df["Age at diagnosis"] == "All ages")
    )
    dupe = df[bfa].copy()
    dupe["Gender"] = "Persons"
    df = pd.concat([df[~bfa], dupe])
    df["Cancer site"] = df["Cancer site"].str.replace("Index", "Overall")
    df = df[~(df["Cancer site"] == "Other")]
    rename = {
        "Geography code": "AREA_CODE", "Geography name": "AREA_NAME",
        "area_core": "IS_AREA_CORE", "Cancer site": "CANCER_SITE",
        "Gender": "GENDER", "Age at diagnosis": "AGE_AT_DIAGNOSIS",
        "Standardisation type": "STANDARDISATION_TYPE",
        "Diagnosis year": "YEAR_OF_DIAGNOSIS",
        "Years since diagnosis": "YEARS_SINCE_DIAGNOSIS",
        "Patient numbers": "PATIENT_NUMBERS", "Survival (%)": "SURVIVAL_PERCENT",
        "Lower CI": "LOWER_CI", "Upper CI": "UPPER_CI", "Precision": "PRECISION",
        "Standard error": "STANDARD_ERROR", "data_substituted": "IS_DATA_SUBTITUTED",
    }
    out = df[list(rename)].rename(columns=rename).reset_index(drop=True)
    return _nulls_as_none(out)


def pandas_adult4(raw: pd.DataFrame, targets, window: str, snapshot) -> pd.DataFrame:
    """Reference ADULT_4 chain re-executed in pandas (reference
    src/main.py:222-376)."""
    df = raw.copy()
    df["area_core"] = df["Geography code"].isin(targets)
    df = df[df["area_core"] | (df["Geography type"] == "Cancer Alliance")].copy()
    std = df["Standardisation type"]
    sub = std.str.extract(r"\(([^)]*)\)", expand=False)
    df["standardisation_type_subcategory"] = sub.where(
        (std != "Non-standardised") & (sub != ""))
    df["Standardisation type"] = std.str.split("(", n=1).str[0].str.strip()
    df["date_diagnosis_window"] = window
    df["date_snapshot"] = snapshot
    dupe = df[
        (df["Cancer site"] == "Breast") & (df["Gender"] == "Female")
        & (df["Geography code"] == "E92000001")
    ].copy()
    dupe["Gender"] = "Persons"
    df = pd.concat([df, dupe])
    excl = np.zeros(len(df), dtype=bool)
    for site, gender in GENDER_EXCLUSIVE_SITES.items():
        excl |= ((df["Cancer site"] == site) & (df["Gender"] == gender)).to_numpy()
    dupe = df[excl].copy()
    dupe["Gender"] = "Persons"
    df = pd.concat([df, dupe])
    ids = [
        "Geography type", "Geography name", "Geography code", "Cancer site",
        "Gender", "Standardisation type", "standardisation_type_subcategory",
        "Years since diagnosis", "Patients", "area_core",
        "date_diagnosis_window", "date_snapshot",
    ]
    df = df.melt(
        id_vars=ids, value_vars=["Net survival (%)", "Overall survival (%)"],
        var_name="survival_metric", value_name="survival_per",
    )
    df["survival_metric"] = df["survival_metric"].str.removesuffix(" (%)").str.title()
    rename = {
        "Geography type": "AREA_TYPE", "Geography code": "AREA_CODE",
        "Geography name": "AREA_NAME", "area_core": "IS_AREA_CORE",
        "Cancer site": "CANCER_SITE", "Gender": "GENDER",
        "Standardisation type": "STANDARDISATION_TYPE",
        "standardisation_type_subcategory": "STANDARDISATION_TYPE_SUBCATEGORY",
        "Years since diagnosis": "YEARS_SINCE_DIAGNOSIS",
        "Patients": "PATIENT_NUMBERS", "survival_metric": "SURVIVAL_METRIC",
        "survival_per": "SURVIVAL_PERCENT",
        "date_diagnosis_window": "DATE_DIAGNOSIS_WINDOW",
        "date_snapshot": "DATE_SNAPSHOT",
    }
    out = df[list(rename)].rename(columns=rename).reset_index(drop=True)
    return _nulls_as_none(out)


def check_publish(oracle: Oracle, spark, warehouse: str, seed: int,
                  targets, snapshot: str) -> list[str]:
    """Grain + pandas-reference check of the two published tables; the
    reference starts from the generator's rows, not from the workbooks."""
    from cancer_survival_etl_spark.schemas import ADULT4_GRAIN, INDEX_GRAIN, assert_grain

    from gen import workbook_rows

    rows = workbook_rows(seed)
    problems = []
    expected = {
        "INDEX": (INDEX_GRAIN, pandas_index(
            pd.DataFrame(rows["Index_2023.xlsx"]), targets)),
        "ADULT_4": (ADULT4_GRAIN, pandas_adult4(
            pd.DataFrame(rows["adult_2016_2020.xlsx"]), targets, "2016-2020", snapshot)),
    }
    for table, (grain, want) in expected.items():
        df = spark.read.parquet(os.path.join(warehouse, table))
        try:
            assert_grain(df, grain)
        except AssertionError as exc:
            problems.append(f"{table}: {exc}")
        got = df.drop("_TIMESTAMP").toPandas()
        problems += [f"{table}: {p}" for p in oracle.compare(table, got, want)]
    return problems


NCL, LONDON, ENGLAND = "E56000027", "E40000003", "E92000001"
JOIN_KEY = ("CANCER_SITE || GENDER || CAST(YEARS_SINCE_DIAGNOSIS AS VARCHAR)"
            " || DATE_DIAGNOSIS_WINDOW")
SORT_GENDER = "CASE WHEN GENDER = 'Persons' THEN 1 ELSE 2 END"
CA = "AREA_TYPE = 'Cancer Alliance'"
AGE_STD_NET = ("STANDARDISATION_TYPE = 'Age-standardised'"
               " AND SURVIVAL_METRIC = 'Net Survival'")
ADULT4_PUBLISHED = (
    "AREA_TYPE AS Area_Type, AREA_CODE AS Area_Code, AREA_NAME AS Area_Name, "
    "IS_AREA_CORE AS Area_Core, CANCER_SITE AS Cancer_Site, GENDER AS Gender, "
    "STANDARDISATION_TYPE AS Standardisation_Type, "
    "STANDARDISATION_TYPE_SUBCATEGORY AS Standardisation_Subcategory, "
    "YEARS_SINCE_DIAGNOSIS AS Years_Since_Diagnosis, "
    "PATIENT_NUMBERS AS Patient_Numbers, SURVIVAL_METRIC AS Survival_Metric, "
    "SURVIVAL_PERCENT AS Survival_Per, DATE_DIAGNOSIS_WINDOW AS Date_Diagnosis_Window, "
    "DATE_SNAPSHOT AS Date_Snapshot, JOIN_KEY, SORT_GENDER AS Sort_Gender"
)
BEST_CA = """
    SELECT 'X' AS AREA_CODE, 'Best Non-NCL Cancer Alliance' AS AREA_NAME,
           IS_AREA_CORE, CANCER_SITE, GENDER, AGE_AT_DIAGNOSIS,
           STANDARDISATION_TYPE, YEAR_OF_DIAGNOSIS, YEARS_SINCE_DIAGNOSIS,
           CAST(NULL AS BIGINT) AS PATIENT_NUMBERS,
           max(SURVIVAL_PERCENT) AS SURVIVAL_PERCENT,
           CAST(NULL AS DOUBLE) AS LOWER_CI, CAST(NULL AS DOUBLE) AS UPPER_CI,
           CAST(NULL AS DOUBLE) AS PRECISION, CAST(NULL AS DOUBLE) AS STANDARD_ERROR,
           CAST(NULL AS BOOLEAN) AS IS_DATA_SUBTITUTED
    FROM idx WHERE NOT IS_AREA_CORE GROUP BY ALL"""
ADULT4 = f"""
    SELECT * EXCLUDE (_TIMESTAMP), {JOIN_KEY} AS JOIN_KEY, {SORT_GENDER} AS SORT_GENDER
    FROM adult WHERE IS_AREA_CORE AND (({AGE_STD_NET}) OR AREA_CODE = '{NCL}')"""
CA_COMPARISON = f"""
    SELECT * EXCLUDE (_TIMESTAMP), {JOIN_KEY} AS JOIN_KEY, {SORT_GENDER} AS SORT_GENDER
    FROM adult WHERE {CA} AND {AGE_STD_NET}"""
RANK = f"""
    WITH ca AS (
        SELECT AREA_CODE, CANCER_SITE, {JOIN_KEY} AS JOIN_KEY, SURVIVAL_PERCENT
        FROM adult WHERE {AGE_STD_NET} AND {CA}
          AND SURVIVAL_PERCENT IS NOT NULL
    ), ranked AS (
        SELECT JOIN_KEY, AREA_CODE, SURVIVAL_PERCENT,
               RANK() OVER (PARTITION BY JOIN_KEY ORDER BY SURVIVAL_PERCENT DESC) AS rank_val
        FROM ca
    ), base AS (SELECT JOIN_KEY, count(*) AS RANK_BASE FROM ca GROUP BY JOIN_KEY
    ), focus AS (SELECT * FROM ranked WHERE AREA_CODE = '{NCL}')
    SELECT base.JOIN_KEY, sites.CANCER_SITE, focus.SURVIVAL_PERCENT,
           focus.rank_val AS RANK_CA, RANK_BASE,
           CASE WHEN focus.rank_val IS NULL THEN NULL
                WHEN RANK_BASE < 4 THEN '-'
                WHEN CAST(focus.rank_val AS DOUBLE) / RANK_BASE < 0.25 THEN '1st'
                WHEN CAST(focus.rank_val AS DOUBLE) / RANK_BASE < 0.5 THEN '2nd'
                WHEN CAST(focus.rank_val AS DOUBLE) / RANK_BASE < 0.75 THEN '3rd'
                ELSE '4th' END AS NCL_QUARTILE
    FROM base LEFT JOIN focus ON base.JOIN_KEY = focus.JOIN_KEY
    JOIN (SELECT DISTINCT JOIN_KEY, CANCER_SITE FROM ca) sites
      ON base.JOIN_KEY = sites.JOIN_KEY"""
STANDARDS = f"""
    SELECT {JOIN_KEY} AS JOIN_KEY,
           sum(SURVIVAL_PERCENT) FILTER (WHERE AREA_CODE = '{ENGLAND}'
                                         AND AREA_NAME = 'England') AS ENGLAND,
           sum(SURVIVAL_PERCENT) FILTER (WHERE AREA_CODE = '{LONDON}'
                                         AND AREA_NAME = 'London') AS LONDON,
           max(SURVIVAL_PERCENT) FILTER (WHERE {CA}) AS BEST,
           min(SURVIVAL_PERCENT) FILTER (WHERE {CA}) AS WORST,
           quantile_disc(SURVIVAL_PERCENT, 0.25) FILTER (WHERE {CA}) AS Q1,
           quantile_disc(SURVIVAL_PERCENT, 0.5) FILTER (WHERE {CA}) AS Q2,
           quantile_disc(SURVIVAL_PERCENT, 0.75) FILTER (WHERE {CA}) AS Q3
    FROM adult
    WHERE {AGE_STD_NET} AND (AREA_CODE IN ('{ENGLAND}', '{LONDON}') OR {CA})
    GROUP BY ALL"""

# The twelve reporting views re-stated in DuckDB SQL over the published
# tables ``idx`` (INDEX) and ``adult`` (ADULT_4), after the reference's
# docs/reporting_*.sql view definitions.
VIEW_SQL = {
    "modelling_index": "SELECT * EXCLUDE (_TIMESTAMP) FROM idx",
    "modelling_adult4": "SELECT * EXCLUDE (_TIMESTAMP) FROM adult",
    "reporting_index_best_ca": BEST_CA,
    "reporting_index": f"""
        SELECT *, CASE WHEN CANCER_SITE = 'Overall' THEN 1 ELSE 2 END AS SORT_SITE,
               {SORT_GENDER} AS SORT_GENDER,
               CASE WHEN AGE_AT_DIAGNOSIS = 'All ages' THEN 1 ELSE 2 END AS SORT_AGE
        FROM (SELECT * EXCLUDE (_TIMESTAMP) FROM idx WHERE IS_AREA_CORE
              UNION ALL BY NAME {BEST_CA})""",
    "reporting_adult4": ADULT4,
    "published_adult4": f"SELECT {ADULT4_PUBLISHED} FROM ({ADULT4})",
    "reporting_ca_comparison": CA_COMPARISON,
    "published_ca_comparison": f"SELECT {ADULT4_PUBLISHED} FROM ({CA_COMPARISON})",
    "reporting_rank": RANK,
    "published_rank": f"""
        SELECT JOIN_KEY, CANCER_SITE AS Cancer_Site, SURVIVAL_PERCENT AS Survival_Per,
               RANK_CA AS Rank_CA, RANK_BASE AS Rank_Denominator, NCL_QUARTILE AS Quartile
        FROM ({RANK})""",
    "reporting_benchmarking_standard": STANDARDS,
    "published_benchmarking_standard": f"""
        SELECT JOIN_KEY, ENGLAND AS England, LONDON AS London, BEST AS Best,
               WORST AS Worst, Q1, Q2, Q3 FROM ({STANDARDS})""",
}


def check_views(oracle: Oracle, spark, warehouse: str, names: list[str]) -> list[str]:
    """Each registered view's rows equal its DuckDB re-statement
    (``VIEW_SQL``) over the published tables, with the canonical compare;
    the load timestamp column is left out of the compare."""
    problems = [] if sorted(names) == sorted(VIEW_SQL) else [
        f"views registered {sorted(names)}, expected {sorted(VIEW_SQL)}"]
    for table, alias in (("INDEX", "idx"), ("ADULT_4", "adult")):
        path = os.path.join(warehouse, table, "*.parquet")
        oracle.con.sql(f"CREATE OR REPLACE VIEW {alias} AS SELECT * FROM '{path}'")
    for n in sorted(set(names) & set(VIEW_SQL)):
        got = spark.table(n).toPandas()
        got = got.drop(columns=[c for c in got.columns if c == "_TIMESTAMP"])
        want = _nulls_as_none(oracle.con.sql(VIEW_SQL[n]).df())
        problems += [f"{n}: {p}" for p in oracle.compare(n, _nulls_as_none(got), want)]
    return problems
