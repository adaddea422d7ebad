"""Expected outputs of a load and of the ten reporting views, re-derived in
DuckDB from the generator's logical rows, plus the order-insensitive row
digest both sides compute.

The SQL restates the reference's semantics (reference src/main.py and
docs/reporting_*.sql) independently of the Spark code under test. Each
SELECT lists its columns in the order the Spark frame has them, because the
digest is positional.
"""
import hashlib

import duckdb

TARGETS = "('E56000027', 'E40000003', 'E92000001')"
JOIN_KEY = ('("CANCER_SITE" || "GENDER" || CAST("YEARS_SINCE_DIAGNOSIS" AS VARCHAR) '
            '|| "DATE_DIAGNOSIS_WINDOW")')

INDEX_SQL = f"""
WITH kept AS (
  SELECT *, "Geography code" IN {TARGETS} AS core,
         CASE WHEN "Cancer site" = 'Breast' AND "Gender" = 'Female'
                   AND "Age at diagnosis" = 'All ages' THEN 'Persons'
              ELSE "Gender" END AS out_gender,
         replace("Cancer site", 'Index', 'Overall') AS out_site
  FROM raw_index
  WHERE "Geography type" = 'Cancer Alliance' OR "Geography code" IN {TARGETS})
SELECT "Geography code" AS "AREA_CODE", "Geography name" AS "AREA_NAME",
       core AS "IS_AREA_CORE", out_site AS "CANCER_SITE", out_gender AS "GENDER",
       "Age at diagnosis" AS "AGE_AT_DIAGNOSIS",
       "Standardisation type" AS "STANDARDISATION_TYPE",
       "Diagnosis year" AS "YEAR_OF_DIAGNOSIS",
       "Years since diagnosis" AS "YEARS_SINCE_DIAGNOSIS",
       "Patient numbers" AS "PATIENT_NUMBERS", "Survival (%)" AS "SURVIVAL_PERCENT",
       "Lower CI" AS "LOWER_CI", "Upper CI" AS "UPPER_CI", "Precision" AS "PRECISION",
       "Standard error" AS "STANDARD_ERROR",
       "Substituted by Other Geography" IS NOT NULL AS "IS_DATA_SUBTITUTED"
FROM kept
WHERE out_site IS DISTINCT FROM 'Other'
"""

ADULT4_SQL = """
WITH kept AS (
  SELECT *, "Geography code" IN {targets} AS core,
         CASE WHEN "Standardisation type" <> 'Non-standardised'
                   AND contains("Standardisation type", '(')
              THEN regexp_extract("Standardisation type", '\\(([^)]*)\\)', 1) END AS sub,
         trim(regexp_replace("Standardisation type", '\\s*\\(.*$', '')) AS std
  FROM raw_adult
  WHERE "Geography code" IN {targets} OR "Geography type" = 'Cancer Alliance'),
generalised AS (
  SELECT *, "Gender" AS out_gender FROM kept
  UNION ALL
  SELECT *, 'Persons' FROM kept
  WHERE "Gender" = 'Female' AND "Cancer site" = 'Breast' AND "Geography code" = 'E92000001'
  UNION ALL
  SELECT *, 'Persons' FROM kept
  WHERE ("Cancer site", "Gender") IN (('Larynx', 'Male'), ('Prostate', 'Male'),
                                      ('Cervix', 'Female'), ('Ovary', 'Female'))),
melted AS (
  SELECT *, 'Net Survival' AS metric, "Net survival (%)" AS pct FROM generalised
  UNION ALL
  SELECT *, 'Overall Survival', "Overall survival (%)" FROM generalised)
SELECT "Geography type" AS "AREA_TYPE", "Geography code" AS "AREA_CODE",
       "Geography name" AS "AREA_NAME", core AS "IS_AREA_CORE",
       "Cancer site" AS "CANCER_SITE", out_gender AS "GENDER",
       std AS "STANDARDISATION_TYPE", sub AS "STANDARDISATION_TYPE_SUBCATEGORY",
       "Years since diagnosis" AS "YEARS_SINCE_DIAGNOSIS", "Patients" AS "PATIENT_NUMBERS",
       metric AS "SURVIVAL_METRIC", pct AS "SURVIVAL_PERCENT",
       '{window}' AS "DATE_DIAGNOSIS_WINDOW", {snapshot} AS "DATE_SNAPSHOT"
FROM melted
"""

_INDEX_BEST_CA = """
SELECT 'X' AS "AREA_CODE", 'Best Non-NCL Cancer Alliance' AS "AREA_NAME",
       "IS_AREA_CORE", "CANCER_SITE", "GENDER", "AGE_AT_DIAGNOSIS", "STANDARDISATION_TYPE",
       "YEAR_OF_DIAGNOSIS", "YEARS_SINCE_DIAGNOSIS", CAST(NULL AS BIGINT) AS "PATIENT_NUMBERS",
       max("SURVIVAL_PERCENT") AS "SURVIVAL_PERCENT", CAST(NULL AS DOUBLE) AS "LOWER_CI",
       CAST(NULL AS DOUBLE) AS "UPPER_CI", CAST(NULL AS DOUBLE) AS "PRECISION",
       CAST(NULL AS DOUBLE) AS "STANDARD_ERROR", CAST(NULL AS BOOLEAN) AS "IS_DATA_SUBTITUTED"
FROM index_t WHERE NOT "IS_AREA_CORE"
GROUP BY "IS_AREA_CORE", "CANCER_SITE", "GENDER", "AGE_AT_DIAGNOSIS", "STANDARDISATION_TYPE",
         "YEAR_OF_DIAGNOSIS", "YEARS_SINCE_DIAGNOSIS"
"""

_PROCESSED_ADULT4 = f"""
SELECT *, {JOIN_KEY} AS "JOIN_KEY",
       CASE WHEN "GENDER" = 'Persons' THEN 1 ELSE 2 END::BIGINT AS "SORT_GENDER"
FROM adult4_t
WHERE "IS_AREA_CORE" AND (("STANDARDISATION_TYPE" = 'Age-standardised'
                          AND "SURVIVAL_METRIC" = 'Net Survival') OR "AREA_CODE" = 'E56000027')
"""

_COMPARISON = f"""
SELECT *, {JOIN_KEY} AS "JOIN_KEY",
       CASE WHEN "GENDER" = 'Persons' THEN 1 ELSE 2 END::BIGINT AS "SORT_GENDER"
FROM adult4_t
WHERE "AREA_TYPE" = 'Cancer Alliance' AND "STANDARDISATION_TYPE" = 'Age-standardised'
  AND "SURVIVAL_METRIC" = 'Net Survival'
"""

_RANK = f"""
WITH ca AS (
  SELECT "AREA_CODE", "CANCER_SITE", "SURVIVAL_PERCENT", {JOIN_KEY} AS "JOIN_KEY"
  FROM adult4_t
  WHERE "STANDARDISATION_TYPE" = 'Age-standardised' AND "SURVIVAL_METRIC" = 'Net Survival'
    AND "AREA_TYPE" = 'Cancer Alliance' AND "SURVIVAL_PERCENT" IS NOT NULL),
ranked AS (
  SELECT *, rank() OVER (PARTITION BY "JOIN_KEY" ORDER BY "SURVIVAL_PERCENT" DESC) AS rank_ca,
         count(*) OVER (PARTITION BY "JOIN_KEY") AS rank_base
  FROM ca),
cohorts AS (SELECT DISTINCT "JOIN_KEY", "CANCER_SITE", rank_base FROM ranked)
SELECT c."JOIN_KEY", c."CANCER_SITE", r."SURVIVAL_PERCENT", r.rank_ca AS "RANK_CA",
       c.rank_base AS "RANK_BASE",
       CASE WHEN r.rank_ca IS NULL THEN NULL
            WHEN c.rank_base < 4 THEN '-'
            WHEN r.rank_ca / c.rank_base < 0.25 THEN '1st'
            WHEN r.rank_ca / c.rank_base < 0.5 THEN '2nd'
            WHEN r.rank_ca / c.rank_base < 0.75 THEN '3rd'
            ELSE '4th' END AS "NCL_QUARTILE"
FROM cohorts c
LEFT JOIN ranked r ON r."JOIN_KEY" = c."JOIN_KEY" AND r."CANCER_SITE" = c."CANCER_SITE"
                  AND r."AREA_CODE" = 'E56000027'
"""

_STANDARDS = f"""
WITH base AS (
  SELECT "AREA_CODE", "AREA_TYPE", {JOIN_KEY} AS "JOIN_KEY", "SURVIVAL_PERCENT"
  FROM adult4_t
  WHERE "STANDARDISATION_TYPE" = 'Age-standardised' AND "SURVIVAL_METRIC" = 'Net Survival'),
fixed AS (
  SELECT "JOIN_KEY",
         sum(CASE WHEN "AREA_CODE" = 'E92000001' THEN "SURVIVAL_PERCENT" END) AS england,
         sum(CASE WHEN "AREA_CODE" = 'E40000003' THEN "SURVIVAL_PERCENT" END) AS london
  FROM base WHERE "AREA_CODE" IN ('E92000001', 'E40000003') GROUP BY 1),
ca AS (
  SELECT "JOIN_KEY", max("SURVIVAL_PERCENT") AS best, min("SURVIVAL_PERCENT") AS worst,
         percentile_disc(0.25) WITHIN GROUP (ORDER BY "SURVIVAL_PERCENT") AS q1,
         percentile_disc(0.5) WITHIN GROUP (ORDER BY "SURVIVAL_PERCENT") AS q2,
         percentile_disc(0.75) WITHIN GROUP (ORDER BY "SURVIVAL_PERCENT") AS q3
  FROM base WHERE "AREA_TYPE" = 'Cancer Alliance' GROUP BY 1)
SELECT "JOIN_KEY", england, london, best, worst, q1, q2, q3
FROM fixed FULL OUTER JOIN ca USING ("JOIN_KEY")
"""

_REPORTING_INDEX = f"""
SELECT *, CASE WHEN "CANCER_SITE" = 'Overall' THEN 1 ELSE 2 END::BIGINT AS "SORT_SITE",
          CASE WHEN "GENDER" = 'Persons' THEN 1 ELSE 2 END::BIGINT AS "SORT_GENDER",
          CASE WHEN "AGE_AT_DIAGNOSIS" = 'All ages' THEN 1 ELSE 2 END::BIGINT AS "SORT_AGE"
FROM (SELECT * FROM index_t WHERE "IS_AREA_CORE" UNION ALL ({_INDEX_BEST_CA}))
"""

# The published views rename columns only, so their rows (and digests) equal
# their base view's; the Spark side still executes and checks all ten.
VIEWS = {
    "indexBestCa": _INDEX_BEST_CA,
    "reportingIndex": _REPORTING_INDEX,
    "processedAdult4": _PROCESSED_ADULT4,
    "publishedAdult4": _PROCESSED_ADULT4,
    "cancerAllianceComparison": _COMPARISON,
    "publishedCancerAllianceComparison": _COMPARISON,
    "benchmarkingRank": _RANK,
    "publishedBenchmarkingRank": _RANK,
    "benchmarkingStandards": _STANDARDS,
    "publishedBenchmarkingStandards": _STANDARDS,
}


def _render(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return "%.6f" % v
    return str(v)


def digest(rows):
    """(row count, hex digest): the sum mod 2^64 of the first 8 bytes of each
    row's MD5, where a row renders as its cells joined by U+001F, nulls as
    \\N and doubles with six decimals."""
    total = 0
    n = 0
    for row in rows:
        line = "\x1f".join(_render(v) for v in row)
        total += int.from_bytes(hashlib.md5(line.encode()).digest()[:8], "big")
        n += 1
    return n, "%016x" % (total % (1 << 64))


def expected(gen, snapshot, with_views):
    """Row count and digest of INDEX, ADULT_4 and (optionally) each view.
    `snapshot` is the DATE_SNAPSHOT the load stamps: the Notes sheet's
    "Month YYYY" for xlsx, None for staged CSV (which has no Notes sheet)."""
    con = duckdb.connect()
    con.register("raw_index", gen.index)
    con.register("raw_adult", gen.adult)
    snapshot = "NULL" if snapshot is None else f"'{snapshot}'"
    con.execute(f"CREATE TABLE index_t AS {INDEX_SQL}")
    con.execute("CREATE TABLE adult4_t AS " + ADULT4_SQL.format(
        targets=TARGETS, window=gen.window, snapshot=f"CAST({snapshot} AS VARCHAR)"))
    out = {t: digest(con.execute(f"SELECT * FROM {t}").fetchall())
           for t in ("index_t", "adult4_t")}
    out = {"INDEX": out["index_t"], "ADULT_4": out["adult4_t"]}
    if with_views:
        for name, sql in VIEWS.items():
            out[name] = digest(con.execute(sql).fetchall())
    con.close()
    return {k: {"rows": n, "digest": d} for k, (n, d) in out.items()}
