"""Output checks of the benchmark, run after the timed region.

Each check returns a list of mismatch strings; an empty list means correct.

  * gold_and_viewer: recomputes the gold table in DuckDB from the generated
    bronze with the reference's SQL (silver cleaning, LEA rollup, J1 left
    join with fan-out, keep-first housing per county, J3 inner join) and
    compares it with the gold parquet the pipeline wrote. The six viewer
    answers are then recomputed in DuckDB over that gold; a LIMIT 1 answer
    may be any row tied on the ordering key.
  * suite: runs each query's `SparkEntry.oracleSql` in DuckDB over the same
    tables and compares rows exactly (columns sorted by name, rows sorted,
    values canonicalised). Queries without an oracle must return rows.
"""
import glob
import json
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import gen

STRIP_GEORGIA = r"(?i),\s*georgia\b"
STRIP_COUNTY = r"(?i)\s+county\b"


def norm(expr):
    return (f"nullif(lower(trim(regexp_replace(regexp_replace(trim({expr}), "
            f"'{STRIP_GEORGIA}', '', 'g'), '{STRIP_COUNTY}', '', 'g'))), '')")


def gold_sql(housing, school, special):
    burden = ["S2503_C01_028E", "S2503_C01_032E", "S2503_C01_036E",
              "S2503_C01_040E", "S2503_C01_044E"]
    tiers = ["inc_lt_20k_cost_burden_30_plus", "inc_20k_34_999_cost_burden_30_plus",
             "inc_35k_49_999_cost_burden_30_plus", "inc_50k_74_999_cost_burden_30_plus",
             "inc_75k_plus_cost_burden_30_plus"]
    tier_sel = ", ".join(f"TRY_CAST({b} AS DOUBLE) AS {t}" for b, t in zip(burden, tiers))
    tier_sum = " + ".join(f"coalesce({t}, 0.0)" for t in tiers)
    return f"""
    WITH h0 AS (
      SELECT GEO_ID, NAME AS county_name,
             TRY_CAST(S2503_C01_001E AS DOUBLE) AS occupied_housing_units, {tier_sel}
      FROM read_csv('{housing}', header=true, all_varchar=true)
      WHERE GEO_ID <> 'Geography'),
    h1 AS (
      SELECT *, ({tier_sum}) / nullif(occupied_housing_units, 0.0) * 100.0
               AS total_cost_burden_30_plus_pct,
             {norm('county_name')} AS county
      FROM h0),
    housing AS (
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY county ORDER BY GEO_ID) AS rn
        FROM h1 WHERE county IS NOT NULL) WHERE rn = 1),
    school AS (
      SELECT schoolid AS school_id, trim(systemid) AS lea_id, systemname AS district_name,
             TRY_CAST(single_score_23 AS DOUBLE) AS ccrpi_score_2023,
             {norm('systemname')} AS county
      FROM read_csv('{school}', header=true, all_varchar=true)),
    lea AS (
      SELECT lea_id, district_name, county,
             avg(ccrpi_score_2023) AS ccrpi_score_2023_mean,
             count(DISTINCT school_id) AS school_count
      FROM school
      WHERE lea_id IS NOT NULL AND district_name IS NOT NULL AND county IS NOT NULL
      GROUP BY lea_id, district_name, county),
    special AS (
      SELECT trim("State LEA ID") AS lea_id,
             TRY_CAST("School Age All Educational Environments" AS DOUBLE) AS total_swd,
             TRY_CAST("School Age Inside regular class 80% or more of the day" AS DOUBLE)
               / nullif(TRY_CAST("School Age All Educational Environments" AS DOUBLE), 0.0)
               * 100.0 AS pct_inclusive_80_plus,
             "School Year" AS school_year
      FROM read_csv('{special}', header=true, all_varchar=true, skip=4))
    SELECT l.lea_id, l.district_name, l.county, l.ccrpi_score_2023_mean, l.school_count,
           s.total_swd, s.pct_inclusive_80_plus, s.school_year,
           h.GEO_ID, h.county_name, h.occupied_housing_units, {", ".join("h." + t for t in tiers)},
           h.total_cost_burden_30_plus_pct
    FROM lea l LEFT JOIN special s ON l.lea_id = s.lea_id
    JOIN housing h ON l.county = h.county"""


def close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    return a == b


def exact_key(row, skip):
    return tuple("NULL" if v is None else repr(v) for i, v in enumerate(row) if i != skip)


def compare_gold(spark_rows, duck_rows, cols):
    """Row multisets equal; the LEA mean (a float sum in either engine's
    order) is compared with a relative tolerance, every other value exactly."""
    skip = cols.index("ccrpi_score_2023_mean")
    if len(spark_rows) != len(duck_rows):
        return [f"gold: {len(spark_rows)} rows, DuckDB oracle {len(duck_rows)}"]
    s = sorted(spark_rows, key=lambda r: exact_key(r, skip))
    d = sorted(duck_rows, key=lambda r: exact_key(r, skip))
    bad = [(a, b) for a, b in zip(s, d)
           if exact_key(a, skip) != exact_key(b, skip) or not close(a[skip], b[skip])]
    if bad:
        return [f"gold: {len(bad)}/{len(s)} rows differ; first spark={bad[0][0]} duck={bad[0][1]}"]
    return []


LIMIT_ONE = {
    "most_affordable": ("total_cost_burden_30_plus_pct", "ASC"),
    "best_ccrpi": ("ccrpi_score_2023_mean", "DESC"),
    "most_inclusive": ("pct_inclusive_80_plus", "DESC"),
}
GOLD_TYPES = {"lea_id": "string", "district_name": "string", "county": "string",
              "ccrpi_score_2023_mean": "double", "school_count": "bigint",
              "total_swd": "double", "pct_inclusive_80_plus": "double",
              "school_year": "string", "GEO_ID": "string", "county_name": "string",
              "occupied_housing_units": "double", "total_cost_burden_30_plus_pct": "double"}


def num(s):
    return None if s == "NULL" else float(s)


def check_viewer(con, answers):
    """Viewer answers against DuckDB over the same gold (view `g`)."""
    out = []
    cols = [r[0] for r in con.execute("DESCRIBE g").fetchall()]
    desc = [a.split("|")[:2] for a in answers["describe"]]
    want = [[c, GOLD_TYPES.get(c, "double")] for c in cols]
    if desc != want:
        out.append(f"viewer describe: {desc} != {want}")
    n = con.execute("SELECT count(*) FROM g").fetchone()[0]
    keys = {tuple(str(v) if not isinstance(v, float) else repr(v) for v in r)
            for r in con.execute("SELECT lea_id, county, GEO_ID FROM g").fetchall()}
    sample = answers["sample"]
    if len(sample) != min(10, n):
        out.append(f"viewer sample: {len(sample)} rows of {n}")
    for row in sample:
        f = row.split("|")
        if (f[0], f[2], f[8]) not in keys:
            out.append(f"viewer sample row not in gold: {row}")
    for name, (colname, order) in LIMIT_ONE.items():
        best = con.execute(f"SELECT {colname} FROM g WHERE {colname} IS NOT NULL "
                           f"ORDER BY {colname} {order} LIMIT 1").fetchone()
        got = answers[name]
        if best is None:
            if got:
                out.append(f"viewer {name}: {got}, oracle has no rows")
            continue
        tied = set(con.execute(f"SELECT county, district_name FROM g WHERE {colname} = ?",
                               [best[0]]).fetchall())
        if len(got) != 1:
            out.append(f"viewer {name}: {got}")
            continue
        county, district, value = got[0].split("|")
        if num(value) != best[0] or (county, district) not in tied:
            out.append(f"viewer {name}: {got[0]} but oracle best {best[0]} from {sorted(tied)[:3]}")
    ranked = """WITH r AS (SELECT county, district_name,
        rank() OVER (ORDER BY total_cost_burden_30_plus_pct ASC NULLS LAST)
        + rank() OVER (ORDER BY ccrpi_score_2023_mean DESC NULLS LAST)
        + rank() OVER (ORDER BY pct_inclusive_80_plus DESC NULLS LAST) AS s FROM g)
        SELECT county, district_name, s FROM r WHERE s = (SELECT min(s) FROM r)"""
    tied = con.execute(ranked).fetchall()
    got = answers["overall_best"]
    if len(got) != 1 or not tied:
        out.append(f"viewer overall_best: {got}")
    else:
        county, district, s = got[0].split("|")
        if int(s) != tied[0][2] or (county, district) not in {(c, d) for c, d, _ in tied}:
            out.append(f"viewer overall_best: {got[0]} but oracle {tied[:3]}")
    return out


def gold_and_viewer(work, artifacts):
    bronze = artifacts["bronze"]
    d = lambda ds: gen.lake_dir(os.path.dirname(bronze), ds)
    twin = os.path.join(work, "school_twin.csv")
    gen.school_twin(os.path.dirname(bronze), twin)
    con = duckdb.connect()
    sql = gold_sql(os.path.join(d("housing_affordability"), "housing2019-23.csv"), twin,
                   os.path.join(d("special_education"), "special_education2022-23.csv"))
    duck = con.execute(sql).fetch_arrow_table()
    files = sorted(glob.glob(os.path.join(artifacts["gold"], "*.parquet")))
    if not files:
        return ["gold: no parquet written"]
    spark = pa.concat_tables([pq.read_table(f) for f in files])
    if spark.column_names != duck.column_names:
        return [f"gold columns {spark.column_names} != oracle {duck.column_names}"]
    cols = spark.column_names
    out = compare_gold([tuple(r.values()) for r in spark.to_pylist()],
                       [tuple(r.values()) for r in duck.to_pylist()], cols)
    con.register("g", spark)
    with open(artifacts["viewer"]) as fh:
        out += check_viewer(con, json.load(fh))
    return out


def canon(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)


def table_rows(tbl):
    cols = sorted(tbl.column_names)
    return cols, sorted(tuple(canon(r[c]) for c in cols) for r in tbl.select(cols).to_pylist())


def suite(work, artifacts, names):
    out_dir, tables = artifacts["suite_out"], artifacts["suite_tables"]
    con = duckdb.connect()
    for f in sorted(glob.glob(os.path.join(tables, "*.parquet"))):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    out = []
    for name in names:
        files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        if not files:
            out.append(f"{name}: no output")
            continue
        spark = pa.concat_tables([pq.read_table(f) for f in files])
        if name not in oracle:
            if spark.num_rows == 0 or not spark.column_names:
                out.append(f"{name}: no-oracle query returned no rows")
            continue
        try:
            duck = con.execute(oracle[name]).fetch_arrow_table()
        except Exception as e:
            out.append(f"{name}: oracle SQL failed: {e}")
            continue
        scols, srows = table_rows(spark)
        dcols, drows = table_rows(duck)
        if scols != dcols:
            out.append(f"{name}: columns {scols} != oracle {dcols}")
        elif srows != drows:
            diff = next((a, b) for a, b in zip(srows + [None], drows + [None]) if a != b)
            out.append(f"{name}: {len(srows)} rows vs oracle {len(drows)}; first diff {diff}")
    return out
