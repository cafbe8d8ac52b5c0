"""Output checks for the benchmark, run after the timed region.

ETL: every sink holds the input's rows, the manifest has the reference's
13 columns in order, and DuckDB recomputes the derived columns and the
Stub's weather from the parquet sink's own input columns, using the
oracle expressions of `graft.queries.EtlQueries`; every row must match.

Queries: each result is compared with its oracle SQL by the rules of
`tools/check_oracle.py`; a query without an oracle must return rows.
"""
import contextlib
import io
import json
import re
import sys
import zipfile
from pathlib import Path

import duckdb

REFERENCE_COLUMNS = [
    "Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp", "Package_Type",
    "Distance", "Delivery_Zone", "Hour", "Weekday", "Weather_Condition",
    "Actual_Delivery_Time_Minutes", "Actual_Delivery_Time_Display",
    "Theoretical_Time_Minutes", "Status"]

# graft.etl.WeatherSource.Stub.DefaultConditions, in order
STUB_CONDITIONS = [
    "Sunny", "Light rain", "Heavy snow", "Fog", "Mist", "Patchy light drizzle",
    "Blizzard", "Sleet showers", "Cloudy", "Patchy light rain with fog", "Overcast"]
PACKAGE_FACTORS = {"Small": 1.0, "Medium": 1.2, "Large": 1.5,
                   "Extra Large": 2.0, "Special": 2.5}
ZONE_FACTORS = {"Urban": 1.2, "Suburban": 1.0, "Rural": 1.3,
                "Industrial": 0.9, "Shopping Center": 1.4}


def D(x):
    return f"CAST({x} AS DOUBLE)"


def round2(e):
    return f"CAST(FLOOR(({e}) * {D(100)} + {D(0.5)}) AS BIGINT) / {D(100)}"


def case_by_key(col, table):
    whens = " ".join(f"WHEN '{k}' THEN {D(v)}" for k, v in table.items())
    return f'CASE "{col}" {whens} ELSE {D(1.0)} END'


def expected_sql(src):
    """The 13 output columns recomputed from the six input columns of `src`."""
    conditions = " ".join(f"WHEN {i} THEN '{c}'" for i, c in enumerate(STUB_CONDITIONS))
    epoch_day = "date_diff('day', DATE '1970-01-01', CAST(\"Pickup_DateTime\" AS DATE))"
    minutes = f"CAST(_secs AS DOUBLE) / {D(60)}"
    peak = (f'CASE WHEN "Hour" BETWEEN 7 AND 9 THEN {D(1.3)} '
            f'WHEN "Hour" BETWEEN 17 AND 19 THEN {D(1.4)} ELSE {D(1.0)} END')
    day = (f"CASE WHEN \"Weekday\" IN ('Monday','Friday') THEN {D(1.2)} "
           f"WHEN \"Weekday\" IN ('Saturday','Sunday') THEN {D(0.9)} ELSE {D(1.0)} END")
    weather = (f'CASE WHEN "Weather_Condition" IS NULL THEN {D(1.0)} '
               f"WHEN regexp_matches(\"Weather_Condition\", '(?i)rain|drizzle') THEN {D(1.2)} "
               f"WHEN regexp_matches(\"Weather_Condition\", '(?i)snow|blizzard|sleet') THEN {D(1.8)} "
               f"WHEN regexp_matches(\"Weather_Condition\", '(?i)fog|mist') THEN {D(1.1)} "
               f"ELSE {D(1.0)} END")
    theo = round2(f'({D(30.0)} + "Distance" * {D(0.8)}) * ({case_by_key("Package_Type", PACKAGE_FACTORS)})'
                  f' * ({case_by_key("Delivery_Zone", ZONE_FACTORS)}) * ({peak}) * ({day}) * ({weather})')
    return f"""
WITH t1 AS (
  SELECT "Delivery_ID", "Pickup_DateTime", "Delivery_Timestamp", "Package_Type",
         "Distance", "Delivery_Zone",
         CAST(hour("Pickup_DateTime") AS INT) AS "Hour",
         dayname("Pickup_DateTime") AS "Weekday"
  FROM {src}
), t2 AS (
  SELECT *, CASE CAST(((({epoch_day}) * 31 + "Hour" * 7) % 11 + 11) % 11 AS INT)
              {conditions} END AS "Weather_Condition",
         date_diff('second', "Pickup_DateTime", "Delivery_Timestamp") AS _secs
  FROM t1
), t3 AS (
  SELECT *, {round2(minutes)} AS "Actual_Delivery_Time_Minutes",
    CAST(CAST(FLOOR({minutes}) AS BIGINT) AS VARCHAR) || '.' ||
      lpad(CAST(_secs % 60 AS VARCHAR), 2, '0') AS "Actual_Delivery_Time_Display"
  FROM t2
), t4 AS (
  SELECT *, {theo} AS "Theoretical_Time_Minutes" FROM t3
)
SELECT *, CASE WHEN "Actual_Delivery_Time_Minutes" > "Theoretical_Time_Minutes" * {D(1.2)}
              THEN 'Delayed' ELSE 'On-time' END AS "Status"
FROM t4"""


def recompute_mismatches(parquet_glob):
    """(rows, distinct ids, rows whose derived columns differ from the oracle)."""
    con = duckdb.connect()
    src = f"read_parquet('{parquet_glob}')"
    derived = REFERENCE_COLUMNS[6:]
    differs = " OR ".join(f'o."{c}" IS DISTINCT FROM e."{c}"' for c in derived)
    rows, ids = con.sql(f'SELECT count(*), count(DISTINCT "Delivery_ID") FROM {src}').fetchone()
    bad = con.sql(f"""
        SELECT count(*) FROM {src} o JOIN ({expected_sql(src)}) e USING ("Delivery_ID")
        WHERE {differs}""").fetchone()[0]
    return rows, ids, bad


def _lines(files, header):
    n = 0
    for f in files:
        with open(f, "rb") as fh:
            n += sum(1 for line in fh if line.strip()) - (1 if header else 0)
    return n


def dir_bytes(p):
    p = Path(p)
    if p.is_file():
        return p.stat().st_size
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file()) if p.exists() else 0


def check_etl_run(run_dir, input_rows, derby_rows, formats):
    """Problems found in one pipeline run's outputs, known defects, and
    bytes per sink. A problem fails the operation. A known defect is
    reported with every run but does not fail it: the column order of
    the pipeline's output is one (the weather join moves `Hour` to the
    front), a defect in the program, not in the benchmark.
    """
    base = Path(run_dir) / "results"
    problems, defects, sizes = [], [], {}
    paths = {"csv": Path(f"{base}.csv"), "json": Path(f"{base}.json"),
             "parquet": Path(f"{base}.parquet"), "sqlite": base,
             "xlsx": Path(f"{base}.xlsx")}
    counts = {}
    for sink in formats:
        p = paths[sink]
        if not p.exists():
            problems.append(f"{sink}: missing")
            continue
        sizes[sink] = dir_bytes(p)
        if sink == "csv":
            counts[sink] = _lines(sorted(p.glob("part-*")), header=True)
        elif sink == "json":
            counts[sink] = _lines(sorted(p.glob("part-*")), header=False)
        elif sink == "sqlite":
            counts[sink] = derby_rows
        elif sink == "xlsx":
            with zipfile.ZipFile(p) as z:
                counts[sink] = z.read("xl/worksheets/sheet1.xml").count(b"<row>") - 1
    if "parquet" in formats and paths["parquet"].exists():
        rows, ids, bad = recompute_mismatches(f"{paths['parquet']}/*.parquet")
        counts["parquet"] = rows
        if ids != rows:
            problems.append(f"parquet: {rows} rows but {ids} distinct ids")
        if bad:
            problems.append(f"parquet: {bad} rows differ from the recomputed columns")
    for sink, n in counts.items():
        if n != input_rows:
            problems.append(f"{sink}: {n} rows, expected {input_rows}")
    manifest = Path(f"{base}_manifest.json")
    if not manifest.exists():
        problems.append("manifest: missing")
    else:
        m = json.loads(manifest.read_text())
        if m.get("dataset_shape") != {"rows": input_rows, "columns": 13}:
            problems.append(f"manifest: dataset_shape {m.get('dataset_shape')}")
        cols = m.get("columns") or []
        if sorted(cols) != sorted(REFERENCE_COLUMNS):
            problems.append(f"manifest: columns {cols}")
        elif cols != REFERENCE_COLUMNS:
            defects.append("output column order differs from the reference: " + ", ".join(cols))
    return problems, defects, sizes


def check_queries(tables_dir, check_dir, names, repo_root):
    """Names of the queries whose output is wrong or missing, and the
    oracle comparison's report."""
    sys.path.insert(0, str(Path(repo_root) / "tools"))
    import check_oracle
    oracle = json.loads((Path(check_dir) / "oracle_sql.json").read_text())
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        check_oracle.main(str(tables_dir), str(check_dir))
    bad = set(re.findall(r"^FAIL  (\S+?):", out.getvalue(), re.M))
    con = duckdb.connect()
    for name in names:
        if name in oracle:
            continue
        try:
            n = con.sql(f"SELECT count(*) FROM '{check_dir}/{name}/*.parquet'").fetchone()[0]
        except duckdb.Error:
            n = 0
        if n == 0:
            bad.add(name)
    return bad, out.getvalue()
