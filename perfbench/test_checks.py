"""The ETL output check fails on a dropped row or a flipped Status.

    python3 perfbench/test_checks.py

Builds a small parquet sink and manifest whose derived columns come from
the check's own oracle expressions, then damages copies of it.
"""
import json
import shutil
import tempfile
import unittest
from pathlib import Path

import duckdb

from checks import REFERENCE_COLUMNS, check_etl_run, expected_sql

ROWS = 60
WORK = Path(__file__).resolve().parent.parent / ".bench_work"


def make_run(run_dir, select_sql, columns=REFERENCE_COLUMNS):
    """Writes results.parquet from `select_sql` over the 13 expected columns,
    plus a manifest that names `columns`."""
    con = duckdb.connect()
    con.sql(f"""CREATE TABLE src AS SELECT
        'SC' || CAST(1000 + i AS VARCHAR) AS "Delivery_ID",
        TIMESTAMP '2025-08-27 00:00:00' + i * INTERVAL 47 MINUTE AS "Pickup_DateTime",
        TIMESTAMP '2025-08-27 00:00:00' + i * INTERVAL 47 MINUTE
          + (20 + i * 7 % 340) * INTERVAL 1 MINUTE AS "Delivery_Timestamp",
        ['Small', 'Medium', 'Large', 'Extra Large', 'Special', 'Oversize'][i % 6 + 1]
          AS "Package_Type",
        CAST(1 + i * 0.79 AS DOUBLE) AS "Distance",
        ['Urban', 'Suburban', 'Rural', 'Industrial', 'Shopping Center'][i % 5 + 1]
          AS "Delivery_Zone"
      FROM range({ROWS}) t(i)""")
    cols = ", ".join(f'"{c}"' for c in REFERENCE_COLUMNS)
    con.sql(f"CREATE TABLE expected AS SELECT {cols} FROM ({expected_sql('src')})")
    out = Path(run_dir) / "results.parquet"
    out.mkdir(parents=True)
    con.sql(f"COPY ({select_sql}) TO '{out}/part-00000.parquet' (FORMAT PARQUET)")
    (Path(run_dir) / "results_manifest.json").write_text(json.dumps(
        {"dataset_shape": {"rows": ROWS, "columns": 13}, "columns": columns}))


class EtlCheckTest(unittest.TestCase):
    def setUp(self):
        WORK.mkdir(exist_ok=True)
        self.dir = Path(tempfile.mkdtemp(dir=WORK, prefix="test-checks-"))

    def tearDown(self):
        shutil.rmtree(self.dir, ignore_errors=True)

    def check(self, select_sql, columns=REFERENCE_COLUMNS):
        make_run(self.dir, select_sql, columns)
        problems, defects, _ = check_etl_run(self.dir, ROWS, -1, ["parquet"])
        return problems, defects

    def test_correct_output_passes(self):
        self.assertEqual(self.check("SELECT * FROM expected"), ([], []))

    def test_dropped_row_fails(self):
        problems, _ = self.check(
            "SELECT * FROM expected WHERE \"Delivery_ID\" <> 'SC1007'")
        self.assertIn(f"parquet: {ROWS - 1} rows, expected {ROWS}", problems)

    def test_flipped_status_fails(self):
        problems, _ = self.check("""SELECT * REPLACE (
            CASE WHEN "Delivery_ID" = 'SC1011'
                 THEN CASE "Status" WHEN 'Delayed' THEN 'On-time' ELSE 'Delayed' END
                 ELSE "Status" END AS "Status") FROM expected""")
        self.assertIn("parquet: 1 rows differ from the recomputed columns", problems)

    def test_column_order_is_reported_not_failed(self):
        moved = ["Hour"] + [c for c in REFERENCE_COLUMNS if c != "Hour"]
        problems, defects = self.check("SELECT * FROM expected", moved)
        self.assertEqual(problems, [])
        self.assertEqual(len(defects), 1)


if __name__ == "__main__":
    unittest.main()
