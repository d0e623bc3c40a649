"""Tests of run.py's output check: python3 -m unittest benchmark/test_run.py"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

import duckdb

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402


class OracleCheckTest(unittest.TestCase):
    """query_surface's check fails once a dumped result is corrupted."""

    def test_corrupted_output_fails(self):
        with tempfile.TemporaryDirectory() as tmp:
            data, dump = os.path.join(tmp, "data"), os.path.join(tmp, "dump")
            subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "gen_sf.py"),
                            "0.001", data], check=True, stdout=subprocess.DEVNULL)
            sql = "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey"
            os.makedirs(os.path.join(dump, "q"))
            with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
                json.dump({"q": sql}, f)
            con = duckdb.connect()
            con.execute(f"CREATE VIEW nation AS SELECT * FROM read_parquet('{data}/nation.parquet')")
            out = os.path.join(dump, "q", "part-0.parquet")
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
            self.assertTrue(run.oracle_check(data, dump))

            con.execute(f"COPY (SELECT n_nationkey, CASE WHEN n_nationkey = 3 THEN 'X' "
                        f"ELSE n_name END AS n_name FROM ({sql})) TO '{out}' (FORMAT PARQUET)")
            self.assertFalse(run.oracle_check(data, dump))


if __name__ == "__main__":
    unittest.main()
