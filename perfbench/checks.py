"""Output checks in DuckDB: the query workloads against each query's
``SparkEntry.oracleSql``, the ETL's README Q1-Q3 over the star parquet
the run wrote. Rows are compared exactly, as tools/check.py compares
them (its ``table_rows`` normalisation is reused)."""
import os
import sys

import duckdb
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check import table_rows  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

STAR = ["visa_codes", "city", "airports", "temperatures", "statistics", "travelers"]

# The reference README's analytical queries (README.md:172-214) over the
# star tables, as PipelineQueries' p11-p13 oracles state them.
_PER_CITY_CNT = """SELECT c_id, count(*) AS cnt FROM travelers
 JOIN airports ON p_airport_id = a_id
 JOIN city ON a_city_id = c_id
 JOIN statistics ON s_city_id = c_id
 GROUP BY c_id"""

README_SQL = {
    "q1": """SELECT avg_age, s_median_age, c_name, c_state_code FROM
 (SELECT avg(p_age) AS avg_age, a_city_id AS age_city_id FROM travelers
  JOIN airports ON p_airport_id = a_id
  JOIN city ON a_city_id = c_id
  GROUP BY a_city_id) AS averages
 JOIN city ON c_id = age_city_id
 JOIN statistics ON s_city_id = c_id
ORDER BY s_median_age DESC""",
    "q2": f"""SELECT c_name, c_state_code, s_per_foreign_born, cnt FROM statistics JOIN (
{_PER_CITY_CNT}) AS t
ON t.c_id = s_city_id
JOIN city AS c ON s_city_id = c.c_id
ORDER BY s_per_foreign_born DESC""",
    "q3": f"""SELECT c_name, c_state_code, t_average_temp_month, cnt,
  ROUND(100 * (CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE)), 2) AS percent_of_total_travelers
FROM temperatures
JOIN ({_PER_CITY_CNT}) AS t ON t.c_id = t_city_id
JOIN city AS c ON t_city_id = c.c_id
CROSS JOIN (SELECT count(*) AS total FROM travelers)
WHERE t_year = '2013' AND t_month = '4'
ORDER BY percent_of_total_travelers DESC""",
}


def _read(path):
    files = sorted(os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet"))
    return pq.read_table(files)


def compare(con, name, sql, result_dir):
    """None when the Spark result in result_dir equals the DuckDB result
    of sql, else a one-line reason."""
    if not os.path.isdir(result_dir):
        return f"{name}: no result written"
    try:
        exp = con.sql(sql).arrow()
    except Exception as e:  # an oracle that cannot run is a failed check
        return f"{name}: oracle error {e}"
    gc, gr = table_rows(_read(result_dir))
    ec, er = table_rows(exp)
    if gc != ec:
        return f"{name}: columns {gc} != {ec}"
    if gr != er:
        diff = [(a, b) for a, b in zip(gr, er) if a != b][:2]
        return f"{name}: rows differ ({len(gr)} vs {len(er)}), first {diff}"
    return None


def check_queries(data_dir, results_dir, oracles):
    """{query: reason} for every query whose result differs from its oracle."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    bad = {}
    for name, sql in sorted(oracles.items()):
        why = compare(con, name, sql, os.path.join(results_dir, name))
        if why:
            bad[name] = why
    return bad


def check_readme(star_dir, results_dir):
    """{q: reason} for README Q1-Q3 over the star parquet the run wrote."""
    con = duckdb.connect()
    for t in STAR:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{star_dir}/{t}/**/*.parquet', hive_partitioning=false)")
    bad = {}
    for q, sql in README_SQL.items():
        why = compare(con, q, sql, os.path.join(results_dir, q))
        if why:
            bad[q] = why
    return bad
