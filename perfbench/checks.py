"""Output checks, run after the timed window.

`reports` is checked against an independent DuckDB computation of the
three reference reports over the generated inputs. Catalog queries are
checked by the repository's oracle gate (`tools/check.py`): each query's
result parquet against its `SparkEntry.oracleSql` entry in DuckDB. Both
sides are compared after the same canonicalization (`check.canon`):
columns sorted by name, rows sorted by every column, values as strings.
"""
import contextlib
import io
import json
import os
import sys

import duckdb
import pandas as pd


def _gate(root):
    sys.path.insert(0, os.path.join(root, "tools"))
    import check
    return check


# Category ids are normalized by inserting 0 after a dot before a digit.
_CAT = r"""SELECT regexp_replace(id, '\.(\d)', '.0\1', 'g') AS categoryId,
  name AS categoryName, CAST(percent AS DECIMAL(5, 2)) AS percent FROM cat_raw"""

EXPECTED = {
    "top10": f"""
WITH cat AS ({_CAT}),
c AS (SELECT substr(processTime, 1, 10) AS date, resourceId, count(*) AS n FROM ev GROUP BY 1, 2),
j AS (SELECT c.*, r.name AS resourceName, r.categoryId, cat.categoryName
      FROM c LEFT JOIN res r ON c.resourceId = r.id LEFT JOIN cat ON r.categoryId = cat.categoryId)
SELECT dense_rank() OVER (PARTITION BY date, categoryId ORDER BY n DESC) AS position,
  date, categoryId, categoryName, resourceId, resourceName
FROM j QUALIFY position <= 10""",
    "royalties": f"""
WITH cat AS ({_CAT}),
j AS (SELECT substr(e.eventTime, 1, 7) AS month, e.resourceId, e.itemPrice,
        r.providerId, r.promotion, cat.percent, co.Code
      FROM ev e LEFT JOIN res r ON e.resourceId = r.id
      LEFT JOIN cat ON r.categoryId = cat.categoryId
      LEFT JOIN countries co ON e.countryCode = co.CountryCode),
k AS (SELECT *, CASE WHEN promotion = 'false'
        THEN round(CAST(itemPrice AS DECIMAL(12, 2)) * percent * CAST(0.01 AS DECIMAL(3, 2)), 2)
        ELSE CAST(0 AS DECIMAL(12, 2)) END AS royalty FROM j),
x AS (SELECT k.*, round(royalty * CAST(rt.rate AS DECIMAL(8, 4)), 2) AS amount
      FROM k JOIN rates rt ON k.Code = rt.Code)
SELECT month AS date, providerId, resourceId, CAST(sum(amount) AS DECIMAL(14, 2)) AS amount
FROM x GROUP BY 1, 2, 3""",
}
for _name, _dim, _rel in (("usage_by_country", "countryCode", "usagePercentRelativeCountry"),
                          ("usage_by_time_zone", "timeZone", "usagePercentRelativeTz")):
    EXPECTED[_name] = f"""
WITH e AS (SELECT substr(eventTime, 1, 7) AS month, substr(eventTime, 20, 6) AS timeZone,
             resourceId, countryCode, duration FROM ev),
g AS (SELECT month, {_dim}, resourceId, sum(duration) AS t FROM e GROUP BY 1, 2, 3)
SELECT month, resourceId, {_dim},
  CAST(t AS DOUBLE) / CAST(sum(t) OVER (PARTITION BY month) AS DOUBLE) * 100 AS usagePercentTotal,
  CAST(t AS DOUBLE) / CAST(sum(t) OVER (PARTITION BY month, {_dim}) AS DOUBLE) * 100 AS {_rel},
  t AS totalDurationInSec
FROM g"""

# How each sink is read back (the engine's own writers chose the layouts).
ACTUAL = {
    "top10": "SELECT * FROM read_csv('{d}/*/*.csv', delim='|', header=true, all_varchar=true, "
             "hive_partitioning=true, hive_types_autocast=false)",
    "royalties": "SELECT * FROM read_json('{d}/*.json', format='newline_delimited', "
                 "columns={{date: 'VARCHAR', providerId: 'VARCHAR', resourceId: 'VARCHAR', "
                 "amount: 'VARCHAR'}})",
    "usage_by_country": "SELECT * FROM read_parquet('{d}/*/*.parquet', hive_partitioning=true, "
                        "hive_types_autocast=false)",
}
ACTUAL["usage_by_time_zone"] = ACTUAL["usage_by_country"]


def _as_text(con, sql):
    """Runs `sql` and returns every column cast to VARCHAR, as a frame."""
    rel = con.sql(sql)
    cols = ", ".join(f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in rel.columns)
    return con.sql(f"SELECT {cols} FROM ({sql})").df()


def compare(canon, expected, actual):
    e, a = canon(expected), canon(actual)
    if list(e.columns) != list(a.columns):
        return False, f"columns {list(a.columns)} vs expected {list(e.columns)}"
    if len(e) != len(a):
        return False, f"{len(a)} rows vs expected {len(e)}"
    if len(e) == 0:
        return False, "no rows"
    neq = e.astype(str).reset_index(drop=True) != a.astype(str).reset_index(drop=True)
    if neq.any().any():
        return False, f"values differ in {[c for c in e.columns if neq[c].any()]}"
    return True, f"{len(e)} rows match"


def check_reports(root, inputs, out_dir, ops):
    canon = _gate(root).canon
    con = duckdb.connect()
    con.execute(f"""CREATE VIEW ev AS SELECT * FROM read_json('{inputs}/events/*.json',
        format='newline_delimited', columns={{eventId: 'VARCHAR', eventTime: 'VARCHAR',
        processTime: 'VARCHAR', resourceId: 'VARCHAR', userId: 'VARCHAR',
        countryCode: 'VARCHAR', duration: 'INTEGER', itemPrice: 'VARCHAR'}})""")
    con.execute(f"""CREATE VIEW res AS SELECT * FROM read_json('{inputs}/resources.json',
        format='newline_delimited', columns={{id: 'VARCHAR', name: 'VARCHAR',
        categoryId: 'VARCHAR', providerId: 'VARCHAR', promotion: 'VARCHAR'}})""")
    con.execute(f"""CREATE VIEW countries AS SELECT * FROM read_csv('{inputs}/countries.csv',
        header=true, all_varchar=true)""")
    with open(os.path.join(inputs, "categories.json")) as f:
        cat_raw = pd.DataFrame(json.load(f)["content"])
    with open(os.path.join(inputs, "rates.json")) as f:
        rates = pd.DataFrame(sorted(json.load(f)["exchange_rate"].items()), columns=["Code", "rate"])
    con.register("cat_raw", cat_raw)
    con.register("rates", rates)
    results = {}
    for op in ops:
        try:
            expected = _as_text(con, EXPECTED[op])
            actual = _as_text(con, ACTUAL[op].format(d=os.path.join(out_dir, op)))
            results[op] = compare(canon, expected, actual)
        except Exception as e:  # a missing or unreadable sink is a failed check
            results[op] = (False, f"{type(e).__name__}: {e}")
    return results


def check_catalog(root, sf_dir, out_dir, ops):
    """Runs the repository gate once per query over its own result dir."""
    gate = _gate(root)
    results = {}
    for op in ops:
        buf = io.StringIO()
        try:
            with contextlib.redirect_stdout(buf):
                rc = gate.main(sf_dir, os.path.join(out_dir, op))
            lines = [l for l in buf.getvalue().splitlines() if l.startswith(("PASS", "FAIL", "  "))]
            results[op] = (rc == 0, " | ".join(lines)[:300])
        except Exception as e:
            results[op] = (False, f"{type(e).__name__}: {e}")
    return results
