"""Seeded input generator for the benchmark workloads.

Every value is a pure function of (seed, row number, column), drawn from
DuckDB's `hash`, and files are written single-threaded in `range` order,
so the same seed gives byte-identical parquet files.

Tables:
  cohort_1m / cohort_50k  synthetic patient cohorts (table1 workloads)
  ops/<table>             TPC-H-shaped customer / orders / lineitem plus
                          `documents`, with the schemas the operator
                          queries read (ops_mix)
"""
import json
import os

import duckdb

COHORT_ROWS = {"cohort_1m": 1_000_000, "cohort_50k": 50_000}

# ops_mix table sizes: the shape of the repository's test data
# (customer:orders:lineitem = 1:10:40), scaled to fit the run budget.
OPS_ROWS = {"customer": 2_500, "orders": 25_000, "lineitem": 100_000, "documents": 1_000}

WORDS = ("a the data spark query scan sort join merge hash vector stream batch "
         "window filter group agg key value row column table part line order "
         "customer fast slow big small").split()
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def _connect(seed):
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SET preserve_insertion_order = true")
    # u(i, k): uniform on (0, 1); z(i, k): standard normal (Box-Muller)
    con.execute(f"CREATE MACRO u(i, k) AS "
                f"((hash(i::BIGINT, {int(seed)}::BIGINT, k::INTEGER) >> 11)::DOUBLE + 0.5) "
                f"/ 9007199254740992.0")
    con.execute("CREATE MACRO z(i, k) AS "
                "sqrt(-2.0 * ln(u(i, k))) * cos(2.0 * pi() * u(i, k + 1000))")
    con.execute("CREATE MACRO pick(i, k, n) AS least(floor(u(i, k) * n)::BIGINT, n - 1)")
    return con


def _copy(con, sql, path):
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet, ROW_GROUP_SIZE 100000)")


def cohort_sql(n):
    """Patients: a 3-arm trial. Six continuous columns (integer `age` with
    few distinct values, lab values with many and about 3% nulls) and four
    categorical ones (`dx_code` has 300 skewed levels)."""
    return f"""
    SELECT i AS patient_id,
      ['placebo', 'low_dose', 'high_dose'][1 + pick(i, 1, 3)] AS arm,
      CASE WHEN u(i, 2) < 0.52 THEN 'F' ELSE 'M' END AS sex,
      CASE WHEN u(i, 3) < 0.03 THEN NULL
           WHEN u(i, 4) < 0.55 THEN 'never'
           WHEN u(i, 4) < 0.80 THEN 'former' ELSE 'current' END AS smoking,
      'site_' || lpad((1 + pick(i, 5, 12))::VARCHAR, 2, '0') AS site,
      'D' || lpad(floor(300 * u(i, 6) * u(i, 6))::BIGINT::VARCHAR, 3, '0') AS dx_code,
      (18 + pick(i, 7, 73))::INTEGER AS age,
      CASE WHEN u(i, 8) < 0.03 THEN NULL ELSE round(27.0 + 5.0 * z(i, 9), 1) END AS bmi,
      CASE WHEN u(i, 10) < 0.03 THEN NULL ELSE round(128.0 + 16.0 * z(i, 11), 0) END AS sbp,
      CASE WHEN u(i, 12) < 0.03 THEN NULL ELSE round(3.2 + 0.9 * z(i, 13), 3) END AS ldl,
      CASE WHEN u(i, 14) < 0.03 THEN NULL ELSE round(5.8 + 0.7 * z(i, 15), 2) END AS hba1c,
      CASE WHEN u(i, 16) < 0.03 THEN NULL ELSE round(exp(0.6 + 1.1 * z(i, 17)), 3) END AS crp
    FROM range({n}) t(i)"""


def ops_sql(table):
    r = OPS_ROWS
    words = "[" + ", ".join(f"'{w}'" for w in WORDS) + "]"
    if table == "customer":
        return f"""
        SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
          pick(i, 1, 25)::INTEGER AS c_nationkey,
          round(-999.99 + 10999.98 * u(i, 2), 2) AS c_acctbal,
          {SEGMENTS}[1 + pick(i, 3, 5)] AS c_mktsegment
        FROM range({r['customer']}) t(i)"""
    if table == "orders":
        return f"""
        SELECT i::BIGINT AS o_orderkey, pick(i, 1, {r['customer']})::BIGINT AS o_custkey,
          ['F', 'O', 'P'][1 + pick(i, 2, 3)] AS o_orderstatus,
          round(1000.0 + 450000.0 * u(i, 3), 2) AS o_totalprice,
          (TIMESTAMPTZ '1992-01-01 00:00:00+00' + to_days(pick(i, 4, 3650)::INTEGER)) AS o_orderdate,
          ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'][1 + pick(i, 5, 5)]
            AS o_orderpriority
        FROM range({r['orders']}) t(i)"""
    if table == "lineitem":
        return f"""
        SELECT pick(i, 1, {r['orders']})::BIGINT AS l_orderkey,
          pick(i, 2, 20000)::BIGINT AS l_partkey, pick(i, 3, 1000)::BIGINT AS l_suppkey,
          (1 + pick(i, 4, 7))::INTEGER AS l_linenumber,
          (1 + pick(i, 5, 50))::DOUBLE AS l_quantity,
          round(900.0 + 104000.0 * u(i, 6), 2) AS l_extendedprice,
          pick(i, 7, 11) / 100.0 AS l_discount, pick(i, 8, 9) / 100.0 AS l_tax,
          ['A', 'N', 'R'][1 + pick(i, 9, 3)] AS l_returnflag,
          ['F', 'O'][1 + pick(i, 10, 2)] AS l_linestatus,
          (TIMESTAMPTZ '1992-01-01 00:00:00+00' + to_days(pick(i, 11, 3650)::INTEGER)) AS l_shipdate
        FROM range({r['lineitem']}) t(i)"""
    if table == "documents":
        # 10-80 words from a 31-word vocabulary, as in the test data
        return f"""
        WITH d AS (
          SELECT i, array_to_string(list_transform(range(10 + pick(i, 1, 71)),
                   j -> {words}[1 + pick(i * 1000 + j, 2, {len(WORDS)})]), ' ') AS text
          FROM range({r['documents']}) t(i))
        SELECT i::BIGINT AS doc_id, text, {LANGS}[1 + pick(i, 3, {len(LANGS)})] AS lang,
          'src' || (i % 20)::VARCHAR AS source, length(text)::BIGINT AS n_chars
        FROM d"""
    raise ValueError(table)


def generate(root, seed, workload):
    """Writes the workload's inputs for `seed` under `root` (once; later
    calls reuse them) and returns {table: rows}."""
    if workload == "ops_mix":
        tables = {f"ops/{t}": n for t, n in OPS_ROWS.items()}
    elif workload == "cohort_1m":
        tables = {"cohort_1m": COHORT_ROWS["cohort_1m"]}
    else:
        tables = {"cohort_50k": COHORT_ROWS["cohort_50k"]}
    for name, n in tables.items():
        path = os.path.join(root, name + ".parquet")
        if os.path.exists(path):
            continue
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        if os.path.exists(tmp):
            os.remove(tmp)
        con = _connect(seed)
        try:
            sql = cohort_sql(n) if name.startswith("cohort") else ops_sql(name.split("/")[1])
            _copy(con, sql, tmp)
        finally:
            con.close()
        os.replace(tmp, path)
    return {name.split("/")[-1]: n for name, n in tables.items()}


if __name__ == "__main__":
    import sys
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
