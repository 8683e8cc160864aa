"""Output checks: each workload's expected sink contents computed by
DuckDB from the same generated inputs, compared with what a run wrote
after FIXTURES.md section 3 canonicalization (stats.canonical).

text_curation reuses the program's own gate oracle SQL (dumped from
`graft.SparkEntry.oracleSql` at build time) for PII redaction, text
profile, exact dedup and MinHash near-dup pairs; the gzip gate's
contract (decoded bytes equal the original) lets the plain corpus
stand for the decoder's output.
"""
import glob
import json
import re
import sqlite3

import duckdb

from build import BUILD
from stats import canonical

ORACLE_KEYS = ["x_pii_redact", "x_text_profile", "x_dedup_exact", "x_dedup_minhash"]


def _con():
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute(f"SET temp_directory = '{BUILD}/tmp/duckdb'")
    return con


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return [dict(zip(cols, r)) for r in cur.fetchall()]


# ---------------- etl_relational ----------------

ETL_COLS = ["region", "category", "revenue_cents", "sales", "max_qty"]


def expect_etl(data):
    return _rows(_con(), f"""
        SELECT upper(st.region) AS region, p.category,
               sum(s.cents) AS revenue_cents, count(*) AS sales, max(s.qty) AS max_qty
        FROM read_parquet('{data}/sales/*.parquet') s
        JOIN read_parquet('{data}/products.parquet') p ON s.product_id = p.product_id
        JOIN read_parquet('{data}/stores.parquet') st ON s.store_id = st.store_id
        WHERE s.day >= 10 AND s.qty >= 2
        GROUP BY 1, 2""")


def _parquet(path, hive=False):
    files = glob.glob(f"{path}/**/*.parquet", recursive=True)
    if not files:
        raise AssertionError(f"no parquet files under {path}")
    return _rows(_con(), f"SELECT * FROM read_parquet({files!r}, hive_partitioning={hive})")


def check_etl(expected, sink_dir):
    """Returns (rows found in the sinks, mismatch reason or None)."""
    got = _parquet(f"{sink_dir}/summary")
    ok = canonical(got, ETL_COLS) == canonical(expected, ETL_COLS)
    return len(got), None if ok else "summary differs from oracle"


# ---------------- text_curation ----------------

TEXT_COLS = ["a_id", "b_id", "jaccard", "split"]


def expect_text(data, oracle_sql):
    con = _con()
    con.execute(f"CREATE TABLE plain AS SELECT doc_id, text FROM read_parquet('{data}/oracle_docs.parquet')")
    # redaction: the x_pii_redact chain over the corpus text instead of
    # the gate's planted strings
    pii = oracle_sql["x_pii_redact"]
    redact, n = re.subn(r"WITH raw AS \(.*?FROM documents\)",
                        "WITH raw AS (SELECT doc_id, text AS t FROM documents)", pii, flags=re.S)
    if n != 1:
        raise RuntimeError("x_pii_redact oracle no longer has its raw CTE")

    def stage(name, sql, documents):
        con.execute(f"CREATE OR REPLACE VIEW documents AS {documents}")
        con.execute(f"CREATE TABLE {name} AS {sql}")

    stage("redacted", redact, "SELECT doc_id, text FROM plain")
    # only token_count feeds the filter; projecting it lets DuckDB
    # skip the profile's other columns
    stage("profiled", f"SELECT doc_id, token_count FROM ({oracle_sql['x_text_profile']})",
          "SELECT r.doc_id, 0 AS n_chars, r.redacted AS text FROM redacted r")
    con.execute("""CREATE TABLE kept AS SELECT r.doc_id, r.redacted AS text FROM redacted r
                   JOIN profiled p USING (doc_id) WHERE p.token_count >= 20""")
    stage("deduped", oracle_sql["x_dedup_exact"],
          "SELECT doc_id, text, '' AS lang, '' AS source, 0 AS n_chars FROM kept")
    stage("pairs", exact_blocked(oracle_sql["x_dedup_minhash"]), "SELECT doc_id, text FROM deduped")
    return _rows(con, """
        SELECT a_id, b_id, jaccard,
               CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
        FROM (SELECT *, ('0x' || substr(md5(CAST(a_id AS VARCHAR)), 1, 8))::BIGINT % 100 AS b
              FROM pairs)""")


# Prefix filter over the gate's own shingle sets (its `sh` CTE): with
# one global token order, two sets with jaccard >= 0.7 share a token
# among the first n - ceil(0.7 n) + 1 of each. So the candidate pairs
# are a superset of the answer, and the gate's exact jaccard over them
# gives the same rows as its all-pairs join, without the n^2 pairs.
PREFIX_CAND = """, cand AS (
  WITH e AS (SELECT doc_id, unnest(s) AS g, len(s) AS n FROM sh),
  f AS (SELECT g, count(*) AS df FROM e GROUP BY g),
  r AS (SELECT e.doc_id, e.g, e.n,
               row_number() OVER (PARTITION BY e.doc_id ORDER BY f.df, e.g) AS k
        FROM e JOIN f USING (g)),
  p AS (SELECT doc_id, g FROM r WHERE k <= n - (7 * n + 9) // 10 + 1)
  SELECT DISTINCT p1.doc_id AS a_id, p2.doc_id AS b_id
  FROM p p1 JOIN p p2 ON p1.g = p2.g AND p1.doc_id < p2.doc_id)
"""


def exact_blocked(minhash_sql):
    """The x_dedup_minhash oracle with its all-pairs join restricted to
    prefix-filter candidates (same result at threshold 0.7)."""
    if "WHERE jaccard >= 0.7" not in minhash_sql:
        raise RuntimeError("x_dedup_minhash oracle threshold is no longer 0.7")
    head, sep, rest = minhash_sql.partition("\n      SELECT a_id, b_id, jaccard FROM (")
    join = "FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
    if not sep or rest.count(join) != 1:
        raise RuntimeError("x_dedup_minhash oracle no longer has its all-pairs join")
    rest = rest.replace(join, "FROM cand c JOIN sh a ON a.doc_id = c.a_id "
                              "JOIN sh b ON b.doc_id = c.b_id")
    return head + PREFIX_CAND + sep + rest


def check_text(expected, sink_dir):
    got = _parquet(f"{sink_dir}/curated", hive=True)
    ok = canonical(got, TEXT_COLS) == canonical(expected, TEXT_COLS)
    return len(got), None if ok else "near-dup pairs differ from oracle"


# ---------------- cli_small_runs ----------------

CLI_COLS = ["segment", "day", "total", "orders"]
STDOUT_LIMIT = 20


def expect_cli(data):
    return _rows(_con(), f"""
        WITH u AS (
          SELECT order_id, cust_id, amount, status, day
          FROM read_csv('{data}/orders.csv', header = true, all_varchar = true)
          UNION ALL
          SELECT order_id, cust_id, amount, status, day
          FROM read_json('{data}/orders.json', format = 'array', columns = {{
            order_id: 'VARCHAR', cust_id: 'VARCHAR', amount: 'VARCHAR',
            status: 'VARCHAR', day: 'VARCHAR'}})),
        f AS (SELECT DISTINCT * FROM u WHERE status = 'open'),
        c AS (SELECT * FROM read_json('{data}/customers.json', format = 'array',
                columns = {{cust_id: 'VARCHAR', segment: 'VARCHAR'}}))
        SELECT upper(c.segment) AS segment, f.day,
               sum(CAST(f.amount AS BIGINT)) AS total, count(*) AS orders
        FROM f JOIN c ON f.cust_id = c.cust_id
        GROUP BY 1, 2 ORDER BY 1, 2""")


def check_cli(expected, sink_dir, stdout_text=None):
    """Checks the json, csv and sqlite sinks, and the stdout sink when
    its text is given. Returns (rows found across the sinks, reason)."""
    want = canonical(expected, CLI_COLS)
    con = _con()
    js = _rows(con, f"SELECT * FROM read_json('{sink_dir}/out_json/*.json', format = 'newline_delimited')")
    cs = _rows(con, f"SELECT * FROM read_csv('{sink_dir}/out_csv/*.csv', header = true, all_varchar = true)")
    db = sqlite3.connect(f"file:{sink_dir}/out_sqlite.db?mode=ro", uri=True)
    try:
        cur = db.execute("SELECT * FROM daily")
        cols = [d[0] for d in cur.description]
        sq = [dict(zip(cols, r)) for r in cur.fetchall()]
    finally:
        db.close()
    bad = [name for name, got in (("json", js), ("csv", cs), ("sqlite", sq))
           if canonical(got, CLI_COLS) != want]
    found = len(js) + len(cs) + len(sq)
    if stdout_text is not None:
        printed = [json.loads(l) for l in stdout_text.splitlines() if l.startswith("{")]
        head = [canonical([r], CLI_COLS)[0] for r in expected[:STDOUT_LIMIT]]
        if [canonical([r], CLI_COLS)[0] for r in printed] != head:
            bad.append("stdout")
        found += len(printed)
    return found, (None if not bad else "sinks differ from oracle: " + ",".join(bad))


EXPECT = {"etl_relational": expect_etl, "cli_small_runs": expect_cli}
CHECK = {"etl_relational": check_etl, "text_curation": check_text, "cli_small_runs": check_cli}


def expected_rows(workload, data, oracle_sql):
    """Oracle result for the workload's inputs."""
    if workload == "text_curation":
        return expect_text(data, oracle_sql)
    return EXPECT[workload](data)
