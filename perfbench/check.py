"""Correctness checks of one benchmark run.

Registry workloads: tools/check_oracle.py compares each key's Spark
result (written by the untimed pass) with its `oracleSql` run by DuckDB
over the same tables. Keys without oracle SQL must return rows. Oracle
results are kept in a DuckDB file, one table per hash of the SQL and of
the input files, and later runs read them from there.

Feeder sweep: the loaded Derby table and each wave's last sink export
must equal the table DuckDB derives from the same pages and correction
sheets by replaying the feeds (append of unseen keys, then MERGE).

Each function returns {operation name: reason} for every failure.
"""
import hashlib
import json
import os
import subprocess
import sys

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
FEED_COLS = ["o_orderkey", "wave", "custkey", "name", "segment", "result", "status",
             "ivdate", "amount", "priority"]


def _cached_oracle(tables, oracle, cache_db):
    """Each key's oracle SQL, rewritten to read its stored result; a
    result not yet stored is computed and stored first. SQL that fails
    is left as it is, for check_oracle.py to report."""
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(tables, f"{t}.parquet"), "rb") as f:
            h.update(f.read())
    con = duckdb.connect(cache_db)
    for t in TABLES:
        con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    stored = {r[0] for r in con.execute(
        "SELECT table_name FROM information_schema.tables WHERE table_schema = 'main'").fetchall()}
    out = {}
    for key, sql in oracle.items():
        name = "r" + hashlib.sha256(h.hexdigest().encode() + sql.encode()).hexdigest()[:24]
        if name not in stored:
            try:
                con.execute(f"CREATE TABLE {name} AS {sql}")
            except duckdb.Error:
                out[key] = sql
                continue
        out[key] = (f"ATTACH IF NOT EXISTS '{cache_db}' AS oracle_cache (READ_ONLY); "
                    f"SELECT * FROM oracle_cache.{name}")
    con.close()
    return out


def registry(root, tables, rec, cache_db, timeout_s):
    """Run tools/check_oracle.py over the run's results; every key it does
    not report as passing is wrong."""
    check_dir = rec["check_dir"]
    with open(os.path.join(check_dir, "oracle_sql.json"), "w") as f:
        json.dump(_cached_oracle(tables, rec["oracle"], cache_db), f)
    keys = sorted(d for d in os.listdir(check_dir)
                  if os.path.isdir(os.path.join(check_dir, d)))
    try:
        p = subprocess.run(
            [sys.executable, os.path.join(root, "tools", "check_oracle.py"), tables, check_dir],
            capture_output=True, text=True, timeout=timeout_s)
        lines = p.stdout.splitlines()
    except subprocess.TimeoutExpired:
        lines = []
    verdict = {}
    for line in lines:
        status, _, rest = line.partition(" ")
        name, _, reason = rest.partition(": ")
        verdict[name] = (status, reason)
    return {k: f"{verdict[k][0]} {verdict[k][1]}" if k in verdict else "not checked"
            for k in keys if verdict.get(k, ("",))[0] != "PASS"}


def expected_feed_sql(feed):
    """The table the feeds must leave, derived from the raw inputs."""
    with open(os.path.join(feed, "plan.json")) as f:
        plan = json.load(f)
    cuts = ", ".join(f"({w}, {c})" for w, c in sorted(plan["cut"].items()))
    page_cols = ("{'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT', 'c_name': 'VARCHAR', "
                 "'c_mktsegment': 'VARCHAR', 'o_orderstatus': 'VARCHAR', "
                 "'o_totalprice': 'DOUBLE', 'ivdate': 'VARCHAR', "
                 "'o_orderpriority': 'VARCHAR', 'project': 'VARCHAR'}")
    corr = ("read_csv('{p}', delim='\t', header=true, auto_detect=false, "
            "columns={{'o_orderkey': 'BIGINT', 'wave': 'INTEGER', 'status': 'VARCHAR', "
            "'amount': 'INTEGER'}})")
    return f"""
    WITH pages AS (
      SELECT * FROM read_csv('{feed}/pages/w*/page-*.tsv', delim='\t', header=false,
        auto_detect=false, quote='', escape='', nullstr='\\N', columns={page_cols})),
    t AS (
      SELECT o_orderkey, CAST(right(project, 2) AS INTEGER) AS wave, o_custkey AS custkey,
        substr(c_name, 1, 24) AS name,
        CASE WHEN trim(c_mktsegment) = '' THEN NULL ELSE c_mktsegment END AS segment,
        CASE o_orderstatus WHEN 'F' THEN 'full' WHEN 'O' THEN 'reject'
          ELSE 'partial' END AS result,
        CASE WHEN o_orderstatus = 'F' THEN 'complete' ELSE 'interrupted' END AS status,
        strftime(strptime(ivdate, '%d.%m.%Y %H:%M:%S'), '%Y-%m-%d') AS ivdate,
        least(CAST(floor(o_totalprice / 10) AS INTEGER), 32767) AS amount,
        CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN NULL
          ELSE o_orderpriority END AS priority
      FROM pages WHERE o_orderstatus <> 'O'),
    cuts(wave, cut) AS (VALUES {cuts}),
    c1 AS (SELECT * FROM {corr.format(p=feed + '/corr/w*-f1.tsv')}),
    c2 AS (SELECT * FROM {corr.format(p=feed + '/corr/w*-f2.tsv')}),
    a1 AS (SELECT t.* FROM t JOIN cuts USING (wave) WHERE o_orderkey <= cut),
    a2 AS (SELECT * FROM t WHERE o_orderkey NOT IN (SELECT o_orderkey FROM a1)
             AND o_orderkey NOT IN (SELECT o_orderkey FROM c1)),
    loaded AS (SELECT * FROM a1 UNION ALL SELECT * FROM a2),
    keys AS (SELECT o_orderkey FROM loaded UNION SELECT o_orderkey FROM c1
             UNION SELECT o_orderkey FROM c2)
    SELECT k.o_orderkey, coalesce(c2.wave, c1.wave, f.wave) AS wave, f.custkey, f.name,
      f.segment, f.result, coalesce(c2.status, c1.status, f.status) AS status, f.ivdate,
      coalesce(c2.amount, c1.amount, f.amount) AS amount, f.priority
    FROM keys k LEFT JOIN loaded f USING (o_orderkey) LEFT JOIN c1 USING (o_orderkey)
      LEFT JOIN c2 USING (o_orderkey)"""


def _as_text(con, sql):
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in FEED_COLS)
    return sorted(con.execute(f"SELECT {cols} FROM ({sql})").fetchall(),
                  key=lambda r: int(r[0]))


def feeder(feed, rec):
    con = duckdb.connect()
    con.execute("SET threads=4")
    expected = _as_text(con, expected_feed_sql(feed))
    wrong = {}
    table = rec["check_dir"] + "/feeder_table"
    loaded = _as_text(con, f"SELECT * FROM read_parquet('{table}/*.parquet')")
    if loaded != expected:
        wrong["derby_table"] = (f"rows loaded={len(loaded)} expected={len(expected)}; first "
                                f"difference {next((a, b) for a, b in zip(loaded + [None], expected + [None]) if a != b)}")
    sink_cols = "{" + ", ".join(f"'{c}': 'VARCHAR'" for c in FEED_COLS) + "}"
    for w, d in sorted(rec["feeder"].items()):
        pages = _as_text(con, f"""SELECT * FROM read_csv('{d}/page-*.tsv', delim='\t',
            header=false, auto_detect=false, quote='', escape='', nullstr='\\N',
            columns={sink_cols})""")
        want = [r for r in expected if r[1] == w]
        if pages != want:
            wrong[f"sink_w{w}"] = f"rows exported={len(pages)} expected={len(want)}"
    con.close()
    return wrong
