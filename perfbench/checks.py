"""Output checks, run after the timed region.

Batch: each job's collected result against its `SparkEntry.oracleSql` in
DuckDB over the same generated files, compared by row count, column
names and the canonical value hash of `scripts/oracle_check.py` (columns
sorted by name, floats as %.9g, rows sorted, MD5).

Stream: the final Derby tables against a batch recomputation over every
generated line. `blacklist` and `ad_user_click_count` must match exactly;
each `ad_stat` total must lie between the total without the final
blacklist's users and the total with them; `ad_province_top3` must be the
top three of the final `ad_stat`; no `ad_click_trend` count may exceed the
recomputed window count.

Each check returns a list of problems; an empty list means correct.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd


def _cell(x):
    if x is None or (isinstance(x, (float, np.floating)) and pd.isna(x)):
        return "NULL"
    if isinstance(x, (float, np.floating)):
        return f"{float(x):.9g}"
    return str(x)


def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    rows = []
    for row in df.itertuples(index=False):
        vals = []
        for v in row:
            if isinstance(v, (list, np.ndarray)):
                vals.append("[" + ",".join(_cell(x) for x in v) + "]")
            else:
                vals.append(_cell(v))
        rows.append("|".join(vals))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), len(rows)


def _connect(work_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # spill files stay in the run's own directory
    tmp = os.path.join(work_dir, "duckdb_tmp").replace("'", "''")
    con.execute(f"SET temp_directory = '{tmp}'")
    return con


def oracle(data_dir, out_dir):
    con = _connect(out_dir)
    for f in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    sql = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    bad = []
    for job, q in sorted(sql.items()):
        files = glob.glob(os.path.join(out_dir, "results", job, "*.parquet"))
        if not files:
            bad.append(f"{job}: no result")
            continue
        s = pd.concat([pd.read_parquet(f) for f in files])
        o = con.execute(q).fetchdf()
        if sorted(s.columns) != sorted(o.columns):
            bad.append(f"{job}: columns {sorted(s.columns)} != {sorted(o.columns)}")
            continue
        (sh, sn), (oh, on) = canon(s), canon(o)
        if sn != on:
            bad.append(f"{job}: {sn} rows, oracle {on}")
        elif sh != oh:
            bad.append(f"{job}: hash mismatch over {sn} rows")
    return bad


def stream(lines_files, tables_dir, threshold):
    con = _connect(tables_dir)
    con.execute("CREATE TABLE raw (line VARCHAR)")
    for f in lines_files:
        con.execute("INSERT INTO raw SELECT * FROM read_csv(?, columns={'line': 'VARCHAR'}, "
                    "header=false, delim='\\t', quote='', escape='')", [f])
    con.execute("""CREATE TABLE ev AS SELECT
        CAST(CAST(epoch_ms(CAST(split_part(line, ' ', 1) AS BIGINT)) AS DATE) AS VARCHAR) AS dt,
        epoch_ms(CAST(split_part(line, ' ', 1) AS BIGINT)) AS et,
        split_part(line, ' ', 2) AS province, split_part(line, ' ', 3) AS city,
        CAST(split_part(line, ' ', 4) AS BIGINT) AS user_id,
        CAST(split_part(line, ' ', 5) AS BIGINT) AS ad_id FROM raw""")
    for t in ("ad_user_click_count", "blacklist", "ad_stat", "ad_province_top3", "ad_click_trend"):
        con.execute(f"CREATE TABLE t_{t} AS SELECT * FROM read_csv(?, header=true, all_varchar=true)",
                    [os.path.join(tables_dir, f"{t}.csv")])
    bad = []

    def diff(name, got, want):
        g = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ({want}))").fetchone()[0]
        w = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ({got}))").fetchone()[0]
        if g or w:
            bad.append(f"{name}: {g} rows not in recomputation, {w} recomputed rows missing")

    counts = ("SELECT dt, user_id, ad_id, count(*) AS n FROM ev GROUP BY ALL")
    diff("ad_user_click_count",
         "SELECT dt, CAST(user_id AS BIGINT), CAST(ad_id AS BIGINT), CAST(click_count AS BIGINT) "
         "FROM t_ad_user_click_count", counts)
    diff("blacklist", "SELECT CAST(user_id AS BIGINT) FROM t_blacklist",
         f"SELECT DISTINCT user_id FROM ({counts}) WHERE n >= {threshold}")
    n = con.execute(f"""
        WITH hi AS (SELECT dt, province, city, ad_id, count(*) AS hi,
                      count(*) FILTER (user_id NOT IN (SELECT CAST(user_id AS BIGINT) FROM t_blacklist)) AS lo
                    FROM ev GROUP BY ALL),
             got AS (SELECT dt, province, city, CAST(ad_id AS BIGINT) AS ad_id,
                       CAST(click_count AS BIGINT) AS v FROM t_ad_stat)
        SELECT count(*) FROM hi FULL JOIN got USING (dt, province, city, ad_id)
        WHERE coalesce(v, 0) < coalesce(lo, 0) OR coalesce(v, 0) > coalesce(hi, 0)""").fetchone()[0]
    if n:
        bad.append(f"ad_stat: {n} totals outside [without, with] the final blacklist")
    diff("ad_province_top3",
         "SELECT dt, province, CAST(ad_id AS BIGINT), CAST(click_count AS BIGINT), "
         "CAST(rnk AS BIGINT) FROM t_ad_province_top3",
         """SELECT * FROM (SELECT dt, province, ad_id, n,
              row_number() OVER (PARTITION BY dt, province ORDER BY n DESC, ad_id) AS r
            FROM (SELECT dt, province, CAST(ad_id AS BIGINT) AS ad_id,
                    sum(CAST(click_count AS BIGINT)) AS n FROM t_ad_stat GROUP BY ALL))
            WHERE r <= 3""")
    n = con.execute("""
        WITH w AS (SELECT ad_id, time_bucket(INTERVAL 10 MINUTE, et) - INTERVAL (10 * k) MINUTE AS ws
                   FROM ev, range(6) r(k)),
             want AS (SELECT ws, ad_id, count(*) AS n FROM w GROUP BY ALL)
        SELECT count(*) FROM t_ad_click_trend t LEFT JOIN want
          ON CAST(t.window_start AS TIMESTAMP) = want.ws AND CAST(t.ad_id AS BIGINT) = want.ad_id
        WHERE want.n IS NULL OR CAST(t.click_count AS BIGINT) > want.n""").fetchone()[0]
    if n:
        bad.append(f"ad_click_trend: {n} window counts above the recomputation")
    for t in ("ad_user_click_count", "ad_stat", "ad_click_trend"):
        if con.execute(f"SELECT count(*) FROM t_{t}").fetchone()[0] == 0:
            bad.append(f"{t}: empty")
    return bad
