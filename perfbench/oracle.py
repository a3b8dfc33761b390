"""Reference outputs, computed with DuckDB on the same input files.

- Oracled rows: the order-invariant digest of `graft.tools.QueryDigest`
  (rows = COUNT(*), digest = SUM of the 60-bit md5 prefix of each row in
  sorted-column order), computed over the row's `SparkEntry.oracleSql`,
  the method of `scripts/digest_check.py`.
- Sketch and ANN rows: the exact answers their property floors are
  measured against (distinct counts, exact cosine top-k).
- `cdc_upsert`: the latest-by-key fold of `events` by `event_id`,
  without the tombstoned keys, digested in the harness's column layout.
"""
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# mirrors graft.sources.PgCdcSim.DELETED_KEY_MOD / DELETED_KEY_REM
DELETED_KEY_MOD, DELETED_KEY_REM = 10, 7


def connect(data, tmp, threads):
    os.makedirs(tmp, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{tmp}'")
    con.execute(f"SET threads={threads}")
    con.execute("SET memory_limit='2GB'")
    con.execute("SET preserve_insertion_order=false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def digest(con, sql):
    """(rows, digest) of `sql`'s result, canonicalised as QueryDigest does."""
    # a terminal ORDER BY never changes an order-invariant digest; one
    # followed by LIMIT is a top-N and is kept
    sql = re.sub(r"ORDER BY(?:(?!LIMIT)[^)])*$", "", sql.strip().rstrip(";"),
                 flags=re.IGNORECASE)
    types = {r[0]: r[1] for r in con.execute(
        f"DESCRIBE SELECT * FROM ({sql}) LIMIT 0").fetchall()}

    def canon(c):
        if types[c].upper() in ("DOUBLE", "FLOAT", "REAL"):
            d = f'CAST("{c}" AS DOUBLE)'
            return (f"concat(CAST(CAST(floor({d}) AS BIGINT) AS VARCHAR), ':', "
                    f"CAST(CAST(floor(({d} - floor({d})) * 1e18 + 0.5) AS BIGINT) AS VARCHAR))")
        return f'CAST("{c}" AS VARCHAR)'
    joined = "concat_ws(',', " + ", ".join(
        f"coalesce({canon(c)}, chr(1))" for c in sorted(types)) + ")"
    rowhash = f"CAST(concat('0x', substr(md5({joined}), 1, 15)) AS BIGINT)"
    rows, dg = con.execute(
        f"SELECT count(*), coalesce(sum(CAST({rowhash} AS HUGEINT)), 0) FROM ({sql})"
    ).fetchone()
    return int(rows), str(dg)


def distinct_users(con):
    per_type = dict(con.execute(
        "SELECT event_type, count(DISTINCT user_id) FROM events GROUP BY 1").fetchall())
    total = con.execute("SELECT count(DISTINCT user_id) FROM events").fetchone()[0]
    return {"per_type": per_type, "global": total}


def topk_neighbours(con, sql):
    """qid -> sorted nid list of the exact top-k (q_sim_cosine_topk's oracle)."""
    out = {}
    for qid, nid in con.execute(f"SELECT qid, nid FROM ({sql})").fetchall():
        out.setdefault(str(qid), []).append(int(nid))
    return {k: sorted(v) for k, v in out.items()}


CDC_FOLD = f"""
WITH h AS (
  SELECT event_id, user_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS first_rn,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS last_rn
  FROM events)
SELECT user_id AS key, event_id AS seq,
       CASE WHEN first_rn = 1 THEN 'I' ELSE 'U' END AS op,
       epoch_us(ts) AS ts_us, event_type, value
FROM h
WHERE last_rn = 1 AND user_id % {DELETED_KEY_MOD} <> {DELETED_KEY_REM}
"""


def cdc_replica(con):
    return digest(con, CDC_FOLD)
