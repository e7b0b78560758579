"""Output checks, run after the timed region against DuckDB.

Query outputs with a registered oracle are compared the way the
project's oracle replay compares them: row count, column-name set, and
a sha256 over the sorted string form of the rows under sorted column
names. The oracle side is computed once per (input digest, SQL) and
cached. Outputs without an oracle are held to invariants: a non-empty
schema and the same row count on every pass.
"""
import hashlib
import json
import os
import re

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def reads_inputs(sql):
    """False for an oracle that is a literal result pinned from one
    particular dataset (VALUES only): it cannot judge generated input."""
    return re.search(r"\b(" + "|".join(TABLES) + r")\b", sql) is not None


def norm(rows, cols):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return hashlib.sha256(str(sorted(tuple(str(r[i]) for i in idx) for r in rows)).encode()).hexdigest()


def _summary(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    return {"rows": len(rows), "cols": sorted(cols), "hash": norm(rows, cols)}


def _parquet(path):
    return f"read_parquet('{path}/*.parquet')"


class Checker:
    def __init__(self, inputs, cache_dir, input_digest):
        self.inputs = inputs
        self.cache_dir = cache_dir
        self.digest = input_digest
        os.makedirs(cache_dir, exist_ok=True)
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.execute(f"SET temp_directory = '{os.path.join(cache_dir, 'tmp')}'")
        for t in TABLES:
            p = os.path.join(inputs, f"{t}.parquet")
            if os.path.exists(p):
                self.con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def oracle(self, sql, setup=""):
        key = hashlib.sha256((self.digest + setup + sql).encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if setup:
            self.con.execute(setup)
        got = _summary(self.con, sql)
        with open(path + ".tmp", "w") as f:
            json.dump(got, f)
        os.replace(path + ".tmp", path)
        return got

    def against_oracle(self, out_path, sql, setup=""):
        """None when equal, else a one-line reason."""
        want = self.oracle(sql, setup)
        got = _summary(self.con, f"SELECT * FROM {_parquet(out_path)}")
        for k in ("rows", "cols", "hash"):
            if got[k] != want[k]:
                return f"{k} differs from oracle ({str(got[k])[:60]} vs {str(want[k])[:60]})"
        return None

    def invariants(self, out_path, timed_rows):
        got = _summary(self.con, f"SELECT * FROM {_parquet(out_path)}")
        if not got["cols"]:
            return "empty schema"
        if len(set(timed_rows)) != 1:
            return f"row count differs between passes: {sorted(set(timed_rows))}"
        if got["rows"] != timed_rows[0]:
            return f"written rows {got['rows']} != timed rows {timed_rows[0]}"
        return None

    def ctr_spike(self, out_path, sql, delivered):
        """The spike detector over the days delivered so far equals the
        registered oracle run over the same days of the source events."""
        days = ",".join(f"'{d}'" for d in sorted(delivered))
        src = os.path.join(self.inputs, "events.parquet")
        setup = (f"CREATE OR REPLACE VIEW events AS SELECT * FROM read_parquet('{src}') "
                 f"WHERE strftime(ts, '%Y%m%d') IN ({days})")
        return self.against_oracle(out_path, sql, setup)

    def ctr_stream(self, out_path, files):
        """The streamed hourly per-user clicks/impressions equal the same
        aggregate over every delivered file, redeliveries included."""
        rows = " UNION ALL ".join(
            f"SELECT * FROM read_json('{f}', format='newline_delimited')" for f in files)
        sql = f"""
            SELECT epoch_us(time_bucket(INTERVAL 1 HOUR,
                     make_timestamp(CAST(dimensionValues.TS_MICROS.value AS BIGINT)))) AS window_start,
                   CAST(dimensionValues.USER.value AS BIGINT) AS user_id,
                   SUM(CASE WHEN dimensionValues.EVENT_TYPE.value = 'click' THEN 1 ELSE 0 END)::BIGINT AS clicks,
                   SUM(CASE WHEN dimensionValues.EVENT_TYPE.value = 'view' THEN 1 ELSE 0 END)::BIGINT AS impressions
            FROM ({rows}) GROUP BY ALL"""
        want = self.oracle(sql)
        got = _summary(self.con, f"""
            SELECT epoch_us(window_start) AS window_start, user_id, clicks, impressions
            FROM {_parquet(out_path)}""")
        for k in ("rows", "cols", "hash"):
            if got[k] != want[k]:
                return f"stream {k} differs ({str(got[k])[:60]} vs {str(want[k])[:60]})"
        return None

    def warehouse(self, table_path):
        """The backfilled warehouse holds exactly the source events."""
        cols = "event_id, epoch_us(ts) AS ts, user_id, event_type, value, props"
        src = os.path.join(self.inputs, "events.parquet")
        want = self.oracle(f"SELECT {cols} FROM read_parquet('{src}')")
        got = _summary(self.con, f"SELECT {cols} FROM read_parquet('{table_path}/*/*.parquet', hive_partitioning=1)")
        for k in ("rows", "cols", "hash"):
            if got[k] != want[k]:
                return f"warehouse {k} differs from source events"
        return None
