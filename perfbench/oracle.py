"""Output check: each query's output against its DuckDB oracle.

The oracle is the SQL from `SparkEntry.oracleSql`, run by DuckDB over the
same input directory. Both sides are normalised as the program's
`scripts/check_correctness.py` does: columns sorted by name, floats
compared after `repr(round(v, 9))`, NULLs as one token, rows in order.
A query without an oracle passes when its output is not empty.
"""
import json
import os
import threading

import duckdb
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _cell(v):
    if isinstance(v, float):
        return repr(round(v, 9))
    if v is None:
        return "NULL"
    try:
        if pd.isna(v):
            return "NULL"
    except (TypeError, ValueError):
        pass
    return str(v)


def _rows(df):
    df = df[sorted(df.columns)]
    return [tuple(_cell(v) for v in row) for row in df.itertuples(index=False)]


def compare(spark_df, oracle_df):
    """Returns "" when the frames match, else a one-line reason."""
    s_cols, o_cols = sorted(spark_df.columns), sorted(oracle_df.columns)
    if s_cols != o_cols:
        return f"schema mismatch: spark={s_cols} oracle={o_cols}"
    s_rows, o_rows = _rows(spark_df), _rows(oracle_df)
    if len(s_rows) != len(o_rows):
        return f"row count mismatch: spark={len(s_rows)} oracle={len(o_rows)}"
    if s_rows == o_rows:
        return ""
    if sorted(s_rows) == sorted(o_rows):
        return "order-only mismatch"
    i = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
    return f"value mismatch at row {i}: spark={s_rows[i]} oracle={o_rows[i]}"[:400]


class OracleRunner(threading.Thread):
    """Runs the oracle SQL of `names` in DuckDB over `data_dir`.

    It starts work only once `sql_file` exists, which the harness moves
    into place after its timed passes, so the oracles run while the JVM writes its
    untimed check outputs and never during a timed window. A query that
    runs longer than `timeout_s` is interrupted and counts as failed.
    """

    def __init__(self, data_dir, sql_file, names, timeout_s, tmp_dir):
        super().__init__(daemon=True)
        self.data_dir, self.sql_file, self.names = data_dir, sql_file, names
        self.timeout_s, self.tmp_dir = timeout_s, tmp_dir
        self.stop = threading.Event()
        self.results = {}
        self.sql = None

    def run(self):
        while not os.path.exists(self.sql_file):
            if self.stop.wait(0.1) and not os.path.exists(self.sql_file):
                return
        with open(self.sql_file) as fh:
            self.sql = json.load(fh)
        con = duckdb.connect()
        con.execute(f"SET temp_directory = '{self.tmp_dir}'")
        con.execute("SET memory_limit = '2GB'")
        for t in TABLES:
            p = os.path.join(self.data_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in self.names:
            if name not in self.sql:
                continue
            timer = threading.Timer(self.timeout_s, con.interrupt)
            timer.start()
            try:
                self.results[name] = con.execute(self.sql[name]).fetchdf()
            except Exception as e:  # an oracle that cannot run is a failed check
                self.results[name] = f"oracle error: {str(e).splitlines()[0][:200]}"
            finally:
                timer.cancel()
        con.close()


def check(out_dir, names, runner, dump_errors):
    """Compares each query's output with its oracle result; returns
    {name: reason}, "" meaning pass."""
    result = {}
    for name in names:
        qdir = os.path.join(out_dir, name)
        expected = runner.results.get(name)
        if dump_errors.get(name):
            result[name] = "query failed: " + dump_errors[name]
        elif not os.path.isdir(qdir):
            result[name] = "no output written"
        elif runner.sql is None:
            result[name] = "oracle SQL not written"
        elif name not in runner.sql:
            result[name] = "" if len(pd.read_parquet(qdir)) else "empty output (no oracle)"
        elif expected is None:
            result[name] = "oracle not run"
        elif isinstance(expected, str):
            result[name] = expected
        else:
            result[name] = compare(pd.read_parquet(qdir), expected)
    return result
