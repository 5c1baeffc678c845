"""DuckDB oracle for the benchmark.

The engine's state is replayed in DuckDB from the very parquet files the
engine was given plus the log of DML ops applied to it. Reads are checked
at the point of the replay where they ran; the final hypertable and the
cagg are checked at the end. Rows are compared with ``tests/oracle.py``'s
canonicalization (10 significant digits, order-insensitive) by hash.
"""

from __future__ import annotations

import hashlib

import duckdb

from tests.oracle import canon_rows

TABLE_DDL = (
    "CREATE TABLE metrics (time TIMESTAMP, device_id INTEGER, "
    "v1 DOUBLE, v2 DOUBLE)"
)
FROM_FILE = (
    "SELECT time::TIMESTAMP AS time, device_id, v1, v2 FROM read_parquet(?)"
)
DAILY_SQL = (
    "SELECT date_trunc('day', time)::TIMESTAMP AS day, count(*) AS n, sum(v1) AS s1, "
    "sum(v2) AS s2 FROM metrics GROUP BY 1"
)
CAGG_SQL = (
    "SELECT date_trunc('hour', time)::TIMESTAMP AS bucket, device_id, count(*) AS n, "
    "sum(v1) AS sum_v1, avg(v1) AS avg_v1, max(v1) AS max_v1 "
    "FROM metrics GROUP BY 1, 2"
)


def digest(cols, rows) -> str:
    """Order-insensitive hash of a result under the oracle canonicalization,
    with the sorted column names folded in."""
    h = hashlib.sha256("|".join(sorted(cols)).encode())
    for line in canon_rows(list(cols), rows):
        h.update(b"\n" + line.encode())
    return h.hexdigest()


class Replay:
    """Ordered events: DML to apply, reads to check at that point."""

    def __init__(self):
        self.events: list[tuple] = []

    def dml(self, entry: tuple) -> None:
        self.events.append(("dml", entry))

    def check(self, label: str, duck_sql: str, cols, rows) -> None:
        self.events.append(("check", label, duck_sql, digest(cols, rows), len(rows)))

    def run(self, final: dict) -> list[str]:
        """Apply every event, then compare ``final`` ({label: (sql, cols,
        rows)}); returns one message per mismatch."""
        con = duckdb.connect()
        try:
            con.execute("SET TimeZone='UTC'")
            con.execute("SET threads=2")
            con.execute(TABLE_DDL)
            bad = []
            for ev in self.events:
                if ev[0] == "dml":
                    self._apply(con, ev[1])
                else:
                    _, label, sql, want, n = ev
                    msg = self._compare(con, label, sql, want, n)
                    if msg:
                        bad.append(msg)
            for label, (sql, cols, rows) in final.items():
                msg = self._compare(con, label, sql, digest(cols, rows), len(rows))
                if msg:
                    bad.append(msg)
            return bad
        finally:
            con.close()

    @staticmethod
    def _apply(con, entry: tuple) -> None:
        op = entry[0]
        if op == "insert":
            con.execute(f"INSERT INTO metrics {FROM_FILE}", [entry[1]])
        elif op == "upsert":
            con.execute(
                "DELETE FROM metrics USING (" + FROM_FILE + ") u "
                "WHERE metrics.time = u.time AND metrics.device_id = u.device_id",
                [entry[1]],
            )
            con.execute(f"INSERT INTO metrics {FROM_FILE}", [entry[1]])
        elif op == "delete":
            _, dev, lo, hi = entry
            con.execute(
                "DELETE FROM metrics WHERE device_id = ? AND "
                "time >= make_timestamp(?) AND time < make_timestamp(?)",
                [dev, lo, hi],
            )
        else:
            raise ValueError(op)

    @staticmethod
    def _compare(con, label, sql, want, n) -> str:
        cur = con.execute(sql)
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        got = digest(cols, rows)
        if got != want:
            return f"{label}: engine {n} rows vs duckdb {len(rows)} rows, hashes differ"
        return ""
