"""Output checks: row fingerprints against the DuckDB oracles.

Rows are normalised the way the repo's oracle tests do it (columns in
name order, doubles to 6 significant digits, timestamps as ISO text,
rows sorted), then hashed. Each op's Spark output is compared with the
fingerprint of its ``queries.oracle_sql()`` twin, evaluated by DuckDB
over the same parquet files, outside any timed window.
"""

from __future__ import annotations

import hashlib
import math
import os


def _norm_value(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return 0.0 if v == 0 else float(f"{v:.6g}")
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    return v


def fingerprint(cols: list[str], rows) -> tuple[int, str]:
    """(row count, sha1 of the normalised, sorted rows)."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        (tuple(_norm_value(r[i]) for i in order) for r in rows),
        key=lambda t: tuple((x is not None, str(x)) for x in t),
    )
    h = hashlib.sha1(repr([cols[i] for i in order]).encode())
    for t in norm:
        h.update(repr(t).encode())
    return len(norm), h.hexdigest()


class Oracle:
    """DuckDB views over the generated tables; fingerprints by op."""

    def __init__(self, data_dir: str, tables) -> None:
        import duckdb

        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        for t in tables:
            path = os.path.join(data_dir, f"{t}.parquet")
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )

    def scalar(self, sql: str):
        return self.con.execute(sql).fetchone()[0]

    def fingerprint(self, sql: str) -> tuple[int, str]:
        res = self.con.execute(sql)
        cols = [d[0] for d in res.description]
        return fingerprint(cols, res.fetchall())

    def close(self) -> None:
        self.con.close()
