"""Output check: each op's rows against the registry's DuckDB oracle
over the same parquet, with ``scripts/check_entry.py``'s own
normalisation (floats rounded to 5 places, NaN as a token, timestamps
to the second, order ignored). Import with the repository root on
``sys.path``."""

from __future__ import annotations

from scripts.check_entry import TABLES, norm


def _sorted(rows) -> list:
    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


class Oracle:
    def __init__(self, data_dir: str, tables=TABLES):
        import duckdb

        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")

    def close(self) -> None:
        self.con.close()

    def compare(self, sql: str, cols: list[str], rows: list) -> str | None:
        """None when ``rows`` match the oracle, else what differs."""
        res = self.con.execute(sql)
        want_cols = [d[0].lower() for d in res.description]
        want = res.fetchall()
        if [c.lower() for c in cols] != want_cols:
            return f"columns {cols} != {want_cols}"
        if len(rows) != len(want):
            return f"row count {len(rows)} != {len(want)}"
        got_s, want_s = _sorted(rows), _sorted(want)
        if got_s != want_s:
            diff = next((g, w) for g, w in zip(got_s, want_s) if g != w)
            return f"values differ, e.g. {diff}"
        return None
