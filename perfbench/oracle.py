"""Output check against the DuckDB oracle, as tools/driver_sim.py does it.

An op's output matches when its row count, sorted column names and
order-insensitive multiset of canonicalised rows equal those of the
op's oracle SQL run by DuckDB over the same parquet files. The
canonical cell form is the strict one of tools/driver_sim.py: floats
keep their floatness, NaN reads as NULL, signed zero is folded,
decimals compare as floats and timestamps as ISO strings.
"""

from __future__ import annotations

import math
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np


def canon(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return "<NULL>"
        return repr(0.0 if f == 0.0 else f)
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, Decimal):
        return canon(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    s = str(v)
    return "<NULL>" if s == "NaT" else s


def signature(pdf) -> tuple[int, tuple[str, ...], Counter]:
    cols = sorted(pdf.columns)
    rows = Counter(
        tuple(canon(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    return len(pdf), tuple(cols), rows


def mismatch(spark_pdf, oracle_pdf) -> str | None:
    """None when the two frames match, else a one-line reason."""
    ns, cs, rs = signature(spark_pdf)
    nd, cd, rd = signature(oracle_pdf)
    if ns != nd:
        return f"rows {ns} vs oracle {nd}"
    if cs != cd:
        return f"columns {cs} vs oracle {cd}"
    if rs != rd:
        return f"values differ, e.g. {list((rs - rd).items())[:1]}"[:300]
    return None


class Oracle:
    """DuckDB connection with every catalog table registered as a view
    over the benchmark's generated parquet files."""

    def __init__(self, data_dir: str, tables: list[str]):
        self.con = duckdb.connect()
        for t in tables:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )

    def query(self, sql: str):
        return self.con.execute(sql).df()

    def close(self) -> None:
        self.con.close()
