"""Output checks: every query result against its DuckDB oracle on the
same parquet, plus the rows-only invariant of q40.

Results compare order-insensitively over columns sorted by name, with
the value normalisation of ``tools/check_parity.py``: a digest of the
sorted, normalised rows must match, and so must the column names and
the row count.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
from dataclasses import dataclass, field


def normalize(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(normalize(x) for x in v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def _sort_key(row):
    return tuple((x is None, str(type(x)), str(x)) for x in row)


def canonical(columns: list[str], rows) -> tuple[list[str], str, int]:
    """``(sorted column names, digest of sorted normalised rows, count)``."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    norm = sorted((tuple(normalize(r[i]) for i in order) for r in rows), key=_sort_key)
    h = hashlib.sha256()
    for r in norm:
        h.update(repr(r).encode())
        h.update(b"\n")
    return cols, h.hexdigest(), len(norm)


def compare(actual: tuple[list[str], str, int], expected: tuple[list[str], str, int]) -> str | None:
    """None when two ``canonical`` forms are equal, else how they differ."""
    a_cols, a_hash, a_n = actual
    e_cols, e_hash, e_n = expected
    if a_cols != e_cols:
        return f"columns differ: {a_cols} vs oracle {e_cols}"
    if a_n != e_n:
        return f"row count {a_n} vs oracle {e_n}"
    if a_hash != e_hash:
        return "values differ from the oracle"
    return None


def files_digest(data_dir: str) -> str:
    """Digest of every file's name and bytes under ``data_dir``."""
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def oracle_canonical(con, sql: str, data_key: str, cache_dir: str) -> tuple[list[str], str, int]:
    """``canonical`` form of an oracle's answer, cached on disk by the
    SQL text and the input files' digest: the answer is a pure function
    of both, and some oracles take seconds in DuckDB."""
    key = hashlib.sha256(f"{data_key}\n{sql}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"oracle-{key}.json")
    try:
        with open(path) as f:
            cols, digest, n = json.load(f)
        return cols, digest, n
    except (OSError, ValueError):
        pass
    res = con.execute(sql)
    canon = canonical([d[0] for d in res.description], res.fetchall())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(canon, f)
    os.replace(tmp, path)
    return canon


def check_stream_replay(rows, event_ids: set[int]) -> str | None:
    """q40: every event exactly once, each with status 'ok'."""
    seen = [r["event_id"] for r in rows]
    if len(seen) != len(event_ids) or set(seen) != event_ids:
        return f"{len(seen)} rows for {len(event_ids)} events ({len(set(seen))} distinct)"
    bad = sum(1 for r in rows if r["status"] != "ok")
    return f"{bad} rows with status != 'ok'" if bad else None


@dataclass
class Tally:
    """Operations attempted and failed; a failure is an operation that
    raised or whose output was wrong."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def add(self, attempted: int = 1, failed: int = 0, what: str = "") -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.failures.append(what)

    def wrong_output(self, what: str) -> None:
        """An operation already counted as attempted produced a wrong
        result."""
        self.failed += 1
        self.failures.append(what)

    @property
    def error_rate(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0
