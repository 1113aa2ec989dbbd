"""Output checks: every operation's result against an oracle on the same
input, compared as an order-insensitive multiset digest.

- Registered queries are compared with their DuckDB oracle
  (``__spark_entry__.oracle_sql()``) through the cell normalisation of
  ``tests/test_oracle_parity.py``: exact string forms, column order and
  row order ignored.
- ``Engine.submit`` jobs are checked by reading their part files back and
  comparing with the reference semantics computed here in Python.

The checks run outside every timed region.
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter
from pathlib import Path

from tests.test_oracle_parity import _multiset


def digest(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: column names and the multiset
    of normalised rows, both independent of order."""
    cols = [c.lower() for c in columns]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    payload = repr((sorted(cols), sorted(_multiset(rows, order).items())))
    return hashlib.sha256(payload.encode()).hexdigest()


def _lines_digest(lines) -> str:
    return digest(["value"], [(line,) for line in lines])


# --- Engine.submit jobs ---------------------------------------------------

def read_output(out_dir: Path) -> str:
    """Digest of the part files a submit job wrote."""
    lines = []
    for part in sorted(out_dir.glob("part-*")):
        lines.extend(part.read_text().splitlines())
    return _lines_digest(lines)


def _corpus_lines(corpus_dir: Path):
    for path in sorted(corpus_dir.glob("part-*.txt")):
        yield from path.read_text().splitlines()


def expected_output(job: str, corpus_dir: Path) -> str:
    """Digest of the reference output of ``job`` over ``corpus_dir``."""
    if job == "wc":  # the corpus is ASCII, so [^a-z] is the job's [^\p{L}]
        counts = Counter(
            w for line in _corpus_lines(corpus_dir)
            for w in re.split(r"[^a-z]+", line.lower()) if w
        )
        return _lines_digest(f"{w} {n}" for w, n in counts.items())
    raise KeyError(job)


# --- registered queries: DuckDB oracles ----------------------------------

def oracle_digests(names, input_dir: Path) -> dict[str, str]:
    """DuckDB oracle digest of each query in ``names`` over ``input_dir``."""
    import duckdb

    import __spark_entry__ as entry

    sql = entry.oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for table in input_dir.glob("*.parquet"):
            con.execute(
                f"CREATE VIEW {table.stem} AS SELECT * FROM read_parquet('{table}')"
            )
        out = {}
        for name in names:
            res = con.execute(sql[name])
            out[name] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


def count_failures(executions, expected: dict[str, str]) -> tuple[int, list[str]]:
    """Executions that raised or whose digest differs from ``expected``.

    ``executions`` holds dicts with ``op``, ``digest`` and ``error``."""
    problems = []
    for ex in executions:
        if ex["error"]:
            problems.append(f"{ex['op']}: raised {ex['error']}")
        elif ex["digest"] != expected[ex["op"]]:
            problems.append(f"{ex['op']}: result differs from its oracle")
    return len(problems), problems
