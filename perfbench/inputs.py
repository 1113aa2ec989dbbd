"""Seeded inputs for the engine benchmark.

One seed gives one input directory holding the tables the workloads read
(``Workload.tables``), in the layout the registered query builders expect
(``<dir>/<table>.parquet``), plus the text corpus that ``Engine.submit``
reads (``<dir>/corpus/text/part-*.txt``).

- ``documents`` and ``embeddings`` come from the scale-data
  generators in ``tools/gen_scaledata.py``.
- The ``Engine.submit`` word-count corpus is Zipf-shaped documents from
  the same generator, whose ``w<rank>`` tokens are respelled with letters
  only (the reference tokenizer splits on ``[^\\p{L}]+``, so
  digit-bearing tokens would all collapse to ``w``).
- ``customer``, ``orders`` and ``lineitem`` mirror the shape of the sf0.01
  test fixture (uniform keys, 1995-2001 order and ship dates, the same
  categorical domains), generated here so a run reads nothing outside its checkout.

Inputs are cached per seed; generation is never inside a timed region.
"""

from __future__ import annotations

import os
import shutil
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = Path(__file__).resolve().parent.parent
if str(ROOT) not in sys.path:
    sys.path.insert(0, str(ROOT))

from tools.gen_scaledata import (  # noqa: E402
    DOCS_PER_SF,
    VECS_PER_SF,
    gen_documents,
    gen_embeddings,
)

# Table sizes are those of the sf0.01 test fixture; the word-count
# corpus is about 2 MB of text.
STAR_SF = 0.01
N_DOCUMENTS = 500
N_EMBEDDINGS = 500
N_CORPUS_DOCS = 8_000
CORPUS_FILES = 4

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]

_DAY_US = 24 * 3600 * 1_000_000
_DIGITS_TO_LETTERS = str.maketrans("0123456789", "abcdefghij")


def _sf(rows: int, rows_per_sf: int) -> float:
    """The scale factor at which a ``gen_scaledata`` generator makes ``rows`` rows."""
    return (rows + 0.5) / rows_per_sf


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _dates(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, size=n) * _DAY_US


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size=n), 2)


def star_tables(seed: int, sf: float = STAR_SF) -> dict[str, pa.Table]:
    """customer, orders and lineitem: the star-schema tables the workloads read.
    lineitem's part and supplier keys span the fixture's key ranges."""
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    ts = pa.timestamp("us")

    customer = pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)],
    })
    orders = pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[s] for s in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": pa.array(_dates(rng, n_ord, "1995-01-01", "2001-08-01"), ts),
        "o_orderpriority": [PRIORITIES[p] for p in rng.integers(0, 5, n_ord)],
    })
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": [("A", "N", "R")[f] for f in rng.integers(0, 3, n_line)],
        "l_linestatus": [("F", "O")[s] for s in rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(_dates(rng, n_line, "1995-01-02", "2001-11-04"), ts),
    })
    return {"customer": customer, "orders": orders, "lineitem": lineitem}


def _write_lines(dest: Path, lines: list[str]) -> None:
    """Split ``lines`` over CORPUS_FILES text files in ``dest``."""
    dest.mkdir(parents=True)
    step = -(-len(lines) // CORPUS_FILES)
    for i in range(CORPUS_FILES):
        chunk = lines[i * step : (i + 1) * step]
        (dest / f"part-{i:04d}.txt").write_text("".join(f"{l}\n" for l in chunk))


def corpus(seed: int, dest: Path) -> None:
    """The ``Engine.submit`` input: word-count text files."""
    docs = gen_documents(_sf(N_CORPUS_DOCS, DOCS_PER_SF), _rng(seed, 5), zipf=True)
    _write_lines(
        dest / "text",
        [t.translate(_DIGITS_TO_LETTERS) for t in docs.column("text").to_pylist()],
    )


def generate(seed: int, dest: Path) -> None:
    """Write every table and corpus for ``seed`` into the new directory ``dest``."""
    dest.mkdir(parents=True)
    tables = star_tables(seed)
    tables["documents"] = gen_documents(_sf(N_DOCUMENTS, DOCS_PER_SF), _rng(seed, 3))
    tables["embeddings"] = gen_embeddings(_sf(N_EMBEDDINGS, VECS_PER_SF), _rng(seed, 4))
    for name, table in tables.items():
        pq.write_table(table, dest / f"{name}.parquet")
    corpus(seed, dest / "corpus")


def ensure(seed: int, cache: Path) -> Path:
    """The input directory for ``seed`` under ``cache``, generated once."""
    final = cache / f"seed-{seed}"
    if final.is_dir():
        return final
    tmp = cache / f".seed-{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    generate(seed, tmp)
    tmp.rename(final)
    return final


def table_rows(input_dir: Path, names: list[str]) -> int:
    return sum(pq.ParquetFile(input_dir / f"{n}.parquet").metadata.num_rows for n in names)
