"""Seeded input generator for the benchmark (NumPy + pyarrow, no Spark).

Two kinds of input:

* ``make_tables`` writes the ten parquet tables the registered queries read
  (the TPC-H-ish star schema, ``events``, ``documents`` and ``embeddings``),
  with the schemas and value distributions of the project's synthetic test
  data. The tables depend only on the scale factor and ``GEN_VERSION``, so
  they are generated once per checkout, cached, and verified by checksum on
  every later run.
* ``make_writer_inputs`` turns ``lineitem`` into the writer's CLI inputs: a
  sliced, headerless gzip-CSV manifest for the full load, and an incremental
  manifest whose updated and new keys are chosen by the run's seed. The
  writer table carries a unique surrogate key ``l_key``: Keboola Storage
  exports are unique on their primary key, and ``(l_orderkey,
  l_linenumber)`` is not unique in the generated ``lineitem``.

Run standalone to (re)build the cache: ``python3 perfbench/gen.py [sf]``.
"""

from __future__ import annotations

import gzip
import hashlib
import io
import json
import os
import shutil
import sys
from datetime import date, datetime

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: Bump whenever the generated data changes; it keys the on-disk cache and
#: the recorded result digests in ``expected.json``.
GEN_VERSION = 2
DATA_SEED = 42

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _days(lo: date, hi: date, n: int, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - base).astype(int)
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _ids(n: int) -> pa.Array:
    return pa.array(np.arange(n, dtype=np.int64))


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1500, round(1_500_000 * sf)),
        "lineitem": max(6000, round(6_000_000 * sf)),
        "events": max(1000, round(1_000_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        # at least sf0.1's row count: below it dedup_embedding_lsh skips
        # one of its size-dependent eager build-phase jobs
        "embeddings": max(2000, round(20_000 * sf)),
    }


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_WORDS)
    lengths = rng.integers(10, 101, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k : e]) for e, k in zip(ends, lengths)]
    # ~5% near-duplicates (another document plus one word) and a handful of
    # exact copies, so every dedup tier has work to find.
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    for i in rng.choice(n, max(2, n // 600), replace=False):
        texts[i] = texts[int(rng.integers(0, n))]
    return pa.table(
        {
            "doc_id": _ids(n),
            "text": pa.array(texts),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    x = rng.standard_normal((n, dim)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), pa.array(x.ravel())
    )
    return pa.table(
        {
            "vec_id": _ids(n),
            "embedding": emb,
            "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
        }
    )


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(DATA_SEED)
    n = table_sizes(sf)
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": _ids(nc),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(
                rng, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc
            ),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": _ids(ns),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
        }
    )
    adj = ["blue", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
    out["part"] = pa.table(
        {
            "p_partkey": _ids(npart),
            "p_name": pa.array(
                [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 7, (npart, 2))]
            ),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(
                rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], npart
            ),
            "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
            "p_retailprice": pa.array(
                np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)
            ),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": _ids(no),
            "o_custkey": pa.array(rng.integers(0, nc, no)),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
            "o_orderdate": pa.array(
                _days(date(1995, 1, 1), date(2001, 8, 1), no, rng).astype("datetime64[us]")
            ),
            "o_orderpriority": _pick(
                rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no
            ),
        }
    )
    nl = n["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl)),
            "l_partkey": pa.array(rng.integers(0, npart, nl)),
            "l_suppkey": pa.array(rng.integers(0, ns, nl)),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype(np.int32)),
            "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, nl), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, nl), 2)),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": pa.array(
                _days(date(1995, 1, 2), date(2001, 11, 4), nl, rng).astype("datetime64[us]")
            ),
        }
    )
    ne = n["events"]
    start = np.datetime64(datetime(2024, 1, 1), "us")
    ts = np.sort(start + rng.integers(0, 30 * 86400 * 10**6, ne).astype("timedelta64[us]"))
    out["events"] = pa.table(
        {
            "event_id": _ids(ne),
            "ts": pa.array(ts),
            "user_id": pa.array(rng.integers(0, max(150, ne // 66), ne)),
            "event_type": _pick(rng, ["click", "error", "purchase", "signup", "view"], ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    out["documents"] = _documents(rng, n["documents"])
    out["embeddings"] = _embeddings(rng, n["embeddings"])
    return out


def _sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as fh:
        for block in iter(lambda: fh.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


def _verified(d: str) -> bool:
    try:
        with open(os.path.join(d, "checksums.json"), encoding="utf-8") as fh:
            sums = json.load(fh)
    except (OSError, ValueError):
        return False
    return sorted(sums) == sorted(os.listdir(d)) and all(
        _sha256(os.path.join(d, f)) == s for f, s in sums.items() if f != "checksums.json"
    )


def make_tables(cache_root: str, sf: float) -> str:
    """Return a directory holding the ten parquet tables for ``sf``,
    generating them unless a checksum-verified copy is already cached."""
    d = os.path.join(cache_root, f"tables-v{GEN_VERSION}-sf{sf:g}")
    if _verified(d):
        return d
    tmp = f"{d}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    sums = {}
    for name, table in build_tables(sf).items():
        path = os.path.join(tmp, f"{name}.parquet")
        pq.write_table(table, path)
        sums[os.path.basename(path)] = _sha256(path)
    sums["checksums.json"] = ""
    with open(os.path.join(tmp, "checksums.json"), "w", encoding="utf-8") as fh:
        json.dump(sums, fh, indent=1, sort_keys=True)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d


# -- writer inputs ------------------------------------------------------------

#: Declared writer schema, in CSV column order (name, Keboola type, size).
WRITER_COLUMNS = [
    ("l_key", "bigint", ""),
    ("l_orderkey", "bigint", ""),
    ("l_partkey", "bigint", ""),
    ("l_suppkey", "bigint", ""),
    ("l_linenumber", "int", ""),
    ("l_quantity", "decimal", "12,2"),
    ("l_extendedprice", "decimal", "12,2"),
    ("l_discount", "decimal", "12,2"),
    ("l_tax", "decimal", "12,2"),
    ("l_returnflag", "varchar", "1"),
    ("l_linestatus", "varchar", "1"),
    ("l_shipdate", "date", ""),
]
WRITER_TABLE = "lineitem"
FULL_SLICES = 8
INCR_SLICES = 4


def _writer_frame(lineitem: pa.Table) -> pa.Table:
    """``lineitem`` with the unique surrogate key in front and the writer's
    declared value types (decimals and a date, as the CSV will carry)."""
    dec = pa.decimal128(12, 2)
    cols = {"l_key": _ids(lineitem.num_rows)}
    for name, _, _ in WRITER_COLUMNS[1:]:
        col = lineitem.column(name)
        if name in ("l_quantity", "l_extendedprice", "l_discount", "l_tax"):
            col = col.cast(dec)
        elif name == "l_shipdate":
            col = col.cast(pa.date32())
        cols[name] = col
    return pa.table(cols)


def _write_slices(table: pa.Table, dirpath: str, stem: str, slices: int) -> list[str]:
    paths = []
    step = -(-table.num_rows // slices)
    for i in range(slices):
        part = table.slice(i * step, step)
        buf = io.BytesIO()
        pacsv.write_csv(part, buf, pacsv.WriteOptions(include_header=False))
        path = os.path.join(dirpath, f"{stem}.part{i:02d}.csv.gz")
        with open(path, "wb") as raw, gzip.GzipFile(
            filename="", mode="wb", fileobj=raw, compresslevel=1, mtime=0
        ) as gz:
            gz.write(buf.getvalue())
        paths.append(path)
    return paths


def _write_load_dir(data_dir: str, slices: list[str], incremental: bool) -> None:
    tables_dir = os.path.join(data_dir, "in", "tables")
    os.makedirs(tables_dir, exist_ok=True)
    manifest = {"entries": [{"url": "file://" + os.path.abspath(p)} for p in slices]}
    with open(os.path.join(tables_dir, f"{WRITER_TABLE}.csv.manifest"), "w") as fh:
        json.dump(manifest, fh)
    names = [c for c, _, _ in WRITER_COLUMNS]
    config = {
        "parameters": {
            "db": {"host": "local", "#password": "unused", "user": "bench"},
            "tables": [
                {
                    "tableId": WRITER_TABLE,
                    "dbName": WRITER_TABLE,
                    "export": True,
                    "incremental": incremental,
                    "primaryKey": ["l_key"],
                    "items": [
                        {"name": c, "dbName": c, "type": t, "size": s}
                        for c, t, s in WRITER_COLUMNS
                    ],
                }
            ],
        },
        "storage": {"input": {"tables": [{"source": WRITER_TABLE, "columns": names}]}},
    }
    with open(os.path.join(data_dir, "config.json"), "w") as fh:
        json.dump(config, fh, indent=1)


def make_writer_inputs(tables_dir: str, cache_root: str, run_dir: str, seed: int) -> dict:
    """Stage the full-load and incremental CLI data directories under
    ``run_dir``. The full-load slices are seed-independent and cached beside
    the tables; the incremental slices are drawn from ``seed``: 10% of the
    keys get new values, and 1% new keys are appended."""
    full = _writer_frame(pq.read_table(os.path.join(tables_dir, "lineitem.parquet")))
    n = full.num_rows
    slices_dir = os.path.join(cache_root, os.path.basename(tables_dir) + "-csv")
    slices = [
        os.path.join(slices_dir, f"full.part{i:02d}.csv.gz") for i in range(FULL_SLICES)
    ]
    if not _verified(slices_dir):
        tmp = f"{slices_dir}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        written = _write_slices(full, tmp, "full", FULL_SLICES)
        sums = {os.path.basename(p): _sha256(p) for p in written}
        sums["checksums.json"] = ""
        with open(os.path.join(tmp, "checksums.json"), "w") as fh:
            json.dump(sums, fh)
        shutil.rmtree(slices_dir, ignore_errors=True)
        os.replace(tmp, slices_dir)

    rng = np.random.default_rng(seed)
    n_upd, n_new = n // 10, n // 100
    upd = np.sort(rng.choice(n, n_upd, replace=False))
    changed = full.take(pa.array(upd))
    fresh = full.take(pa.array(rng.integers(0, n, n_new)))
    fresh = fresh.set_column(0, "l_key", _ids(n_new + n).slice(n))
    incr = pa.concat_tables([changed, fresh])
    m = incr.num_rows
    dec = pa.decimal128(12, 2)
    incr = incr.set_column(
        5, "l_quantity", pa.array(rng.integers(1, 51, m).astype(np.float64)).cast(dec)
    )
    incr = incr.set_column(
        6, "l_extendedprice", pa.array(_money(rng, 900.0, 105000.0, m)).cast(dec)
    )
    incr = incr.set_column(9, "l_returnflag", _pick(rng, ["A", "N", "R"], m))
    incr = incr.set_column(
        11, "l_shipdate", pa.array(_days(date(1995, 1, 2), date(2001, 11, 4), m, rng))
    )
    incr = incr.take(pa.array(rng.permutation(m)))
    incr_dir = os.path.join(run_dir, "incr_slices")
    os.makedirs(incr_dir, exist_ok=True)
    incr_slices = _write_slices(incr, incr_dir, "incr", INCR_SLICES)

    full_dir, incr_data = os.path.join(run_dir, "full"), os.path.join(run_dir, "incr")
    _write_load_dir(full_dir, slices, incremental=False)
    _write_load_dir(incr_data, incr_slices, incremental=True)
    return {
        "lookup_key": int(upd[n_upd // 2]),
        "full_dir": full_dir,
        "incr_dir": incr_data,
        "full_slices": slices,
        "incr_slices": incr_slices,
        "rows_full": n,
        "rows_updated": n_upd,
        "rows_new": n_new,
        "bytes_full": sum(os.path.getsize(p) for p in slices),
        "bytes_incr": sum(os.path.getsize(p) for p in incr_slices),
    }


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    scale = float(sys.argv[1]) if len(sys.argv) > 1 else 0.1
    print(make_tables(os.path.join(here, ".work", "data"), scale))
