"""Seeded input generators for the benchmark.

Everything the program reads during a benchmark run comes from here:

* ``write_tables`` writes the ten testdata tables (TPC-H-like star schema,
  ``events``, ``documents``, ``embeddings``) as single parquet files with
  the same column names and physical types as the repository's testdata, at a
  given scale factor.  Row counts depend only on the scale; values depend
  only on the seed.
* ``write_hourly_netcdf`` writes a set of classic NetCDF-3 files, one per
  day with 24 hourly records, through the program's own codec
  (``sources.netcdf3.write_netcdf3``), and returns the generated arrays so
  the output check can recompute daily means with numpy.

All arithmetic is vectorised numpy; one sf0.1 table set takes about a
second to write.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

VOCAB = ["key", "agg", "row", "scan", "slow", "fast", "table", "value",
         "part", "hash", "merge", "batch", "spark", "a", "the", "line",
         "sort", "window", "join", "filter", "group", "order", "query",
         "stream", "vector", "column", "data", "big", "small", "dup",
         "customer"]
_ADJ = ["large", "hot", "blue", "old", "cold", "small", "red", "new"]
_NOUN = ["ring", "bolt", "plate", "gear", "pipe", "nut", "valve", "wire"]
_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
_SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]
_US_PER_DAY = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Money on the cent grid, so sums stay exact in both engines."""
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> list[str]:
    """Word-salad documents over a small vocabulary with a controlled share
    of exact (0.5 %) and one-word-edit near duplicates (5 %), so dedup and
    similarity joins find a stable number of pairs."""
    vocab = np.array(VOCAB)
    lengths = rng.integers(8, 96, n)
    words = vocab[rng.integers(0, len(vocab), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    kind = rng.random(n)
    for k in range(1, n):
        if kind[k] < 0.005:
            texts[k] = texts[int(rng.integers(0, k))]
        elif kind[k] < 0.055:
            src = texts[int(rng.integers(0, k))].split(" ")
            src[int(rng.integers(0, len(src)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[k] = " ".join(src)
    return texts


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables at scale factor ``sf`` under ``out_dir``.
    Returns the row count of each table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    n_users = int(15_000 * sf)
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32())})
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)]})
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)})
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(np.array(_ADJ)[adj], " "),
                              np.array(_NOUN)[noun]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0})
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _US_PER_DAY),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)]})
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype("f8"),
        "l_extendedprice": _cents(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * _US_PER_DAY)})
    ev_ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", ev_ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.0, 560.0, n_ev),
        "props": np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")})
    texts = _documents(rng, n_doc)
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), pa.int64()),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, len(_LANGS), n_doc)],
        "source": np.char.add("src", rng.integers(0, 20, n_doc).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    emb = rng.normal(0.0, 0.12, (n_emb, 64)).astype("f4")
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(emb.ravel(), pa.float32()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())})

    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


@dataclass(frozen=True)
class GridSpec:
    """Shape of the generated hourly NetCDF-3 set: ``n_chunks`` time chunks
    of ``days_per_chunk`` daily files, each file (24, lev, j, i) doubles for
    every variable."""

    n_chunks: int = 4
    days_per_chunk: int = 8
    lev: int = 4
    j: int = 32
    i: int = 64
    variables: tuple = ("temp", "salt")
    start: str = "2001-01-01"

    def day(self, k: int) -> np.datetime64:
        return np.datetime64(self.start, "D") + np.timedelta64(k, "D")

    def file_name(self, k: int) -> str:
        return f"ocean_hr_{str(self.day(k)).replace('-', '')}T0000.nc"


def write_hourly_netcdf(out_dir: str, seed: int, spec: GridSpec) -> dict[str, np.ndarray]:
    """Write ``spec.n_chunks * spec.days_per_chunk`` daily files of hourly
    records under ``out_dir``.  Returns ``{var: array(day, 24, lev, j, i)}``,
    the exact values written, for the output check."""
    from access_mopper_spark.sources.netcdf3 import write_netcdf3

    rng = np.random.default_rng(seed)
    n_days = spec.n_chunks * spec.days_per_chunk
    shape = (n_days, 24, spec.lev, spec.j, spec.i)
    hours = np.arange(24)
    diurnal = np.sin(2 * np.pi * hours / 24.0)[None, :, None, None, None]
    fields = {}
    for k, v in enumerate(spec.variables):
        base = 15.0 + 10.0 * k + rng.normal(0.0, 3.0, (n_days, 1, spec.lev, spec.j, spec.i))
        fields[v] = base + 2.0 * diurnal + rng.normal(0.0, 0.5, shape)
    os.makedirs(out_dir, exist_ok=True)
    epoch = np.datetime64("1970-01-01", "D")
    for d in range(n_days):
        day0 = float((spec.day(d) - epoch) / np.timedelta64(1, "D"))
        variables = {
            "time": (("time",), day0 + hours / 24.0,
                     {"units": "days since 1970-01-01",
                      "calendar": "proleptic_gregorian"}),
            "lev": (("lev",), np.arange(spec.lev, dtype="i4"), {"units": "1"}),
            "j": (("j",), np.arange(spec.j, dtype="i4"), {"units": "1"}),
            "i": (("i",), np.arange(spec.i, dtype="i4"), {"units": "1"}),
        }
        for v in spec.variables:
            variables[v] = (("time", "lev", "j", "i"), fields[v][d], {"units": "degC"})
        write_netcdf3(os.path.join(out_dir, spec.file_name(d)),
                      dims={"time": 24, "lev": spec.lev, "j": spec.j, "i": spec.i},
                      variables=variables,
                      gatts={"title": "perfbench hourly ocean input"},
                      record_dim="time")
    return fields
