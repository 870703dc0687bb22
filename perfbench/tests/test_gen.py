"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402


def _tables(path):
    import pyarrow.parquet as pq

    return {t: pq.read_table(os.path.join(path, f"{t}.parquet")) for t in gen.TABLES}


def test_same_seed_same_tables_other_seed_other_values(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows = gen.write_tables(a, 7, 0.001)
    assert gen.write_tables(b, 7, 0.001) == rows == gen.write_tables(c, 8, 0.001)
    ta, tb, tc = _tables(a), _tables(b), _tables(c)
    assert all(ta[t].equals(tb[t]) for t in gen.TABLES)
    assert not ta["lineitem"].equals(tc["lineitem"])
    assert not ta["documents"].equals(tc["documents"])


def test_hourly_netcdf_round_trips_through_the_codec(tmp_path):
    from access_mopper_spark.sources.netcdf3 import read_netcdf3

    spec = gen.GridSpec(n_chunks=1, days_per_chunk=2, lev=2, j=3, i=4)
    fields = gen.write_hourly_netcdf(str(tmp_path), 3, spec)
    again = gen.write_hourly_netcdf(str(tmp_path / "again"), 3, spec)
    assert all(np.array_equal(fields[v], again[v]) for v in spec.variables)
    dims, _, variables = read_netcdf3(str(tmp_path / spec.file_name(1)))
    assert dims == {"time": 24, "lev": 2, "j": 3, "i": 4}
    assert np.array_equal(variables["salt"]["data"], fields["salt"][1])
    hours = np.round((variables["time"]["data"] % 1) * 24)
    assert np.array_equal(hours, np.arange(24))
