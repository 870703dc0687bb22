"""The benchmark workloads.

Each workload is a closed loop: one client (this process) issues ops back
to back on one ``local[N]`` session.  A workload provides

* ``setup()``   input generation (repeated, median reported) and one
                untimed warm pass at benchmark scale;
* ``passes()``  the op list of each timed pass (seed-permuted);
* ``run_op()``  one op, with spans around each layer call;
* ``check()``   the output check, outside the timed region.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil
import statistics
import time

import numpy as np

import gen
from spans import Tracer, clean_session

CURATION = ["q_text_quality", "q_pii_redact", "q_html_strip", "q_simhash",
            "q_minhash_band", "q_dup_ngrams", "q_near_dup_pairs",
            "q_similarity_join_exact", "q_bm25_topk", "q_pagerank"]
#: scale factor of the generated tables the curation queries read
CURATION_SF = 0.01
GEN_REPS = 3
_FROM = re.compile(r"\b(?:FROM|JOIN)\s+([A-Za-z_]+)", re.IGNORECASE)


class Op:
    """One timed operation and what it reported."""

    def __init__(self, op_id: str, kind: str):
        self.op_id = op_id
        self.kind = kind          # query name, or the cmorise derivation
        self.wall_s = 0.0
        self.t0 = self.t1 = 0.0   # epoch seconds, for the status store
        self.build_s = 0.0
        self.execute_s = 0.0
        self.input_bytes = 0
        self.ok = True
        self.error = ""
        self.extra: dict = {}


def _timed_median(fn, reps: int):
    """Run ``fn`` ``reps`` times; return (median seconds, last result)."""
    times, out = [], None
    for _ in range(reps):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return statistics.median(times), out


class Curation:
    """``curation``: the text-curation registry queries over generated
    tables, forced with the noop sink the way ``bench.py`` forces them."""

    def __init__(self, spark, work: str, cache_dir: str, seed: int, tracer: Tracer):
        from access_mopper_spark.queries import ORACLES, QUERIES

        self.queries, self.sf = CURATION, CURATION_SF
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.fns = {q: QUERIES[q] for q in CURATION}
        self.oracles = {q: ORACLES[q] for q in CURATION}
        self.data = os.path.join(work, f"tables_sf{CURATION_SF}")
        self.cache_dir = cache_dir
        self.rng = random.Random(seed)
        self.warm_rows: dict = {}
        # the tables a query reads are the ones its oracle reads
        self.reads = {q: sorted({t.lower() for t in _FROM.findall(self.oracles[q])}
                                & set(gen.TABLES)) for q in CURATION}
        self.input_bytes: dict[str, int] = {}

    def setup(self) -> dict:
        gen_s, _ = _timed_median(lambda: gen.write_tables(self.data, self.seed, self.sf), GEN_REPS)
        size = {t: os.path.getsize(os.path.join(self.data, f"{t}.parquet")) for t in gen.TABLES}
        self.input_bytes = {q: sum(size[t] for t in self.reads[q]) for q in self.queries}
        t = time.perf_counter()
        # the warm pass collects, so its results double as the values the
        # output check compares against the oracle
        for q in self.queries:
            try:
                df = self.fns[q](self.spark, self.data)
                self.warm_rows[q] = (df.columns, df.collect())
            except Exception as ex:  # a failing query fails its ops, not the run
                self.warm_rows[q] = ex
            clean_session(self.spark)
        return {"gen_s": gen_s, "warm_s": time.perf_counter() - t}

    def passes(self):
        while True:
            order = list(self.queries)
            self.rng.shuffle(order)
            yield order

    @staticmethod
    def op_kind(q: str) -> str:
        return q

    def check_op(self, q: str, op: Op) -> None:
        """Query results are checked once per run, by ``check``."""

    def run_op(self, q: str, op: Op) -> None:
        sc = self.spark.sparkContext
        sc.setJobGroup(op.op_id, f"curation:{q}")
        op.input_bytes = self.input_bytes[q]
        op.t0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("build"):
                df = self.fns[q](self.spark, self.data)
            t1 = time.perf_counter()
            with self.tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            op.build_s, op.execute_s = t1 - t0, t2 - t1
        except Exception as ex:
            op.ok, op.error = False, f"{type(ex).__name__}: {ex}"[:300]
        op.wall_s = time.perf_counter() - t0
        op.t1 = time.time()
        sc.setJobGroup("", "")

    def check(self) -> dict[str, str]:
        """Compare every query's warm-pass result with its DuckDB oracle
        (canonicalised by ``tools/check_correctness.frame_repr``).  Returns
        {query: problem} for the queries that fail."""
        from check_correctness import connect_oracle, frame_repr

        problems = {}
        con = None
        os.makedirs(self.cache_dir, exist_ok=True)
        for q in self.queries:
            got = self.warm_rows.get(q)
            if isinstance(got, Exception) or got is None:
                problems[q] = f"spark error: {got}"
                continue
            cols, rows = frame_repr(*got)
            mine = _digest(cols, rows)
            key = hashlib.sha256(json.dumps(
                [q, self.oracles[q], self.seed, self.sf, _GEN_VERSION]).encode()).hexdigest()[:24]
            path = os.path.join(self.cache_dir, f"{key}.json")
            if os.path.exists(path):
                with open(path) as f:
                    want = json.load(f)
            else:
                if con is None:
                    con = connect_oracle(self.data)
                res = con.execute(self.oracles[q])
                dcols, drows = frame_repr([d[0] for d in res.description], res.fetchall())
                want = {"digest": _digest(dcols, drows), "rows": len(drows)}
                with open(path + ".tmp", "w") as f:
                    json.dump(want, f)
                os.replace(path + ".tmp", path)
            if want["digest"] != mine:
                problems[q] = f"result differs from oracle ({len(rows)} rows vs {want['rows']})"
        if con is not None:
            con.close()
        return problems


def _digest(cols, rows) -> str:
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()


def _read_source(path: str) -> bytes:
    with open(path, "rb") as f:
        return f.read()


_GEN_VERSION = hashlib.sha256(_read_source(gen.__file__)).hexdigest()[:16]


# ---------------------------------------------------------------- cmorise

#: filelist derivations: (calc string, input variables)
DERIVATIONS = [("var[0]", ["temp"]), ("var[0] - 0.5*var[1]", ["temp", "salt"])]
CMOR_ATTRS = {"source_id": "SPARK-GRAFT", "source": "access_mopper_spark",
              "experiment_id": "perfbench", "frequency": "day", "realm": "ocean",
              "calendar": "proleptic_gregorian", "table_id": "Oday",
              "variant_label": "r1i1p1f1"}


class Cmorise:
    """The reference's own job: one op is one filelist row (variable,
    table, time chunk).  It prunes the hourly NetCDF-3 file set to the
    chunk by filename stamp, decodes it, derives the variable, resamples
    1 hr -> 1 day and writes one CV-validated NetCDF-3 file per day."""

    def __init__(self, spark, work: str, seed: int, tracer: Tracer,
                 spec: gen.GridSpec = gen.GridSpec()):
        self.spark, self.seed, self.tracer, self.spec = spark, seed, tracer, spec
        self.nc_dir = os.path.join(work, "nc_in")
        self.out_root = os.path.join(work, "nc_out")
        self.rng = random.Random(seed)
        self.fields: dict[str, np.ndarray] = {}
        self.paths: list[str] = []
        self.files_df = None
        self.warm_failures = 0

    # -- inputs
    def setup(self) -> dict:
        gen_s, self.fields = _timed_median(
            lambda: gen.write_hourly_netcdf(self.nc_dir, self.seed, self.spec), GEN_REPS)
        n_days = self.spec.n_chunks * self.spec.days_per_chunk
        self.paths = [os.path.join(self.nc_dir, self.spec.file_name(d)) for d in range(n_days)]
        t = time.perf_counter()
        # relative paths: the program hash-partitions the path list, so the
        # files each task decodes must not depend on where the checkout is
        self.files_df = self.spark.createDataFrame([(os.path.relpath(p),) for p in self.paths],
                                                   ["path"])
        # warm-up: one whole pass, each op checked like a timed op.  Ops keep
        # getting faster for about six ops after the JVM starts, so one op
        # of each derivation is too few.
        for row in next(self.passes()):
            op = Op(f"warm-{row[0]}-{row[1]}", self.op_kind(row))
            self.run_op(row, op)
            self.check_op(row, op)
            self.warm_failures += not op.ok
            clean_session(self.spark)
        return {"gen_s": gen_s, "warm_s": time.perf_counter() - t}

    def passes(self):
        """A pass is every filelist row (chunk x derivation) once: the
        derivations alternate, the chunks come in a seed-permuted order.
        Every pass does the same work, because the program spreads a
        chunk's files over tasks unevenly and differently per chunk."""
        while True:
            orders = [self.rng.sample(range(self.spec.n_chunks), self.spec.n_chunks)
                      for _ in DERIVATIONS]
            yield [(orders[d][k], d) for k in range(self.spec.n_chunks)
                   for d in range(len(DERIVATIONS))]

    @staticmethod
    def op_kind(row) -> str:
        return f"deriv{row[1]}"

    def check(self) -> dict[str, str]:
        """Every op is checked as it ends (``check_op``); this reports the
        warm pass."""
        return {"warm pass": f"{self.warm_failures} ops failed"} if self.warm_failures else {}

    def chunk_bounds(self, chunk: int) -> tuple[str, str, list[int]]:
        d0 = chunk * self.spec.days_per_chunk
        days = list(range(d0, d0 + self.spec.days_per_chunk))
        return (str(self.spec.day(days[0])) + " 00:00:00",
                str(self.spec.day(days[-1])) + " 00:00:00", days)

    # -- the op, as layer calls
    def build(self, row, op: Op, upto: str = "write"):
        """Build the op's plan up to layer ``upto`` (scan|calc|resample|write)."""
        from pyspark.sql import functions as F

        from access_mopper_spark.functions.calc_dsl import CalcContext, compile_calc
        from access_mopper_spark.operators.resample import time_resample
        from access_mopper_spark.sinks.writer import write_netcdf3_dataset
        from access_mopper_spark.sources.netcdf_io import nc3_opener, scan_netcdf

        chunk, deriv = row
        calc, invars = DERIVATIONS[deriv]
        tstart, tend, _ = self.chunk_bounds(chunk)
        out_var = "tos" if deriv == 0 else "sst"
        with self.tracer.span("scan"):
            df = scan_netcdf(self.files_df, invars, tstart, tend, opener=nc3_opener)
        if upto == "scan":
            return df
        with self.tracer.span("calc"):
            with self.tracer.span("compile"):
                plan = compile_calc(calc, CalcContext(dim_cols=["time", "lev", "j", "i"],
                                                      var_cols=invars))
            df = plan.apply(df)
        if upto == "calc":
            return df
        with self.tracer.span("resample"):
            df = time_resample(df, "time", "1 day", aggs=[F.mean("value").alias(out_var)],
                               group_cols=["lev", "j", "i"], closed="left", label="left")
        if upto == "resample":
            return df
        with self.tracer.span("write"):
            keyed = df.withColumn("__fk", F.concat(F.lit(f"{out_var}_Oday_"),
                                                   F.date_format("time", "yyyyMMdd")))
            return write_netcdf3_dataset(
                keyed.select("__fk", "time", "lev", "j", "i", out_var),
                out_dir=os.path.join(self.out_root, op.op_id), file_col="__fk",
                var_cols=[out_var], attrs=CMOR_ATTRS,
                path_template="{source_id}/{frequency}", cv=True)

    def run_op(self, row, op: Op) -> None:
        sc = self.spark.sparkContext
        chunk, _ = row
        _, _, days = self.chunk_bounds(chunk)
        op.input_bytes = sum(os.path.getsize(self.paths[d]) for d in days)
        sc.setJobGroup(op.op_id, f"cmorise:{op.kind}")
        op.t0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.tracer.span("build"):
                manifest = self.build(row, op)
            t1 = time.perf_counter()
            with self.tracer.span("execute"):
                op.extra["manifest"] = manifest.collect()
            t2 = time.perf_counter()
            op.build_s, op.execute_s = t1 - t0, t2 - t1
        except Exception as ex:
            op.ok, op.error = False, f"{type(ex).__name__}: {ex}"[:300]
        op.wall_s = time.perf_counter() - t0
        op.t1 = time.time()
        sc.setJobGroup("", "")

    def check_op(self, row, op: Op) -> None:
        """Read every written file back and compare it with numpy daily
        means of the generated inputs; confirm the manifest's n_rows and
        md5.  A mismatch fails the op.  The op's output files are removed
        afterwards."""
        from access_mopper_spark.sources.netcdf3 import read_netcdf3

        out_dir = os.path.join(self.out_root, op.op_id)
        try:
            if not op.ok:
                return
            chunk, deriv = row
            _, _, days = self.chunk_bounds(chunk)
            out_var = "tos" if deriv == 0 else "sst"
            src = self.fields["temp"] if deriv == 0 else self.fields["temp"] - 0.5 * self.fields["salt"]
            by_key = {r["file_key"]: r for r in op.extra.pop("manifest", [])}
            cells = self.spec.lev * self.spec.j * self.spec.i
            problems = []
            if len(by_key) != len(days):
                problems.append(f"{len(by_key)} files written, want {len(days)}")
            for d in days:
                key = f"{out_var}_Oday_{str(self.spec.day(d)).replace('-', '')}"
                r = by_key.get(key)
                if r is None:
                    problems.append(f"missing {key}")
                    continue
                raw = _read_source(r["path"])
                if hashlib.md5(raw).hexdigest() != r["md5"]:
                    problems.append(f"{key}: md5 differs from manifest")
                if r["n_rows"] != cells:
                    problems.append(f"{key}: n_rows {r['n_rows']} != {cells}")
                _, gatts, variables = read_netcdf3(r["path"])
                got = variables[out_var]["data"]
                want = src[d].mean(axis=0)[None]
                if got.shape != want.shape or not np.allclose(got, want, rtol=1e-12, atol=1e-9):
                    problems.append(f"{key}: values differ from numpy daily mean")
                if gatts.get("file_key") != key:
                    problems.append(f"{key}: file_key attribute {gatts.get('file_key')!r}")
            op.extra["files_written"] = len(by_key)
            op.extra["bytes_written"] = sum(os.path.getsize(r["path"]) for r in by_key.values()
                                            if os.path.exists(r["path"]))
            if problems:
                op.ok, op.error = False, "; ".join(problems)[:300]
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def prefix_times(self, row, op_id: str) -> list[float]:
        """Back-to-back executions of the growing plan prefixes (scan;
        +calc; +resample, noop-forced) and of the full op (its manifest
        collected), timed outside the op spans."""
        sc = self.spark.sparkContext
        quiet = Tracer(False)
        times = []
        for upto in ("scan", "calc", "resample", "write"):
            prefix_id = f"{op_id}-prefix-{upto}"
            saved, self.tracer = self.tracer, quiet
            try:
                df = self.build(row, Op(prefix_id, "prefix"), upto=upto)
            finally:
                self.tracer = saved
            sc.setJobGroup(prefix_id, "prefix")
            t = time.perf_counter()
            if upto == "write":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
            sc.setJobGroup("", "")
            clean_session(self.spark)
            shutil.rmtree(os.path.join(self.out_root, prefix_id), ignore_errors=True)
        return times

    def files_pruned(self, row) -> tuple[int, int]:
        """(files read, files pruned) for a filelist row, counted by
        Spark over the same filename-stamp predicate the op uses."""
        from access_mopper_spark.sources.netcdf_io import prune_files_by_timestamp

        tstart, tend, _ = self.chunk_bounds(row[0])
        kept = prune_files_by_timestamp(self.files_df, tstart, tend).count()
        return kept, len(self.paths) - kept
