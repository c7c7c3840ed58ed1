"""The benchmark workloads.  Each is a closed loop with one client:
``prepare`` restores the starting state (untimed), ``op`` is one timed
call sequence through the package's public entry points, ``check``
compares the outputs with the generators' expectations.

With a tracer, ``op`` records one span per layer call and
materialises each layer's result at its boundary (persist + count, or
a ``noop`` write where caching would change the next layer's plan),
so every layer's Spark stages run inside its own span.  Layer calls
made inside the package (``run_wrf_push`` -> ``push_wrf_grid``, ...)
are wrapped by swapping the name in the calling module for the
duration of the op; no package file is changed.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import shutil
import time

import numpy as np
import pandas as pd

import gen

#: workload rationale and generator parameters
SPEC = json.loads(
    open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                      "workloads.json")).read()
)
PARAMS = {name: w["generator"] for name, w in SPEC["workloads"].items()}


@contextlib.contextmanager
def _swapped(module, name: str, replacement):
    orig = getattr(module, name)
    setattr(module, name, replacement)
    try:
        yield
    finally:
        setattr(module, name, orig)


def _materialise(df):
    df = df.persist()
    return df, df.count()


def _write_parquet(pdf, path: str) -> None:
    """Inputs are written by pyarrow, not by the program under test."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shutil.rmtree(path, ignore_errors=True)
    pq.write_to_dataset(pa.Table.from_pandas(pdf, preserve_index=False), path)


def _reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


class Workload:
    name = ""

    #: parameters scaled down for the warm-up op's own small inputs
    warmup_params: dict = {}

    def __init__(self, spark, work_dir: str, seed: int, params=None):
        self.spark = spark
        self.dir = work_dir
        self.seed = seed
        self.p = params or PARAMS[self.name]
        self.layer_counts: dict[str, float] = {}
        #: wall seconds of an op's phases, kept in the op record
        self.phases: dict[str, float] = {}

    def warmup(self) -> None:
        """One untimed op over small inputs of the same shape: it pays
        class loading, code generation and JIT of every layer, so the
        measured ops run warm."""
        if not self.warmup_params:
            return
        small = type(self)(self.spark, self.dir + "-warmup", self.seed,
                           {**self.p, **self.warmup_params})
        small.setup()
        small.prepare()
        errs = small.check(small.op())
        shutil.rmtree(small.dir, ignore_errors=True)
        if errs:
            raise RuntimeError(f"warm-up op failed: {errs}")

    def setup(self) -> None: ...

    def prepare(self) -> None: ...

    def op(self, tracer=None): ...

    def check(self, result) -> list[str]: ...


# ------------------------------------------------------------ cron_push


class CronPush(Workload):
    """One cron cycle: decode K systems' d03 files, push into a store
    primed with the previous cycle and emit rfields (E1 + E2), then
    serve the hybrid obs-vs-forecast CSVs (E3) from the store the push
    just merged, as the reference's pusher runs the hybrid scripts at
    the end of its cycle."""

    name = "cron_push"
    GAUGE_TABLES = ("obs_station", "obs_data", "grid_map")

    def setup(self) -> None:
        from curw_wrf_data_pusher_spark.plans.config import WrfConfig

        p = self.p
        self.cfg = WrfConfig(
            model="WRF", version="4.1.2", wrf_type="wrf", gfs_run="d0",
            gfs_data_hour="18", wrf_systems=p["systems"], unit="mm",
            unit_type="Accumulative", variable="Precipitation",
            sim_tag="gfs_d0_18",
        )
        self.sources = [f"WRF_{s}" for s in p["systems"]]
        dims = dict(systems=p["systems"], n_t=p["n_t"], sn=p["sn"],
                    we=p["we"], shift_steps=p["shift_steps"])
        for cycle in (0, 1):
            gen.write_wrf_cycle(
                os.path.join(self.dir, f"nc{cycle}"), self.seed, cycle, **dims
            )
        self.expect = gen.wrf_expectations(self.seed, **dims)
        store = gen.store_values(self.seed, **dims)
        world = gen.gauges(self.seed, p["gauges"], p["sn"], p["we"],
                           store["time"].unique())
        self.gauge_paths = {t: os.path.join(self.dir, "gauges", t)
                            for t in self.GAUGE_TABLES}
        for t in self.GAUGE_TABLES:
            _write_parquet(world[t], self.gauge_paths[t])
        self.expect["hybrid"] = {
            mean: gen.hybrid_expectation(store, world, self.sources,
                                         p["active_after"], mean)
            for mean in (False, True)
        }
        self.stations = self.spark.createDataFrame(
            gen.station_dim(p["sn"], p["we"])
        ).persist()
        self.stations.count()
        # prime: the previous cycle pushed into an empty store; it runs
        # decode, push and the first-write upsert cold, and E3 over the
        # primed store, which serves as the warm-up of those layers
        self.primed = os.path.join(self.dir, "primed")
        self.store = os.path.join(self.dir, "store")
        self.rfields = os.path.join(self.dir, "rfields")
        self.out = {m: os.path.join(self.dir, "hybrid", m)
                    for m in ("nearest", "mean")}
        shutil.rmtree(self.primed, ignore_errors=True)
        report = self._push(os.path.join(self.dir, "nc0"), self.primed, None)
        if not report.ok:
            raise RuntimeError(f"priming push failed: {report.steps}")
        self._serve(self.primed)

    def _push(self, nc_dir, store, rfield_dir, tracer=None):
        from curw_wrf_data_pusher_spark.plans import runner
        from curw_wrf_data_pusher_spark.sources.netcdf import read_wrf_grid_split

        with _span(tracer, "sources.netcdf.read_wrf_grid_split") as sp:
            grid = read_wrf_grid_split(self.spark, nc_dir)
            if tracer is not None:
                grid, sp.rows_out = _materialise(grid)
        if tracer is None:
            return runner.run_wrf_push(
                self.spark, self.cfg, grid, store,
                stations=self.stations, rfield_dir=rfield_dir,
            )
        try:
            with contextlib.ExitStack() as stack:
                self._trace_runner(stack, runner, tracer)
                return runner.run_wrf_push(
                    self.spark, self.cfg, grid, store,
                    stations=self.stations, rfield_dir=rfield_dir,
                )
        finally:
            grid.unpersist()

    def _trace_runner(self, stack, runner, tracer) -> None:
        push, upsert, rfields = (
            runner.push_wrf_grid, runner.upsert_parquet, runner.build_rfields
        )
        cached = []

        def traced_push(grid, cfg, stations=None):
            with tracer.span("plans.wrf_push.push_wrf_grid") as sp:
                fact, runs = push(grid, cfg, stations=stations)
                fact, n_fact = _materialise(fact)
                runs, _ = _materialise(runs)
                sp.rows_out = n_fact
            cached.extend([fact, runs])
            self.layer_counts["pushed_mb"] = _cached_mb(fact)
            return fact, runs

        def traced_upsert(spark, new_rows, store_path, keys, partition_cols=None):
            table = "fact" if store_path.endswith("fcst_data") else "runs"
            with tracer.span(f"sinks.upsert.upsert_parquet.{table}") as sp:
                n = upsert(spark, new_rows, store_path, keys,
                           partition_cols=partition_cols)
                sp.rows_out = n
            return n

        def traced_rfields(grid, out_dir, **kw):
            with tracer.span("plans.rfields.build_rfields") as sp:
                files = rfields(grid, out_dir, **kw)
            paths = [p for v in files.values() for p in v]
            sp.rows_out = sum(_lines(p) for p in paths)
            self.layer_counts["rfield_files"] = len(paths)
            return files

        stack.enter_context(_swapped(runner, "push_wrf_grid", traced_push))
        stack.enter_context(_swapped(runner, "upsert_parquet", traced_upsert))
        stack.enter_context(_swapped(runner, "build_rfields", traced_rfields))
        stack.callback(lambda: [df.unpersist() for df in cached])

    def _serve(self, store, tracer=None) -> None:
        """E3: the nearest and mean hybrid CSVs from ``store``'s fact
        and run tables and the gauge tables."""
        from curw_wrf_data_pusher_spark.plans import hybrid

        with _span(tracer, "store.scan") as sp:
            t = {k: self.spark.read.parquet(v) for k, v in self.gauge_paths.items()}
            t["fact"] = self.spark.read.parquet(os.path.join(store, "fcst_data"))
            t["runs"] = self.spark.read.parquet(os.path.join(store, "run"))
            if tracer is not None:
                for k in ("fact", "runs"):
                    t[k].write.format("noop").mode("overwrite").save()
                sp.rows_out = t["fact"].count() + t["runs"].count()
        with contextlib.ExitStack() as stack:
            if tracer is not None:
                orig = hybrid.write_ordered_csv

                def traced_csv(df, dest, order_cols, header=True):
                    # the input (persisted by the caller) is computed in
                    # the caller's span; the child span is the write
                    df.count()
                    with tracer.span("sinks.rfield_files.write_ordered_csv") as sp:
                        orig(df, dest, order_cols, header=header)
                    sp.rows_out = _lines(dest) - int(header)

                stack.enter_context(
                    _swapped(hybrid, "write_ordered_csv", traced_csv)
                )
            for variant, mean in (("nearest", False), ("mean", True)):
                with _span(tracer, f"plans.hybrid.build_hybrid_rfield.{variant}") as sp:
                    hybrid.build_hybrid_rfield(
                        t["fact"], t["runs"], t["obs_station"], t["obs_data"],
                        t["grid_map"], sources=self.sources,
                        out_dir=self.out[variant],
                        active_after=self.p["active_after"],
                        mean_over_mapped=mean,
                    )
                if tracer is not None:
                    sp.rows_out = _lines(
                        os.path.join(self.out[variant], "hybrid_full.csv")) - 1

    def prepare(self) -> None:
        shutil.rmtree(self.store, ignore_errors=True)
        shutil.copytree(self.primed, self.store)
        for d in (self.rfields, *self.out.values()):
            _reset_dir(d)

    def op(self, tracer=None):
        t = time.perf_counter()
        report = self._push(os.path.join(self.dir, "nc1"), self.store,
                            self.rfields, tracer)
        self.phases["push_s"] = time.perf_counter() - t
        t = time.perf_counter()
        if report.ok:
            self._serve(self.store, tracer)
        self.phases["serve_s"] = time.perf_counter() - t
        return report

    def check(self, report) -> list[str]:
        from pyspark.sql import functions as F

        if not report.ok:
            return [f"run report not ok: {report.steps}"]
        errs = []
        ex = self.expect
        fact = self.spark.read.parquet(os.path.join(self.store, "fcst_data"))
        runs = self.spark.read.parquet(os.path.join(self.store, "run"))
        n_keys = fact.select("tms_id", "time").distinct().count()
        n_rows = fact.count()
        if n_keys != ex["store_keys"] or n_rows != n_keys:
            errs.append(f"store has {n_rows} rows, {n_keys} keys; "
                        f"expected {ex['store_keys']} keys")
        latest_fgt = fact.agg(F.max("fgt")).first()[0]
        per_src = {
            r["source"]: (r["n"], r["s"])
            for r in fact.filter(F.col("fgt") == latest_fgt)
            .join(runs.select("tms_id", "source"), "tms_id")
            .groupBy("source")
            .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
            .collect()
        }
        pushed = sum(n for n, _ in per_src.values())
        if pushed != ex["pushed_rows"]:
            errs.append(f"pushed rows {pushed} != {ex['pushed_rows']}")
        for src, milli in ex["checksum_milli"].items():
            got = per_src.get(src, (0, 0.0))[1]
            if round(got * 1000) != milli:
                errs.append(f"{src} checksum {got} != {milli / 1000}")
        for sub, cells in ex["cells"].items():
            errs += _check_rfield_dir(
                os.path.join(self.rfields, sub), ex["value_files"], cells
            )
        return errs + self._check_hybrid()

    def _check_hybrid(self) -> list[str]:
        errs = []
        for variant, mean in (("nearest", False), ("mean", True)):
            want = self.expect["hybrid"][mean]
            kel = want[want["longitude"].between(gen.KELANI["lon_min"], gen.KELANI["lon_max"])
                       & want["latitude"].between(gen.KELANI["lat_min"], gen.KELANI["lat_max"])]
            for fname, exp in (("hybrid_full.csv", want),
                               ("hybrid_fcst.csv", want.drop(columns="obs")),
                               ("hybrid_kelani.csv", kel)):
                path = os.path.join(self.out[variant], fname)
                try:
                    got = pd.read_csv(path)
                except (OSError, pd.errors.EmptyDataError) as exc:
                    errs.append(f"{variant}/{fname}: {exc}")
                    continue
                errs += _compare_frames(f"{variant}/{fname}", got,
                                        exp.reset_index(drop=True))
        return errs


def _cached_mb(df) -> float:
    """Size of a persisted, materialised frame as the optimizer's
    statistics of its in-memory relation report it."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes())) / 2**20


def _lines(path: str) -> int:
    with open(path, "rb") as f:
        return f.read().count(b"\n")


def _check_rfield_dir(out_dir: str, n_files: int, cells: int) -> list[str]:
    errs = []
    files = sorted(glob.glob(os.path.join(out_dir, "rfield_*.txt")))
    try:
        with open(os.path.join(out_dir, "_SUCCESS")) as f:
            listed = sorted(line for line in f.read().splitlines() if line)
    except OSError:
        return [f"{out_dir}: no _SUCCESS marker"]
    if listed != [os.path.basename(p) for p in files] or len(files) != n_files:
        errs.append(f"{out_dir}: _SUCCESS lists {len(listed)}, "
                    f"{len(files)} files, expected {n_files}")
    xy_rows = _lines(os.path.join(out_dir, "xy.csv")) - 1
    if xy_rows != cells:
        errs.append(f"{out_dir}: xy.csv has {xy_rows} rows, expected {cells}")
    for p in files:
        n = _lines(p)
        if n != xy_rows:
            errs.append(f"{p}: {n} lines != xy.csv {xy_rows}")
            break
    return errs


def _compare_frames(label, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows, expected {len(want)}"]
    if list(got.columns) != list(want.columns):
        return [f"{label}: columns {list(got.columns)} != {list(want.columns)}"]
    if len(want) == 0:
        return [f"{label}: empty"]
    rng = np.random.default_rng(len(want))
    sample = rng.choice(len(want), min(200, len(want)), replace=False)
    g, w = got.iloc[sample], want.iloc[sample]
    for c in want.columns:
        if want[c].dtype.kind == "f":
            ok = np.allclose(g[c].to_numpy(float), w[c].to_numpy(float),
                             rtol=1e-9, atol=1e-12)
        else:
            ok = (g[c].astype(str).to_numpy() == w[c].astype(str).to_numpy()).all()
        if not ok:
            return [f"{label}: sampled column {c} differs"]
    return []


# --------------------------------------------------------- corpus_dedup


class CorpusDedup(Workload):
    """Corpus curation with near-dup on, then embedding near-dup pairs
    and their clusters."""

    name = "corpus_dedup"
    warmup_params = {"n_base": 100, "n_vectors": 80}

    def setup(self) -> None:
        p = self.p
        self.corpus = gen.corpus(self.seed, p["n_base"], p["dup_share"])
        self.emb = gen.embeddings(self.seed, p["n_vectors"], p["dim"],
                                  p["vec_dup_share"], p["threshold"])
        self.paths = {k: os.path.join(self.dir, k) for k in ("docs", "emb")}
        _write_parquet(self.corpus["docs"], self.paths["docs"])
        _write_parquet(self.emb["frame"], self.paths["emb"])

    def op(self, tracer=None):
        from curw_wrf_data_pusher_spark.llmops import clusters, dedup
        from curw_wrf_data_pusher_spark.llmops.pipeline import curate_corpus
        from curw_wrf_data_pusher_spark.llmops.simsearch import banded_neardup_pairs

        spark = self.spark
        cached = []
        try:
            with _span(tracer, "llmops.pipeline.curate_corpus") as sp:
                final, stages = curate_corpus(spark.read.parquet(self.paths["docs"]))
                survivors = [r[0] for r in final.select("doc_id").collect()]
                if tracer is not None:
                    sp.rows_out = len(survivors)
                    qf, _ = _materialise(stages["quality_filter"])
                    cached.append(qf)
            if tracer is not None:
                self._dedup_chain(tracer, qf, dedup, clusters, cached)
            emb = spark.read.parquet(self.paths["emb"])
            with _span(tracer, "llmops.simsearch.banded_neardup_pairs") as sp:
                pairs = banded_neardup_pairs(
                    emb, threshold=self.p["threshold"], dim=self.p["dim"]
                ).persist()
                cached.append(pairs)
                pair_rows = [(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()]
                if tracer is not None:
                    sp.rows_out = len(pair_rows)
            with _span(tracer, "llmops.clusters.resolve_clusters.embedding") as sp:
                cl = clusters.resolve_clusters(pairs).collect()
                if tracer is not None:
                    sp.rows_out = len(cl)
        finally:
            for df in cached:
                df.unpersist()
        return survivors, pair_rows, cl

    def _dedup_chain(self, tr, qf, dedup, clusters, cached) -> None:
        """curate_corpus's near-dup steps again, one span each, over
        its quality-filtered stage frame."""
        with tr.span("llmops.dedup.minhash_signatures_from_text") as sp:
            sig, sp.rows_out = _materialise(dedup.minhash_signatures_from_text(qf))
            cached.append(sig)
        with tr.span("llmops.dedup.lsh_candidate_pairs") as sp:
            cand, sp.rows_out = _materialise(dedup.lsh_candidate_pairs(sig))
            cached.append(cand)
        with tr.span("llmops.dedup.verify_candidates") as sp:
            ver, sp.rows_out = _materialise(
                dedup.verify_candidates(dedup.shingles(qf), cand, min_jaccard=0.8)
                .select("id_a", "id_b")
            )
            cached.append(ver)
        self.layer_counts["verify_pass_ratio"] = ver.count() / max(1, cand.count())
        with tr.span("llmops.clusters.resolve_clusters.text") as sp:
            sp.rows_out = clusters.resolve_clusters(ver).count()

    def check(self, result) -> list[str]:
        survivors, pair_rows, cl = result
        errs = []
        c = self.corpus
        surv = set(survivors)
        if len(survivors) != c["expected_survivors"] or len(surv) != len(survivors):
            errs.append(f"{len(survivors)} survivors, expected {c['expected_survivors']}")
        bad = [g for g in c["clusters"] if len(surv.intersection(g)) != 1]
        if bad:
            errs.append(f"{len(bad)} planted clusters without exactly one survivor")
        got = set(pair_rows)
        missing = self.emb["planted"] - got
        if missing:
            errs.append(f"{len(missing)} planted embedding pairs missing")
        if got != self.emb["pairs"]:
            errs.append(f"{len(got)} embedding pairs, expected {len(self.emb['pairs'])}")
        n_comp = len({r[1] for r in cl})
        want = gen.components(self.emb["pairs"])
        if n_comp != want:
            errs.append(f"{n_comp} embedding clusters, expected {want}")
        return errs


WORKLOADS = {w.name: w for w in (CronPush, CorpusDedup)}
LAYERS = {name: SPEC["workloads"][name]["layers"] for name in WORKLOADS}
