"""The benchmark's workloads. Each one is a closed loop with a single client:
the next operation starts when the previous one has finished.

- ``QueryWorkload``: registry queries on seeded tables. A pass builds each
  query (``fn(spark, sf_dir)``) and executes it to the noop sink, after
  clearing the shingle cache and the tracked persists, like ``bench.py``.
  Outputs are checked in the run's first pass against the DuckDB oracle.
- ``EtlWorkload``: the daily star pipeline (``operators.star.run_pipeline``)
  on seeded landing blobs. A pass is day 1 (full overwrite) then day 2
  (incremental, dynamic partition overwrite). Outputs are checked against
  the generator's expected counts after every day of every pass.

Checks run between the timed intervals and are left out of a pass's wall
time.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time
from dataclasses import dataclass

import gen_landing
import gen_tables
import probes


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def tree_bytes(path: str, since: dict | None = None) -> tuple[int, int, dict]:
    """(files, bytes, snapshot) under ``path``; with ``since``, count only
    files that are new or changed relative to that snapshot."""
    snap: dict[str, tuple[int, int]] = {}
    for dirpath, _, files in os.walk(path):
        for name in files:
            full = os.path.join(dirpath, name)
            st = os.stat(full)
            snap[full] = (st.st_mtime_ns, st.st_size)
    changed = [v for k, v in snap.items() if since is None or since.get(k) != v]
    return len(changed), sum(size for _, size in changed), snap


class Context:
    """State of one benchmark run, shared by the setup, the check pass and
    the timed passes."""

    def __init__(self, spark, work_dir: str) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.counters = probes.SparkCounters(spark)
        self.tracer = probes.Tracer()
        self.traced = False  # spans and job marks are taken only while set
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(f"{what}: {detail}".strip())

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs) if self.traced else contextlib.nullcontext({})

    def mark(self) -> int:
        return self.counters.mark() if self.traced else 0


# ---------------------------------------------------------------------------
# Registry queries
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class QueryWorkload:
    #: The oracle comparison executes every query again and runs DuckDB, so
    #: only the first pass is checked.
    check_every_pass = False

    name: str
    sf: float
    queries: tuple[str, ...]

    def inputs(self, cache_dir: str, seed: int) -> dict:
        sf_dir = os.path.join(cache_dir, f"tables-sf{self.sf}-seed{seed}")
        done = os.path.join(sf_dir, "rows.json")
        if not os.path.exists(done):
            shutil.rmtree(sf_dir, ignore_errors=True)
            rows = gen_tables.generate(sf_dir, self.sf, seed)
            with open(done, "w") as fh:
                json.dump(rows, fh)
        with open(done) as fh:
            return {"sf_dir": sf_dir, "rows": json.load(fh)}

    def _check(self, ctx: Context, name: str, df, con, sf_dir: str) -> None:
        """Compare the DataFrame a pass built with the query's DuckDB oracle,
        through ``tools/oracle_check.compare``: the registry entry is swapped,
        for the length of the call, for one that returns that DataFrame."""
        import dataclasses

        from songs_etl_spark.plans import REGISTRY
        from tools.oracle_check import compare

        spec = REGISTRY[name]
        REGISTRY[name] = dataclasses.replace(spec, fn=lambda *_: df)
        try:
            res = compare(name, ctx.spark, con, sf_dir)
        finally:
            REGISTRY[name] = spec
        ctx.record(res["ok"], f"oracle {name}", res.get("error", ""))

    @staticmethod
    def _clear() -> None:
        from songs_etl_spark.plans._util import clear_tracked_persists
        from songs_etl_spark.plans.dedup import clear_shingle_cache

        clear_shingle_cache()
        clear_tracked_persists()

    def run_pass(self, ctx: Context, inputs: dict, check: bool) -> dict:
        """Build and execute every query. With ``check``, each query's result
        is then compared with its DuckDB oracle; that comparison is left out
        of the pass's wall time."""
        from songs_etl_spark.plans import REGISTRY
        from tools.oracle_check import duckdb_connection

        sf_dir = inputs["sf_dir"]
        mark = ctx.mark
        per: dict[str, dict] = {}
        con = duckdb_connection(sf_dir) if check else None
        check_s = 0.0
        first = mark()
        start = time.perf_counter()
        try:
            with ctx.span("pass"):
                self._clear()
                for name in self.queries:
                    with ctx.span("query", query=name):
                        m0, t0 = mark(), time.perf_counter()
                        m1 = t1 = None
                        try:
                            with ctx.span("plans.build", query=name):
                                df = REGISTRY[name].fn(ctx.spark, sf_dir)
                            m1, t1 = mark(), time.perf_counter()
                            with ctx.span("plans.exec", query=name):
                                df.write.mode("overwrite").format("noop").save()
                            ok, detail = True, ""
                        except Exception as exc:  # counted, reported, run continues
                            ok, detail = False, repr(exc)[:300]
                        m2, t2 = mark(), time.perf_counter()
                    ctx.record(ok, f"exec {name}", detail)
                    t1 = t2 if t1 is None else t1
                    m1 = m2 if m1 is None else m1
                    per[name] = {
                        "build_s": t1 - t0,
                        "exec_s": t2 - t1,
                        "build_jobs": m1 - m0,
                        "exec_jobs": m2 - m1,
                    }
                    if con is not None and ok:
                        self._check(ctx, name, df, con, sf_dir)
                        check_s += time.perf_counter() - t2
        finally:
            if con is not None:
                con.close()
        wall = time.perf_counter() - start - check_s
        out = {"wall_s": wall, "check_s": check_s, "queries": per}
        if ctx.traced:
            out["jobs_range"] = (first, mark())
            self._clear()
            out["cached_rdds_after_pass"] = ctx.counters.persistent_rdds()
        return out

    def patch(self, ctx: Context, patches: probes.Patches) -> None:
        """Span every table load (installed for the whole traced run, so the
        check pass primes it). A load returning the very object an earlier
        load with the same arguments returned is a cache hit."""
        from songs_etl_spark.plans import _util

        seen: dict[tuple, object] = {}

        def make(original):
            def load_table(spark, sf_dir, name):
                with ctx.span("sources.catalog.load_table", table=name) as attrs:
                    df = original(spark, sf_dir, name)
                    key = (id(spark), sf_dir, name)
                    attrs["hit"] = seen.get(key) is df
                    seen[key] = df
                return df

            return load_table

        patches.patch(_util, "load_table", make)

    def layer_metrics(self, ctx: Context, traced_passes: list[dict]) -> dict[str, float]:
        out: dict[str, float] = {}
        for key in ("build_s", "exec_s", "build_jobs", "exec_jobs"):
            out[f"plans.{key}"] = median(
                sum(p["queries"][q][key] for q in self.queries) for p in traced_passes
            )
            for q in self.queries:
                out[f"plans.{key}.{q}"] = median(p["queries"][q][key] for p in traced_passes)
        total = out["plans.build_s"] + out["plans.exec_s"]
        out["plans.build_share"] = out["plans.build_s"] / total if total else 0.0
        out["plans.accounted_share"] = total / median(p["wall_s"] for p in traced_passes)
        out["plans.cached_rdds_after_pass"] = max(
            p["cached_rdds_after_pass"] for p in traced_passes
        )
        loads = ctx.tracer.named("sources.catalog.load_table")
        n_passes = len(traced_passes)
        out["sources.catalog.load_table_s"] = sum(s.seconds for s in loads) / n_passes
        out["sources.catalog.load_table_calls"] = len(loads) / n_passes
        out["sources.catalog.load_table_hit_ratio"] = (
            sum(1 for s in loads if s.attrs.get("hit")) / len(loads) if loads else 0.0
        )
        return out


# ---------------------------------------------------------------------------
# Daily star pipeline
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class EtlWorkload:
    #: The expected counts cost a few small jobs, so every pass is checked.
    check_every_pass = True

    name: str
    users: int
    days: tuple[str, ...] = ("2024-05-01", "2024-05-02")

    def inputs(self, cache_dir: str, seed: int) -> dict:
        landing = os.path.join(cache_dir, f"landing-u{self.users}-d{len(self.days)}-seed{seed}")
        done = os.path.join(landing, "expected.json")
        if not os.path.exists(done):
            shutil.rmtree(landing, ignore_errors=True)
            gen_landing.generate(landing, seed, self.users, list(self.days))
        with open(done) as fh:
            days = json.load(fh)
        landing_bytes = sum(
            os.path.getsize(days[d][blob]) for d in self.days for blob in ("playlists", "tracks")
        )
        return {"days": days, "landing_bytes": landing_bytes}

    def _dim_user(self, ctx: Context, inputs: dict):
        """The seed user dimension, built once per run outside every pass."""
        if "dim_user" not in inputs:
            from songs_etl_spark import schemas

            inputs["dim_user"] = ctx.spark.createDataFrame(
                gen_landing.dim_user_rows(self.users), schema=schemas.DIM_USER_SCHEMA
            )
        return inputs["dim_user"]

    def warehouse(self, ctx: Context) -> str:
        return os.path.join(ctx.work_dir, "warehouse")

    def _day(self, ctx: Context, inputs: dict, i: int) -> dict | None:
        from songs_etl_spark.operators import star

        day = self.days[i]
        blobs = inputs["days"][day]
        with ctx.span("operators.star.run_pipeline", day=day):
            try:
                out = star.run_pipeline(
                    ctx.spark,
                    blobs["playlists"],
                    blobs["tracks"],
                    self._dim_user(ctx, inputs),
                    self.warehouse(ctx),
                    ingest_date=day,
                    incremental=i > 0,
                )
                ok, detail = True, ""
            except Exception as exc:  # counted, reported, run continues
                out, ok, detail = None, False, repr(exc)[:300]
        ctx.record(ok, f"pipeline {day}", detail)
        return out

    def _check_day(self, ctx: Context, inputs: dict, i: int, out: dict | None) -> None:
        from pyspark.sql import functions as F

        day = self.days[i]
        want = inputs["days"][day]["expected"]
        if out is None:
            ctx.record(False, f"check {day}", "pipeline did not produce outputs")
            return
        for dim in ("dim_platform", "dim_playlist", "dim_artist", "dim_track"):
            got = out[dim].count()
            ctx.record(got == want[dim], f"check {day} {dim}", f"{got} rows, want {want[dim]}")
        fact = out["fact_songs"]
        resolved = (
            F.col("dim_playlist_id").isNotNull()
            & F.col("dim_artist_id").isNotNull()
            & F.col("dim_track_id").isNotNull()
            & F.col("dim_user_id").isNotNull()
        )
        row = fact.agg(
            F.count(F.lit(1)).alias("fact_rows"),
            F.sum(F.col("added_at").isNull().cast("int")).alias("fact_null_added_at"),
            F.sum(resolved.cast("int")).alias("fact_resolved"),
        ).first()
        for key in ("fact_rows", "fact_null_added_at", "fact_resolved"):
            got = row[key] or 0
            ctx.record(got == want[key], f"check {day} {key}", f"{got}, want {want[key]}")

    def _check_history(self, ctx: Context, inputs: dict) -> None:
        """Every earlier day's fact partition survives the incremental
        writes, with its own row count."""
        fact = ctx.spark.read.parquet(os.path.join(self.warehouse(ctx), "fact_songs"))
        got = {str(r[0]): r[1] for r in fact.groupBy("ingest_date").count().collect()}
        want = {d: inputs["days"][d]["expected"]["fact_rows"] for d in self.days}
        ctx.record(got == want, "check fact partitions", f"{got}, want {want}")

    def run_pass(self, ctx: Context, inputs: dict, check: bool) -> dict:
        """Day 1, then day 2. With ``check``, each day's outputs are checked
        right after it ran, and both fact partitions after day 2; the checks
        are left out of the pass's wall time."""
        first = ctx.mark()
        wall = check_s = 0.0
        with ctx.span("pass"):
            for i in range(len(self.days)):
                start = time.perf_counter()
                out = self._day(ctx, inputs, i)
                wall += time.perf_counter() - start
                if check:
                    start = time.perf_counter()
                    self._check_day(ctx, inputs, i, out)
                    check_s += time.perf_counter() - start
        result = {"wall_s": wall}
        if ctx.traced:
            result["jobs_range"] = (first, ctx.mark())
        if check:
            start = time.perf_counter()
            self._check_history(ctx, inputs)
            check_s += time.perf_counter() - start
        _, stored, _ = tree_bytes(self.warehouse(ctx))
        result.update(stored_bytes_ratio=stored / inputs["landing_bytes"], check_s=check_s)
        return result

    def patch(self, ctx: Context, patches: probes.Patches) -> None:
        """Span the names ``run_pipeline`` resolves from its module at call
        time: the two ingests, the four dimension builds, the dimension
        fan-out (its thread pool) with the four writes on the pool's threads,
        and the fact build and write. Writer spans carry the files and bytes
        they left on disk."""
        from songs_etl_spark.operators import star

        def spanned(name):
            def make(original):
                def call(*args, **kwargs):
                    with ctx.span(name):
                        return original(*args, **kwargs)

                return call

            return make

        def pool(original):
            class TracedPool(original):
                def __enter__(self):
                    self._span = ctx.span("operators.star.dims")
                    self._span.__enter__()
                    return super().__enter__()

                def __exit__(self, *exc):
                    try:
                        return super().__exit__(*exc)
                    finally:
                        self._span.__exit__(*exc)

            return TracedPool

        def writer(original):
            def write(df, path, *args, **kwargs):
                if not ctx.traced:
                    return original(df, path, *args, **kwargs)
                _, _, before = tree_bytes(path)
                with ctx.span("sources.writers.write") as attrs:
                    original(df, path, *args, **kwargs)
                name = os.path.basename(path.rstrip("/"))
                attrs["role"] = "fact" if name == "fact_songs" else "dim"
                attrs["files"], attrs["bytes"], _ = tree_bytes(path, since=before)

            return write

        patches.patch(star, "ingest_landing_to_parquet", spanned("operators.star.ingest"))
        for dim in ("platform", "playlist", "artist", "track"):
            patches.patch(star, f"build_dim_{dim}", spanned("operators.star.dims_build"))
        patches.patch(star, "ThreadPoolExecutor", pool)
        patches.patch(star, "build_fact_songs", spanned("operators.star.fact_build"))
        patches.patch(star, "overwrite_table", writer)
        patches.patch(star, "overwrite_partitions", writer)

    def layer_metrics(self, ctx: Context, traced_passes: list[dict]) -> dict[str, float]:
        per_pass = []
        for p in traced_passes:
            spans = [s for s in ctx.tracer.spans if s.run_id == p["run_id"]]

            def total(name, role=None):
                return sum(
                    s.seconds
                    for s in spans
                    if s.name == name and (role is None or s.attrs.get("role") == role)
                )

            writes = [s for s in spans if s.name == "sources.writers.write"]
            ingest_s = total("operators.star.ingest")
            dims_s = total("operators.star.dims_build") + total("operators.star.dims")
            fact_s = total("operators.star.fact_build") + total("sources.writers.write", "fact")
            per_pass.append(
                {
                    "operators.star.ingest_s": ingest_s,
                    "operators.star.dims_s": dims_s,
                    "operators.star.dims_overlap": (
                        total("sources.writers.write", "dim") / total("operators.star.dims")
                        if dims_s
                        else 0.0
                    ),
                    "operators.star.fact_s": fact_s,
                    "operators.star.coverage": (ingest_s + dims_s + fact_s) / p["wall_s"],
                    "sources.writers.write_s": sum(s.seconds for s in writes),
                    "sources.writers.files": sum(s.attrs.get("files", 0) for s in writes),
                    "sources.writers.bytes": sum(s.attrs.get("bytes", 0) for s in writes),
                    "stored_bytes_ratio": p["stored_bytes_ratio"],
                }
            )
        return {key: median(p[key] for p in per_pass) for key in per_pass[0]}


WORKLOADS = {
    w.name: w
    for w in (
        QueryWorkload(
            "iterative_sf0.001",
            0.001,
            ("louvain_one_level", "ktruss_edge_peel", "pagerank_copurchase"),
        ),
        EtlWorkload("etl_star_daily", users=1000),
    )
}
