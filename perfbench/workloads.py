"""The benchmark's workloads: ``pipeline_hot`` and ``cold_paths``, whose
iteration is a ``CommitShards`` part and a ``QueryMixCold`` part.

Each workload class has the same shape:

- ``prepare(spark)``: generate the seeded inputs and fill caches;
- ``warm_up()``: untimed work that lets the JIT and caches settle;
- ``iteration()``: one timed unit of work, run as a closed loop with
  one client and one iteration in flight; returns an ``Iteration``;
- ``check()``: compare the program's outputs with a DuckDB evaluation,
  outside every timed interval; returns a list of mismatch messages;
- ``layers(...)``: the per-layer metrics of the traced pass.

The engine is called only through its public functions. In the traced
pass, calls into each engine module are timed from outside by
:class:`spans.Tracer` wrappers, and every action runs under a job group
named ``<workload>.<layer>``.
"""

from __future__ import annotations

import glob
import importlib
import math
import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from statistics import median

import duckdb
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import __spark_entry__ as entry
from fluent_plugin_record_reformer_spark import ReformContext, TransformSpec

import inputs
from sparkstats import ActionStats, StatusReader
from spans import Tracer


def _module(name: str):
    # import_module, not attribute access: the package re-exports some
    # functions under their module's name (``reform``).
    return importlib.import_module(f"fluent_plugin_record_reformer_spark.{name}")


aggregate, enrich, parse, reform, route = (
    _module(f"operators.{m}") for m in ("aggregate", "enrich", "parse", "reform", "route")
)
lineage, tables, transcripts = (
    _module(m) for m in ("plans.lineage", "sources.tables", "sources.transcripts")
)

GROK = "event=%{WORD:etype} value=%{NUMBER:val} props=%{GREEDYDATA:props_raw}"
SPEC = TransformSpec(
    tag="reformed.${tag_prefix[-2]}",
    record={
        "hostname": "${hostname}",
        "message": "${record['etype']} by ${record['role_kind']}",
    },
    remove_keys=["text", "props_raw"],
)
ROUTES = entry.E2E_ROUTES
ROUTE_NAMES = [r.name for r in ROUTES.routes]
ROUTE_SQL = """CASE WHEN 'reformed.transcripts.' || role = 'reformed.transcripts.user' THEN 'user_sink'
            WHEN 'reformed.transcripts.' || role = 'reformed.transcripts.assistant' THEN 'assistant_sink'
            ELSE 'ops_sink' END"""
# Engine functions each layer is timed through in the traced pass. The
# queries call the names ``__spark_entry__`` imported, so those are
# wrapped where the mix uses them.
SOURCE_CALLS = [
    (transcripts, "transcripts_from_events", "sources"),
    (transcripts, "with_tag", "sources"),
    (entry, "load_table", "sources"),
    (entry, "transcripts_from_events", "sources"),
    (entry, "with_tag", "sources"),
]
CHAIN_CALLS = [
    (parse, "grok_parse", "parse"),
    (enrich, "enrich", "enrich"),
    (enrich, "role_dim", "enrich"),
    (reform, "reform", "reform"),
    (route.RouteTable, "assign", "route"),
    (aggregate, "per_sink_counts", "aggregate"),
    (entry, "reform", "reform"),
]
# ROADMAP item 5's Python boundary, and one of the leaf queries whose
# scan fan-out ROADMAP item 3 wants back to its round-5 time.
QUERY_MIX = ("python_expr", "top_convs")


@dataclass
class Iteration:
    wall_s: float
    turns_per_s: float  # input turns ÷ wall time of the part that turned them
    stats: ActionStats  # summed over the iteration's actions
    layer: dict  # traced per-layer values of this iteration


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def add_stats(total: ActionStats, part: ActionStats) -> ActionStats:
    """Add ``part``'s counters into ``total``. The last-stage task times
    are ``part``'s: it ran after what ``total`` holds."""
    for k, v in vars(part).items():
        if k == "plan_nodes":
            for n, c in v.items():
                total.plan_nodes[n] += c
        elif k not in ("final_task_max_s", "final_task_median_s"):
            setattr(total, k, getattr(total, k) + v)
    total.final_task_max_s, total.final_task_median_s = part.final_task_max_s, part.final_task_median_s
    return total


def duck_with(paths: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name, path in paths.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def chain(turns: DataFrame, spark: SparkSession, upto: int = 5) -> DataFrame:
    """The north-rule chain, cut after ``upto`` stages (1 = parse, ...,
    5 = aggregate). Functions are looked up on their modules at call
    time, so traced wrappers see every call."""
    df = turns
    if upto >= 1:
        df = parse.grok_parse(df, GROK, types={"val": "double"})
    if upto >= 2:
        df = enrich.enrich(df, enrich.role_dim(spark), on="role")
    if upto >= 3:
        df = reform.reform(df, SPEC, ReformContext(hostname=entry.HOSTNAME))
    if upto >= 4:
        df = ROUTES.assign(df)
    if upto >= 5:
        df = aggregate.per_sink_counts(df)
    return df


class Workload:
    name = ""
    warm_up_iterations = 0

    def __init__(self, work_dir: str, seed: int, cpus: int, tracer: Tracer):
        self.work_dir = work_dir
        self.seed = seed
        self.cpus = cpus
        self.tracer = tracer
        self.spark: SparkSession | None = None
        self.reader: StatusReader | None = None

    def attach(self, spark: SparkSession) -> None:
        self.spark = spark
        self.reader = StatusReader(spark)

    def run_action(self, layer: str, action) -> tuple[object, ActionStats]:
        with self.tracer.span(f"action.{layer}"):
            return self.reader.measure(
                f"{self.name}.{layer}", action, with_plans=self.tracer.enabled
            )

    def warm_up(self) -> None:
        for _ in range(self.warm_up_iterations):
            self.iteration()

    def traced_calls(self):
        return self.tracer.patch(SOURCE_CALLS + CHAIN_CALLS)

    def layers(self, its: list[Iteration]) -> dict:
        """Per-layer medians over the traced iterations: Spark's
        counters plus every value the iterations recorded."""
        out = {
            "spark.jobs": median(i.stats.jobs for i in its),
            "spark.stages": median(i.stats.stages for i in its),
            "spark.tasks": median(i.stats.tasks for i in its),
            "spark.gc_s": median(i.stats.gc_s for i in its),
            "spark.shuffle_read_bytes": median(i.stats.shuffle_read_bytes for i in its),
            "spark.shuffle_write_bytes": median(i.stats.shuffle_write_bytes for i in its),
            "spark.driver_s": median(i.stats.driver_s for i in its),
            "sources.input_bytes": median(i.stats.input_bytes for i in its),
            "sources.scan_rows": median(i.stats.input_records for i in its),
            "sources.roundrobin_exchanges": median(
                i.stats.plan_nodes["RoundRobinExchange"] for i in its
            ),
        }
        out.update({k: median(i.layer[k] for i in its) for k in its[0].layer})
        return out

    def call_layers(self, since: int, rdd0: int) -> dict:
        """Per-iteration call-time layers from the spans recorded since
        span index ``since``."""
        t = self.tracer
        return {
            "sources.plan_s": sum(
                t.total(f"sources.{f}", since)
                for f in ("load_table", "transcripts_from_events", "with_tag")
            ),
            "reform.plan_s": t.total("reform.reform", since),
            "sources.rdd_conversions": t.counts["rdd"] - rdd0,
        }

    def timed_iteration(self) -> Iteration:
        since, rdd0 = len(self.tracer.spans), self.tracer.counts["rdd"]
        with self.tracer.span(f"{self.name}.iteration"), self.traced_calls(), self.tracer.count_rdd_conversions():
            it = self.iteration()
        if self.tracer.enabled:
            it.layer.update(self.call_layers(since, rdd0))
        return it


class PipelineHot(Workload):
    """Cached, replicated turns through parse → enrich → reform →
    route → aggregate to a noop sink. The input is cached and the
    chain's DataFrame is built during set-up, so an iteration is the
    action alone: Spark plans and runs it."""

    name = "pipeline_hot"
    warm_up_iterations = 4
    N_EVENTS = 100_000
    REPLICATE = 4
    PREFIX_REPS = 3

    def __init__(self, *args, replicate: int = REPLICATE, **kwargs):
        super().__init__(*args, **kwargs)
        self.replicate = replicate
        self.turns: DataFrame | None = None
        self.n_turns = 0

    def prepare(self, spark: SparkSession) -> None:
        self.attach(spark)
        tdir = os.path.join(self.work_dir, "tables")
        self.events_path = inputs.write_table(
            inputs.events_table(self.seed, self.N_EVENTS), os.path.join(tdir, "events.parquet")
        )
        base = transcripts.with_tag(
            transcripts.transcripts_from_events(tables.load_table(spark, tdir, "events"))
        )
        self.turns = (
            base.withColumn("_r", F.explode(F.sequence(F.lit(0), F.lit(self.replicate - 1))))
            .withColumn("conv_id", F.concat("conv_id", F.lit("-"), F.col("_r").cast("string")))
            .drop("_r")
            .repartition(self.cpus * 2, "conv_id")
            .cache()
        )
        self.n_turns = self.turns.count()
        self.pipeline = chain(self.turns, spark)

    def iteration(self) -> Iteration:
        _, stats = self.run_action("aggregate", lambda: noop(self.pipeline))
        return Iteration(stats.wall_s, self.n_turns / stats.wall_s, stats, {})

    def check(self) -> list[str]:
        got = (
            chain(self.turns, self.spark)
            .groupBy("route", "role", "tool", "hour")
            .agg(F.sum("n_turns").alias("n"))
            .toPandas()
        )
        con = duck_with({"events": self.events_path})
        want = con.execute(
            entry.TRANSCRIPTS_CTE
            + f"""SELECT {ROUTE_SQL} AS route, role, tool, CAST(hour(ts) AS INTEGER) AS hour,
                      {self.replicate} * count(*) AS n
               FROM tagged GROUP BY 1, 2, 3, 4"""
        ).fetchdf()
        con.close()
        return compare("pipeline_hot per (route, role, tool, hour)", got, want)

    def layers(self, its: list[Iteration]) -> dict:
        """Prefix-differenced layer times, the aggregate stage's
        counters and the row counts at each layer boundary."""
        out = super().layers(its)
        since = len(self.tracer.spans)
        with self.traced_calls():
            chain(self.turns, self.spark)
        out["reform.plan_s"] = self.tracer.total("reform.reform", since)
        names = ["scan", "parse", "enrich", "reform", "route", "aggregate"]
        wall, cpu = [], []
        for upto, name in enumerate(names):
            walls, cpus = [], []
            for _ in range(self.PREFIX_REPS):
                df = chain(self.turns, self.spark, upto)
                _, stats = self.run_action(f"prefix.{name}", lambda: noop(df))
                walls.append(stats.wall_s)
                cpus.append(stats.cpu_s)
            wall.append(median(walls))
            cpu.append(median(cpus))
        full = stats  # the last run of the whole chain
        for k, name in enumerate(names[1:], start=1):
            out[f"{name}.self_s"] = wall[k] - wall[k - 1]
            out[f"{name}.cpu_s"] = cpu[k] - cpu[k - 1]
        out["aggregate.shuffle_write_bytes"] = full.shuffle_write_bytes
        out["aggregate.spill_bytes"] = full.spill_bytes
        out["aggregate.task_skew"] = full.task_skew
        out["enrich.broadcast_exchanges"] = full.plan_nodes["BroadcastExchange"]
        routed = chain(self.turns, self.spark, 4)
        row = routed.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("etype").alias("parsed"),
            F.count("role_kind").alias("enriched"),
            *[F.sum((F.col("route") == r).cast("long")).alias(r) for r in ROUTE_NAMES],
            F.sum((F.col("route") == route.UNMATCHED).cast("long")).alias("unmatched"),
        ).first()
        out["parse.match_ratio"] = row["parsed"] / row["n"]
        out["enrich.match_ratio"] = row["enriched"] / row["n"]
        for r in ROUTE_NAMES:
            out[f"route.rows.{r}"] = row[r]
        out["route.unmatched_rows"] = row["unmatched"]
        out["aggregate.groups_out"] = chain(self.turns, self.spark).count()
        return out


class CommitShards(Workload):
    """Checkpointed fan-out over event shards, then a resume call that
    skips the committed shards and commits the rest. A part of
    :class:`ColdPaths`."""

    N_EVENTS = 15_000
    N_SHARDS = 3
    N_FIRST = 2

    def prepare(self, spark: SparkSession) -> None:
        self.attach(spark)
        events = inputs.events_table(self.seed, self.N_EVENTS)
        self.events_path = inputs.write_table(
            events, os.path.join(self.work_dir, "tables", "events.parquet")
        )
        shard_dir = os.path.join(self.work_dir, "shards")
        shutil.rmtree(shard_dir, ignore_errors=True)
        self.shards = inputs.shard_by_user(events, self.seed, self.N_SHARDS, shard_dir)
        self.n_iter = 0
        self.last_out: tuple[str, str, dict, dict] | None = None

    def transform(self, events_df: DataFrame) -> DataFrame:
        """``scripts/run_pipeline.py``'s transform: derive → parse →
        enrich → reform."""
        t = transcripts.with_tag(transcripts.transcripts_from_events(events_df))
        return chain(t, self.spark, 3)

    def iteration(self) -> Iteration:
        self.n_iter += 1
        base = os.path.join(self.work_dir, "commit", f"iter-{self.n_iter}")
        shutil.rmtree(base, ignore_errors=True)
        out_dir, man_dir = os.path.join(base, "out"), os.path.join(base, "manifest")

        def fanout(shards):
            return lineage.checkpointed_fanout(
                self.spark, shards, self.transform, ROUTES, out_dir, man_dir
            )

        first, first_stats = self.run_action("lineage", lambda: fanout(self.shards[: self.N_FIRST]))
        resume, resume_stats = self.run_action("lineage", lambda: fanout(self.shards))
        total = add_stats(add_stats(ActionStats(), first_stats), resume_stats)
        layer = {}
        if self.tracer.enabled:
            files = [p for p in glob.glob(os.path.join(out_dir, "**"), recursive=True) if os.path.isfile(p)]
            layer = {
                "lineage.jobs": total.jobs,
                "lineage.driver_s": total.driver_s,
                "lineage.output_bytes": total.output_bytes,
                "lineage.files_written": len(files),
                "lineage.resume_s": resume_stats.wall_s,
                "lineage.skipped_inputs": resume["skipped"],
            }
        if self.last_out is not None:
            shutil.rmtree(os.path.dirname(self.last_out[0]), ignore_errors=True)
        self.last_out = (out_dir, man_dir, first, resume)
        turns = first["n_rows"] + resume["n_rows"]
        return Iteration(total.wall_s, turns / total.wall_s, total, layer)

    def check(self) -> list[str]:
        """Checks the most recent iteration's committed output."""
        out_dir, man_dir, first, resume = self.last_out
        errors = []
        n_new = self.N_SHARDS - self.N_FIRST
        if (first["processed"], resume["processed"], resume["skipped"]) != (self.N_FIRST, n_new, self.N_FIRST):
            errors.append(
                f"commit_shards: first call processed {first['processed']}, resume call "
                f"processed {resume['processed']} and skipped {resume['skipped']}; expected "
                f"{self.N_FIRST}, {n_new} and {self.N_FIRST}"
            )
        committed = (
            lineage.read_all_batches(self.spark, out_dir).groupBy("route").count().toPandas()
        )
        committed = dict(zip(committed["route"], committed["count"]))
        manifest = {r: 0 for r in ROUTE_NAMES}
        for e in lineage.load_manifest(man_dir).values():
            for r, n in e.per_route.items():
                manifest[r] += n
        con = duck_with({"events": self.events_path})
        duck = dict(
            con.execute(entry.TRANSCRIPTS_CTE + f"SELECT {ROUTE_SQL}, count(*) FROM tagged GROUP BY 1").fetchall()
        )
        con.close()
        for r in ROUTE_NAMES:
            got = (int(committed.get(r, 0)), manifest[r], int(duck.get(r, 0)))
            if len(set(got)) != 1:
                errors.append(f"commit_shards route {r}: committed/manifest/duckdb rows {got}")
        return errors


class QueryMixCold(Workload):
    """Engine queries, each DataFrame built fresh every pass and run to
    a noop sink. A part of :class:`ColdPaths`."""

    N_EVENTS = 5_000

    def prepare(self, spark: SparkSession) -> None:
        self.attach(spark)
        self.tables_dir = os.path.join(self.work_dir, "tables")
        self.paths = {
            "events": inputs.write_table(
                inputs.events_table(self.seed, self.N_EVENTS),
                os.path.join(self.tables_dir, "events.parquet"),
            ),
        }
        self.queries = entry.queries()

    def iteration(self) -> Iteration:
        total = ActionStats()
        layer, build_s = {}, 0.0
        for q in QUERY_MIX:
            b0 = time.perf_counter()
            with self.tracer.span(f"query.{q}.build"):
                df = self.queries[q](self.spark, self.tables_dir)
            plan_s = time.perf_counter() - b0
            build_s += plan_s
            _, stats = self.run_action(f"query.{q}", lambda: noop(df))
            add_stats(total, stats)
            layer.update(
                {
                    f"query.{q}.plan_s": plan_s,
                    f"query.{q}.run_s": stats.wall_s,
                    f"query.{q}.cpu_s": stats.cpu_s,
                    f"query.{q}.shuffle_bytes": stats.shuffle_write_bytes,
                    f"query.{q}.exchanges": stats.plan_nodes["Exchange"],
                }
            )
            if q == "python_expr":
                layer["query.python_expr.python_nodes"] = stats.plan_nodes["ArrowEvalPython"]
        return Iteration(build_s + total.wall_s, 0.0, total, layer)

    def check(self) -> list[str]:
        # DuckDB evaluates the oracles in a second thread while Spark
        # collects; both release the interpreter lock while they run.
        with ThreadPoolExecutor(1) as pool:
            wanted = pool.submit(self._oracle_frames)
            got = {q: self.queries[q](self.spark, self.tables_dir).toPandas() for q in QUERY_MIX}
            want = wanted.result()
        return [e for q in QUERY_MIX for e in compare(f"query {q}", got[q], want[q])]

    def _oracle_frames(self) -> dict[str, pd.DataFrame]:
        con = duck_with(self.paths)
        try:
            oracles = entry.oracle_sql()
            return {q: con.execute(oracles[q]).fetchdf() for q in QUERY_MIX}
        finally:
            con.close()


class ColdPaths(Workload):
    """A ``commit_shards`` iteration, then a ``query_mix_cold`` pass: the
    driver-bound paths, where per-file jobs, commit, planning and scan
    fan-out dominate and per-row compute is small."""

    name = "cold_paths"
    warm_up_iterations = 2

    def __init__(self, work_dir: str, seed: int, cpus: int, tracer: Tracer):
        super().__init__(work_dir, seed, cpus, tracer)
        self.commit = CommitShards(os.path.join(work_dir, "commit"), seed, cpus, tracer)
        self.query = QueryMixCold(os.path.join(work_dir, "query"), seed, cpus, tracer)
        for part in (self.commit, self.query):
            part.name = self.name  # job groups read cold_paths.<layer>

    def prepare(self, spark: SparkSession) -> None:
        self.attach(spark)
        self.commit.prepare(spark)
        self.query.prepare(spark)

    def iteration(self) -> Iteration:
        parts = [self.commit.iteration(), self.query.iteration()]
        stats = ActionStats()
        for it in parts:
            add_stats(stats, it.stats)
        return Iteration(
            sum(it.wall_s for it in parts),
            parts[0].turns_per_s,  # the commit part's: the query part turns no transcripts
            stats,
            {k: v for it in parts for k, v in it.layer.items()},
        )

    def check(self) -> list[str]:
        return self.commit.check() + self.query.check()


WORKLOADS = {w.name: w for w in (PipelineHot, ColdPaths)}


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """The value normalisation of ``tests/test_entry_oracle.py``: columns
    by name, cells as strings (floats to 9 significant digits), rows
    sorted."""
    df = df.reindex(sorted(df.columns), axis=1)

    def norm_cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return f"{v:.9g}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        return str(v)

    out = df.map(norm_cell)
    return out.sort_values(by=list(out.columns)).reset_index(drop=True)


def compare(label: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    got, want = _norm(got), _norm(want)
    if list(got.columns) != list(want.columns):
        return [f"{label}: columns {list(got.columns)} vs {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{label}: {len(got)} rows vs {len(want)}"]
    bad = (got != want).any(axis=1)
    if bad.any():
        i = bad.idxmax()
        return [f"{label}: row {i} differs: {got.iloc[i].to_dict()} vs {want.iloc[i].to_dict()}"]
    return []
