"""The workloads. Each runs one pass at a time through the package's
public functions; the caller times passes, and the traced run wraps the
calls into each layer in spans. ``BENCHMARK.json`` names the first and
the last; ``single_plan_mix`` runs by hand.

- ``flagship_corpus``: the reference's own job over a seeded text tree,
  ``Pipeline(read_whole_files → words_from_docs → csv_load)``.
- ``single_plan_mix``: registry entries whose build call starts no data
  job; each is built with ``queries()[name](spark, dir)`` and executed
  through Spark's noop sink.
- ``eager_build_mix``: registry entries that run Spark jobs inside the
  build call (checkpoint barriers, an ``availableNow`` streaming replay,
  a CSV write then read), timed from the registry call to the end of the
  noop write.

Output checks run on the untimed warm-up pass: mix entries against their
DuckDB oracle through ``tests/compare.py``, and the flagship CSV against
``FLAGSHIP_ORACLE_SQL`` in DuckDB.
"""

from __future__ import annotations

import csv
import hashlib
import random
import shutil
import sys
import traceback
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import host
from boot import ROOT
from corpus import generate, read_tree
from tiny_etl_multiproc_bigdata_spark.functions.text import tokenize_words
from tiny_etl_multiproc_bigdata_spark.operators.pipeline import Pipeline
from tiny_etl_multiproc_bigdata_spark.plans.flagship import (
    FLAGSHIP_ORACLE_SQL,
    words_from_docs,
)
from tiny_etl_multiproc_bigdata_spark.plans.registry import oracle_sql, query_metadata
from tiny_etl_multiproc_bigdata_spark.sinks import csv_load
from tiny_etl_multiproc_bigdata_spark.sources.files import files_list, read_whole_files

sys.path.insert(0, str(ROOT / "tests"))
from compare import compare, duck_connect  # noqa: E402

BENCH = Path(__file__).resolve().parent
FIXTURE = BENCH / "fixture" / "sf0.01"

# Membership is measured: a single_plan_mix entry starts no data job while
# it is built, an eager_build_mix entry starts at least one (the traced
# run reports plans.build_jobs per entry). dedup_jaccard_prefix_filter
# checkpoints inside its build, so it is eager. The eager mix keeps the
# entries whose warm call takes a second or two, one or more per
# mechanism (checkpoint barriers, streaming replay, CSV write-then-read),
# so that a run times several passes.
SINGLE_PLAN = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q9_product_profit",
    "window_running_sum",
    "sessionize_events",
    "text_quality_score",
    "ann_bruteforce_topk",
]
EAGER_BUILD = [
    "csv_roundtrip_agg",
    "dedup_jaccard_prefix_filter",
    "streaming_stream_static_join",
]

# Warm pass time in unstolen seconds on a 4-vCPU host at local[2]; the
# number of timed passes in a run is --seconds over this.
PASS_S = {"flagship_corpus": 2.6, "single_plan_mix": 6.5, "eager_build_mix": 3.6}

# Fixture tables each entry reads, recorded from the reader calls its
# build makes; their bytes on disk are the entry's input size.
ENTRY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "q3_shipping_priority": ["customer", "lineitem", "orders"],
    "q5_region_revenue": ["customer", "lineitem", "nation", "orders", "region", "supplier"],
    "q9_product_profit": ["lineitem", "nation", "orders", "part", "supplier"],
    "window_running_sum": ["orders"],
    "sessionize_events": ["events"],
    "text_quality_score": ["documents"],
    "ann_bruteforce_topk": ["embeddings"],
    "csv_roundtrip_agg": ["lineitem"],
    "dedup_jaccard_prefix_filter": ["documents"],
    "streaming_stream_static_join": ["customer", "events"],
}


def noop_write(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def force_plan(df: DataFrame) -> None:
    """Analysis, optimization and physical planning, without running."""
    df._jdf.queryExecution().executedPlan()


class Collected:
    """A DataFrame's result, collected once; offers the ``columns`` and
    ``collect()`` the output checks read."""

    def __init__(self, df: DataFrame) -> None:
        self.columns, self._rows = list(df.columns), df.collect()

    def collect(self) -> list:
        return self._rows


class Jobs:
    """Job bookkeeping for the traced run. Job ids are global and
    sequential, so the jobs a call started are the ids handed out
    between two syncs; that also catches the streaming jobs, which run
    under their own query's job group."""

    def __init__(self, spark: SparkSession) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self.next = 0

    def sync(self) -> int:
        """Drain the listener bus, then return the next unused job id."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        while self.tracker.getJobInfo(self.next) is not None:
            self.next += 1
        return self.next

    def build_jobs(self, lo: int, hi: int) -> tuple[int, int]:
        """Jobs in [lo, hi) as (data jobs, schema jobs). A schema job is
        the one-stage ``parquet at …`` job every ``spark.read.parquet``
        runs to read footers and infer the schema: a fixed per-table
        cost of the build, counted apart from query work."""
        schema = 0
        for j in range(lo, hi):
            stages = self.tracker.getJobInfo(j).stageIds
            names = [(self.tracker.getStageInfo(s) or _NoStage).name for s in stages]
            schema += len(names) == 1 and names[0].startswith("parquet at ")
        return hi - lo - schema, schema


class _NoStage:
    name = ""


def _sync(tracer, jobs: Jobs | None) -> int | None:
    """Job-id sync inside the traced pass, in its own span so the
    bookkeeping is not charged to a layer."""
    if jobs is None:
        return None
    with tracer.span("trace.jobs"):
        return jobs.sync()


class Mix:
    """One pass builds and runs every entry once. Every pass runs the
    entries in the same cyclic order, the list's, starting at an entry
    drawn from the seed: an entry's time depends on which entry ran just
    before it (``dedup_jaccard_prefix_filter`` runs a tenth slower after
    the streaming replay than after the CSV round trip), so every entry
    always follows the same one, whatever the seed."""

    # an entry's second and third calls in a session still run about a
    # third and a tenth slower than later ones, so three passes warm up
    warmup_passes = 3

    def __init__(self, name: str, entries: list[str], spark: SparkSession, queries, seed: int):
        self.name, self.entries, self.spark, self.queries = name, entries, spark, queries
        self.pass_s = PASS_S[name]
        k = random.Random(seed).randrange(len(entries))
        self.order = entries[k:] + entries[:k]
        self.oracles = oracle_sql()
        self.meta = query_metadata()
        self.duck = duck_connect(str(FIXTURE))
        self.input_bytes = sum(
            (FIXTURE / f"{t}.parquet").stat().st_size for e in entries for t in ENTRY_TABLES[e]
        )
        self.failures: list[str] = []

    def check(self, name: str, df) -> list[str]:
        return compare(df, self.duck, self.oracles[name], exact_floats=self.meta[name]["ulp_sensitive"])

    def run_pass(self, tracer, jobs: Jobs | None, check: bool) -> dict:
        """Build and run every entry once. A checking pass collects each
        result instead of writing it to the noop sink, so the check needs
        no second execution."""
        queries = []
        for name in self.order:
            group = f"{self.name}:{name}"
            self.spark.sparkContext.setJobGroup(group, group)
            rec = {"query": name}
            j0 = _sync(tracer, jobs)
            try:
                with tracer.span("query", query=name):
                    t0, k0 = host.mark()
                    with tracer.span("plans.build"):
                        df = self.queries[name](self.spark, str(FIXTURE))
                    t1 = host.mark()[0]
                    if jobs:
                        j1 = _sync(tracer, jobs)
                        with tracer.span("plans.plan"):
                            force_plan(df)
                    with tracer.span("plans.exec"):
                        if check:
                            df = Collected(df)
                        else:
                            noop_write(df)
                    t2, k2 = host.mark()
            except Exception:
                traceback.print_exc()
                self.failures.append(f"{name}: raised")
                rec["error"] = True
                queries.append(rec)
                continue
            rec.update(build_s=t1 - t0, wall_s=t2 - t0, steal_share=host.steal_share(k0, k2))
            if jobs:
                data, schema = jobs.build_jobs(j0, j1)
                rec.update(jobs=[j0, _sync(tracer, jobs)], build_jobs=data, build_schema_jobs=schema)
            if check:
                problems = self.check(name, df)
                if problems:
                    self.failures.append(f"{name}: {problems[0]}")
                    rec["error"] = True
            queries.append(rec)
        return {"queries": queries, "wall_s": sum(q.get("wall_s", 0.0) for q in queries)}

    def probes(self, tracer, jobs: Jobs) -> dict:
        return {}


class Flagship:
    """One pass is one run of the reference's flagship job over the
    seeded corpus, writing CSV; the output directory is cleared before
    every pass so each write is the same overwrite."""

    name = "flagship_corpus"
    pass_s = PASS_S[name]
    # a pass is short, and the second and third passes in a session still
    # run a fifth and a tenth slower than later ones (JIT), so three warm up
    warmup_passes = 3

    def __init__(self, spark: SparkSession, work: Path, seed: int):
        self.spark = spark
        self.corpus = work / "corpus"
        self.out = work / "flagship_csv"
        info = generate(self.corpus, seed)
        self.files, self.input_bytes = info["files"], info["bytes"]
        self.failures: list[str] = []

    def pipeline(self, tracer) -> Pipeline:
        def extract(spark):
            with tracer.span("sources.read_whole_files"):
                return read_whole_files(
                    spark, str(self.corpus), ".txt", path_key="source", content_key="text"
                )

        def transform(df):
            with tracer.span("plans.build"):
                return words_from_docs(df)

        def load(df):
            with tracer.span("sinks.csv_write"):
                csv_load(df, str(self.out))

        return Pipeline(extract=extract, transformers=[transform], loaders=[load])

    def run_pass(self, tracer, jobs: Jobs | None, check: bool) -> dict:
        shutil.rmtree(self.out, ignore_errors=True)
        self.spark.sparkContext.setJobGroup(f"{self.name}:flagship", "flagship")
        j0 = _sync(tracer, jobs)
        try:
            with tracer.span("query", query="flagship"):
                t0, k0 = host.mark()
                with tracer.span("operators.pipeline.run"):
                    self.pipeline(tracer).run(self.spark)
                t1, k1 = host.mark()
        except Exception:
            traceback.print_exc()
            self.failures.append("flagship: raised")
            return {"queries": [{"query": "flagship", "error": True}], "wall_s": 0.0}
        rec = {"query": "flagship", "wall_s": t1 - t0, "steal_share": host.steal_share(k0, k1)}
        if jobs:
            rec["jobs"] = [j0, _sync(tracer, jobs)]
        if check:
            problems = self.check()
            if problems:
                self.failures.append(f"flagship: {problems[0]}")
                rec["error"] = True
        return {"queries": [rec], "wall_s": t1 - t0}

    def csv_rows(self) -> tuple[list[str], list[tuple[str, ...]]]:
        header, rows = None, []
        for part in sorted(self.out.glob("part-*.csv")):
            with open(part, encoding="utf-8", newline="") as f:
                reader = csv.reader(f, delimiter=";")
                header = next(reader, header)
                rows.extend(tuple(r) for r in reader)
        return header or [], rows

    def check(self) -> list[str]:
        """Read the CSV back and compare it (rows plus an order-insensitive
        hash) with FLAGSHIP_ORACLE_SQL run in DuckDB over the same files."""
        import duckdb
        import pyarrow as pa

        header, got = self.csv_rows()
        docs = read_tree(self.corpus)
        con = duckdb.connect()
        try:
            con.register(
                "documents",
                pa.table({"source": [d[0] for d in docs], "text": [d[1] for d in docs]}),
            )
            res = con.execute(FLAGSHIP_ORACLE_SQL)
            want_header = [d[0] for d in res.description]
            want = [
                tuple(str(v).lower() if isinstance(v, bool) else str(v) for v in r)
                for r in res.fetchall()
            ]
        finally:
            con.close()
        problems = []
        if header != want_header:
            problems.append(f"header {header} != {want_header}")
        if len(got) != len(want):
            problems.append(f"rows {len(got)} != {len(want)}")
        digest = lambda rows: hashlib.sha256(repr(sorted(rows)).encode()).hexdigest()  # noqa: E731
        if digest(got) != digest(want):
            problems.append("row hash differs from the DuckDB oracle")
        return problems

    def probes(self, tracer, jobs: Jobs) -> dict:
        """Layer probes of the traced run, each a separate action."""
        corpus = str(self.corpus)
        out = {}

        def probe(name, fn):
            self.spark.sparkContext.setJobGroup(f"{self.name}:probe.{name}", name)
            j0 = jobs.sync()
            with tracer.span(name, query=f"probe.{name}") as span:
                value = fn()
            out[name] = {"jobs": [j0, jobs.sync()], "span": span.id}
            return value

        probe("sources.list", lambda: files_list(self.spark, corpus).count())
        probe("sources.scan", lambda: noop_write(read_whole_files(self.spark, corpus)))
        probe(
            "functions.tokenize",
            lambda: noop_write(
                read_whole_files(self.spark, corpus).select(
                    F.explode(tokenize_words(F.col("content"))).alias("token")
                )
            ),
        )
        planned = probe("operators.pipeline.plan", lambda: self.pipeline(tracer).plan(self.spark))
        probe("plans.plan", lambda: force_plan(planned))
        probe("plans.exec", lambda: noop_write(planned))
        return out


def make(workload: str, spark: SparkSession, queries, work: Path, seed: int):
    if workload == "flagship_corpus":
        return Flagship(spark, work, seed)
    entries = SINGLE_PLAN if workload == "single_plan_mix" else EAGER_BUILD
    return Mix(workload, entries, spark, queries, seed)
