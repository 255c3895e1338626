"""Benchmark runner — prints ONE JSON line for the driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. Each query is fully
materialized through the noop sink (whole-plan execution, no driver-side
collect), mirroring how a cluster job would be measured.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    from tiny_etl_multiproc_bigdata_spark.session import _cpus, get_spark
    from tiny_etl_multiproc_bigdata_spark.plans.registry import queries

    headline = [
        "flagship_words",
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_region_revenue",
        "window_running_sum",
        "sessionize_events",
        "dedup_minhash_lsh",
        "text_quality_score",
        "ann_bruteforce_topk",
        "corpus_curation",
    ]

    spark = get_spark(app_name="bench")
    all_queries = queries()

    # Load-noise protocol (VERDICT r07 item 4): three rounds running,
    # wall-median deltas of +-30% had to be explained away as machine
    # load. Per battery: one UNTIMED warm run first (codegen, page
    # cache, committer class loading), then median of N timed runs
    # (N=5 headline — cheap; N=3 amplified/sf1 — each run is seconds of
    # sustained compute), and the 1-minute load average recorded before
    # each battery so a judge can see contention instead of inferring
    # it. Round-over-round comparisons should gate on sustained-MB/s
    # and stage-cardinality numbers, not wall medians.
    load_avg: dict[str, float] = {}

    def mark_load(battery: str) -> None:
        load_avg[battery] = round(os.getloadavg()[0], 2)

    # one untimed warmup job: first-run JVM costs (codegen compilation,
    # committer/broadcast class loading) are ~3s and would otherwise be
    # billed to the first query — the baseline rate we compare against
    # (BASELINE.md) is a steady-state throughput constant
    all_queries["flagship_words"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    mark_load("headline")
    timings: dict[str, float] = {}
    total = 0.0
    for name in headline:
        fn = all_queries.get(name)
        if fn is None:
            continue
        # warm the plan (analysis/IO metadata) outside the timed region
        df = fn(spark, sf_dir)
        # warm-once + median of 5 (r08 protocol): the first execution
        # pays per-plan codegen/page-cache costs, and single-shot
        # numbers vary up to 5× under VM load (BENCH_r03 recorded q1 at
        # 8.98s vs 1.6s steady-state)
        df.write.format("noop").mode("overwrite").save()
        runs = []
        for _ in range(5):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
        dt = sorted(runs)[2]
        timings[name] = round(dt, 3)
        total += dt
        print(f"# {name}: {dt:.3f}s (runs: {[round(r, 3) for r in runs]})", file=sys.stderr)

    # sustained-throughput measurement: the fixture corpus is ~1.5 MB at
    # sf0.1, so per-query wall time above is dominated by fixed job
    # overhead, not work. Amplify the corpus in-memory (cross join with
    # a replication range — no extra IO) and measure the flagship
    # tokenize→dedup→count pipeline in MB/s for the BASELINE.md
    # comparison (reference: 1.95 MB/s).
    from pyspark.sql import functions as F

    from tiny_etl_multiproc_bigdata_spark.plans.flagship import words_from_labelled_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus_bytes = docs.select(
        F.sum(F.length(F.col("text").cast("binary")))
    ).collect()[0][0]
    # 512 reps ≈ 600 MB at sf0.1: per-run wall is seconds of sustained
    # compute, so round-over-round deltas measure throughput, not the
    # ~0.1s fixed job-setup cost that dominated at n_rep=64 (VERDICT r04
    # item 6)
    n_rep = 512
    cpus = _cpus()
    # replication range is the partitioned stream side, tiny corpus is
    # broadcast: each task GENERATES its replicas locally — no shuffle
    # of the amplified text (a real corpus gets this from input splits)
    amplified = (
        spark.range(n_rep)
        .repartition(cpus)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(docs))
        .select(F.concat_ws("#", "source", "rep").alias("source"), "text")
    )
    # warm-once + median of 3: each run is tens of seconds of sustained
    # compute, so one warm pass + 3 timed keeps the battery bounded
    # while absorbing load spikes
    mark_load("sustained")
    words_from_labelled_docs(amplified).write.format("noop").mode("overwrite").save()
    runs: list[float] = []
    for i in range(3):
        t0 = time.perf_counter()
        words_from_labelled_docs(amplified).write.format("noop").mode("overwrite").save()
        runs.append(time.perf_counter() - t0)
        print(f"# sustained run {i + 1}: {runs[-1]:.1f}s", file=sys.stderr)
    dt = sorted(runs)[1]
    mb_per_s = (corpus_bytes * n_rep / 1e6) / dt
    print(
        f"# flagship sustained (median of 3): {corpus_bytes * n_rep / 1e6:.0f} MB in "
        f"{dt:.1f}s = {mb_per_s:.1f} MB/s",
        file=sys.stderr,
    )

    # Amplified runs for the six heaviest join/shuffle topologies
    # (VERDICT r04 item 6 widened by r05 item 3): at sf0.1 the
    # per-query medians are well under job-setup cost, so scale the
    # INPUT and report work-rate. Median of 3 per topology (VERDICT r06
    # item 2): the single-shot r6 minhash number read +42% vs r5, and a
    # median-of-5 re-run on the identical build measured 6.14s vs the
    # recorded 8.33s — pure machine-load noise that a robust stat
    # absorbs.
    amp_rep = 16
    amplified: dict[str, dict[str, float]] = {}
    mark_load("amplified")

    def timed_amp(name: str, run, basis_key: str, basis_bytes: int) -> None:
        # a single failing battery entry must not lose the rest of the
        # run's evidence (the BENCH_r08 lesson, generalized): record
        # the error in-JSON and keep going
        try:
            run()  # warm-once (r08 protocol)
            samples = []
            for _ in range(3):
                t0 = time.perf_counter()
                run()
                samples.append(time.perf_counter() - t0)
        except Exception as ex:  # noqa: BLE001 — recorded, not hidden
            amplified[name] = {"rep": amp_rep, "error": f"{type(ex).__name__}: {ex}"[:300]}
            print(f"# {name} amplified FAILED: {ex}", file=sys.stderr)
            return
        dt = sorted(samples)[1]
        amplified[name] = {
            "rep": amp_rep,
            "sec": round(dt, 3),
            basis_key: round(basis_bytes * amp_rep / 1e6 / dt, 2),
        }
        print(
            f"# {name} amplified x{amp_rep}: {dt:.1f}s "
            f"(runs: {[round(s, 3) for s in samples]})",
            file=sys.stderr,
        )

    from functools import reduce

    from tiny_etl_multiproc_bigdata_spark.plans.relational import q1_from_lineitem

    # k unioned parquet scans = k× input splits — the honest more-data
    # shape (each branch re-reads the file; no broadcast of a big side)
    li_scan = lambda: spark.read.parquet(f"{sf_dir}/lineitem.parquet")  # noqa: E731
    li_amp = reduce(lambda a, b: a.unionAll(b), [li_scan() for _ in range(amp_rep)])
    li_bytes = os.path.getsize(f"{sf_dir}/lineitem.parquet")
    # basis is COMPRESSED parquet bytes (what the scan reads) — not
    # comparable with the minhash entry's uncompressed text basis; each
    # entry is for round-over-round deltas of itself, so the basis is
    # named in the key instead of sharing a falsely-common unit
    timed_amp(
        "q1_pricing_summary",
        lambda: q1_from_lineitem(li_amp)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "parquet_mb_per_s",
        li_bytes,
    )

    from tiny_etl_multiproc_bigdata_spark.plans.dedup_queries import (
        minhash_pairs_from_docs,
    )

    # replicate docs under distinct ids + a per-replica hash salt, so
    # candidate pairs scale linearly (independent corpora per replica)
    # instead of quadratically (cross-replica duplicate clusters)
    docs_amp = (
        spark.range(amp_rep)
        .repartition(cpus)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(docs.select("doc_id", "text")))
        .select(
            (F.col("doc_id") * amp_rep + F.col("rep")).alias("doc_id"),
            "text",
            F.col("rep").cast("string").alias("salt"),
        )
    )
    timed_amp(
        "dedup_minhash_lsh",
        lambda: minhash_pairs_from_docs(docs_amp)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "text_mb_per_s",
        corpus_bytes,
    )

    # q9: the deepest broadcast-chain + wide-exchange TPC-H shape —
    # amplified lineitem (unioned scans) against single-read dims
    from tiny_etl_multiproc_bigdata_spark.plans.tpch_extra import q9_from_tables

    li_amp9 = reduce(
        lambda a, b: a.unionAll(b), [li_scan() for _ in range(amp_rep)]
    )
    timed_amp(
        "q9_product_profit",
        lambda: q9_from_tables(
            li_amp9,
            spark.read.parquet(f"{sf_dir}/orders.parquet"),
            spark.read.parquet(f"{sf_dir}/supplier.parquet"),
            spark.read.parquet(f"{sf_dir}/nation.parquet"),
            spark.read.parquet(f"{sf_dir}/part.parquet"),
        )
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "parquet_mb_per_s",
        li_bytes,
    )

    # prefix-filter join: the heaviest candidate-generation topology
    # (df-ordered postings, window, inverted-index self-join, verify);
    # replica salt keeps candidate growth linear, as with minhash
    from tiny_etl_multiproc_bigdata_spark.plans.dedup_queries import (
        prefix_filter_pairs_from_docs,
    )

    timed_amp(
        "dedup_jaccard_prefix_filter",
        lambda: prefix_filter_pairs_from_docs(docs_amp)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "text_mb_per_s",
        corpus_bytes,
    )

    # corpus_curation: the end-to-end selection pipeline (quality scan +
    # minhash clustering + survivor filter). The label-propagation loop
    # runs Spark jobs at plan-CONSTRUCTION time, so the timed region
    # wraps construction + the final materialization.
    from tiny_etl_multiproc_bigdata_spark.plans.curation import (
        curation_from_docs,
    )

    timed_amp(
        "corpus_curation",
        lambda: curation_from_docs(docs_amp)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "text_mb_per_s",
        corpus_bytes,
    )

    # pretrain_corpus_pipeline: the round-6 end-to-end curation chain
    # (gate → corpus segment dedup → chunk accounting). Replica salt in
    # the segment hash keeps replicas independent corpora (same
    # convention as the minhash/prefix-filter salt), so dedup load
    # scales linearly with rep.
    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
        pipeline_from_docs,
    )

    docs_pipe = (
        spark.range(amp_rep)
        .repartition(cpus)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(docs.select("doc_id", "source", "lang", "text")))
        .select(
            (F.col("doc_id") * amp_rep + F.col("rep")).alias("doc_id"),
            F.concat_ws("#", "source", "rep").alias("source"),
            "lang",
            "text",
            F.col("rep").cast("string").alias("salt"),
        )
    )
    timed_amp(
        "pretrain_corpus_pipeline",
        lambda: pipeline_from_docs(docs_pipe)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "text_mb_per_s",
        corpus_bytes,
    )

    # embedding_gram_matrix (r7 session 3): pure outer-product
    # aggregation throughput — replicated embeddings under distinct
    # vec_ids; the d(d+1)/2 key space is constant, so this isolates the
    # map-side expansion + partial-agg fold rate.
    from tiny_etl_multiproc_bigdata_spark.plans.vector_queries import (
        gram_from_embeddings,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    emb_bytes = os.path.getsize(f"{sf_dir}/embeddings.parquet")
    emb_amp = (
        spark.range(amp_rep)
        .repartition(cpus)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(emb.select("vec_id", "embedding")))
        .select(
            (F.col("vec_id") * amp_rep + F.col("rep")).alias("vec_id"),
            "embedding",
        )
    )
    timed_amp(
        "embedding_gram_matrix",
        lambda: gram_from_embeddings(emb_amp)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "parquet_mb_per_s",
        emb_bytes,
    )

    # naive_bayes_lang_confusion (r7 session 3): model build + broadcast
    # scoring over a replicated corpus under distinct doc ids — the
    # localCheckpoint barriers mean the train scan runs once per timed
    # invocation, not once per model-table consumer.
    from tiny_etl_multiproc_bigdata_spark.plans.quality import (
        nb_confusion_from_docs,
    )

    docs_nb = (
        spark.range(amp_rep)
        .repartition(cpus)
        .select(F.col("id").alias("rep"))
        .crossJoin(F.broadcast(docs.select("doc_id", "text", "lang")))
        .select(
            (F.col("doc_id") * amp_rep + F.col("rep")).alias("doc_id"),
            "text",
            "lang",
        )
    )
    timed_amp(
        "naive_bayes_lang_confusion",
        lambda: nb_confusion_from_docs(docs_nb)
        .write.format("noop")
        .mode("overwrite")
        .save(),
        "text_mb_per_s",
        corpus_bytes,
    )

    # sf1 section (VERDICT r06 item 3): the ×16 amplification above
    # replicates the same key spaces (replica independence via a salt
    # column); distinct-key GROWTH — what actually sizes hash tables,
    # shuffles and dedup state — needs a bigger fixture. benchgen builds
    # a deterministic 10×-sf0.1 dataset whose orderkey/partkey/doc_id
    # spaces grow 10× and whose document text is rotated through a
    # per-replica bijective letter substitution, so the corpus-wide
    # shingle/segment space genuinely grows ~10× (no salt column).
    # Single-shot per topology: this section detects super-linear
    # scaling (2×+ effects), not 10% deltas — the median-of-3 amplified
    # section above is the fine-grained round-over-round comparator.
    # Skipped below sf0.1 so the sf0.01 verify probe stays fast.
    sf1: dict[str, dict[str, float]] = {}
    layout: dict[str, dict[str, float]] = {}
    if float(sf) >= 0.1:
        # a fixture-build or probe failure here must not lose the
        # streaming battery's evidence (r09 hardening)
        try:
            mark_load("sf1")
            from tiny_etl_multiproc_bigdata_spark.benchgen import ensure_sf1

            sf1_dir = os.path.join(os.path.dirname(__file__), ".bench_sf1")
            t0 = time.perf_counter()
            ensure_sf1(spark, sf_dir, sf1_dir)
            print(
                f"# sf1 fixture ready in {time.perf_counter() - t0:.1f}s",
                file=sys.stderr,
            )

            def _dir_bytes(path: str) -> int:
                # sf1 tables are directories of part files, EXCEPT events,
                # which must be one file (the streaming source glob-matches
                # the literal file name)
                if os.path.isfile(path):
                    return os.path.getsize(path)
                return sum(
                    os.path.getsize(os.path.join(r, f))
                    for r, _, fs in os.walk(path)
                    for f in fs
                )

            li1_bytes = _dir_bytes(f"{sf1_dir}/lineitem.parquet")
            docs1 = spark.read.parquet(f"{sf1_dir}/documents.parquet")
            docs1_bytes = docs1.select(
                F.sum(F.length(F.col("text").cast("binary")))
            ).collect()[0][0]

            def timed_sf1(name: str, run, basis_key: str, basis_bytes: int) -> None:
                # one untimed warm run first: the cold pass pays page-cache
                # fill + fresh-schema codegen (~9s on q1 — larger than the
                # warm query itself); the steady-state number is what
                # detects super-linear scaling
                try:
                    run()
                    t0 = time.perf_counter()
                    run()
                    dt = time.perf_counter() - t0
                except Exception as ex:  # noqa: BLE001 — recorded, not hidden
                    sf1[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
                    print(f"# sf1 {name} FAILED: {ex}", file=sys.stderr)
                    return
                sf1[name] = {
                    "sec": round(dt, 3),
                    basis_key: round(basis_bytes / 1e6 / dt, 2),
                }
                print(f"# sf1 {name}: {dt:.1f}s", file=sys.stderr)

            li1 = lambda: spark.read.parquet(f"{sf1_dir}/lineitem.parquet")  # noqa: E731
            timed_sf1(
                "q1_pricing_summary",
                lambda: q1_from_lineitem(li1())
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "parquet_mb_per_s",
                li1_bytes,
            )
            timed_sf1(
                "q9_product_profit",
                lambda: q9_from_tables(
                    li1(),
                    spark.read.parquet(f"{sf1_dir}/orders.parquet"),
                    spark.read.parquet(f"{sf1_dir}/supplier.parquet"),
                    spark.read.parquet(f"{sf1_dir}/nation.parquet"),
                    spark.read.parquet(f"{sf1_dir}/part.parquet"),
                )
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "parquet_mb_per_s",
                li1_bytes,
            )
            d1 = docs1.select("doc_id", "text")
            timed_sf1(
                "dedup_minhash_lsh",
                lambda: minhash_pairs_from_docs(d1)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "text_mb_per_s",
                docs1_bytes,
            )
            timed_sf1(
                "dedup_jaccard_prefix_filter",
                lambda: prefix_filter_pairs_from_docs(d1)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "text_mb_per_s",
                docs1_bytes,
            )
            timed_sf1(
                "corpus_curation",
                lambda: curation_from_docs(d1)
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "text_mb_per_s",
                docs1_bytes,
            )
            timed_sf1(
                "pretrain_corpus_pipeline",
                lambda: pipeline_from_docs(
                    docs1.select("doc_id", "source", "lang", "text")
                )
                .write.format("noop")
                .mode("overwrite")
                .save(),
                "text_mb_per_s",
                docs1_bytes,
            )

            # New-tier sf1 battery (VERDICT r07 item 5): the r07 additions
            # (graph structure, survival analysis, skyline, stream-stream
            # join family) had only sf0.1 evidence. Run the 5 most
            # expensive via their registry callables against the sf1
            # fixture — real key growth (10x users/orders), not cloning.
            # Entries that run Spark jobs at plan-construction time (graph
            # iteration barriers) are timed construction + materialization,
            # same convention as corpus_curation. Cardinality-audit notes
            # per entry live in SCALE_NOTES ("sf1 new-tier battery").
            from tiny_etl_multiproc_bigdata_spark.benchgen import (
                ensure_sf1_events,
            )

            ensure_sf1_events(spark, sf_dir, sf1_dir)
            ev1_bytes = _dir_bytes(f"{sf1_dir}/events.parquet")

            def timed_sf1_entry(name: str, basis_key: str, basis_bytes: int) -> None:
                fn = all_queries[name]

                def run():
                    fn(spark, sf1_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()

                timed_sf1(name, run, basis_key, basis_bytes)

            timed_sf1_entry("hits_hub_authority", "parquet_mb_per_s", li1_bytes)
            timed_sf1_entry(
                "label_propagation_communities", "parquet_mb_per_s", li1_bytes
            )
            timed_sf1_entry("kaplan_meier_retention", "parquet_mb_per_s", ev1_bytes)
            timed_sf1_entry(
                "skyline_pareto_parts",
                "parquet_mb_per_s",
                _dir_bytes(f"{sf1_dir}/part.parquet"),
            )
            timed_sf1_entry(
                "streaming_stream_stream_full_outer",
                "parquet_mb_per_s",
                ev1_bytes,
            )

            # Causal/experimentation + telemetry tier (VERDICT r08 item 5):
            # these had only sf0.1 evidence. Real key growth at sf1 —
            # 10x customers for the caliper match, 10x event users for
            # CUPED / diff-in-differences / near-time dedup. Cardinality
            # notes in SCALE_NOTES ("sf1 causal battery").
            timed_sf1_entry(
                "caliper_nearest_match",
                "parquet_mb_per_s",
                _dir_bytes(f"{sf1_dir}/customer.parquet"),
            )
            timed_sf1_entry(
                "cuped_variance_reduction", "parquet_mb_per_s", ev1_bytes
            )
            timed_sf1_entry("diff_in_differences", "parquet_mb_per_s", ev1_bytes)
            timed_sf1_entry(
                "telemetry_near_time_dedup", "parquet_mb_per_s", ev1_bytes
            )

            # Pair-stage tier (VERDICT r09 item 3): the r09-attested
            # blocked-quadratic entries, sf1-timed with candidate counts
            # measured by tools/sf1_cardinality_audit.py — itemcf /
            # apriori / RA-linkpred hold exactly linear (x10, caps
            # constant); theil_sen's uncapped pairs grew x100.7, which
            # r10 fixed with the _TS_FAMILY_CAP sample (SCALE_NOTES).
            timed_sf1_entry("itemcf_topk_similar", "parquet_mb_per_s", li1_bytes)
            timed_sf1_entry(
                "apriori_brand_triples", "parquet_mb_per_s", li1_bytes
            )
            timed_sf1_entry(
                "resource_allocation_linkpred", "parquet_mb_per_s", li1_bytes
            )
            timed_sf1_entry(
                "theil_sen_grouped",
                "parquet_mb_per_s",
                _dir_bytes(f"{sf1_dir}/part.parquet"),
            )
            # Vector tier (VERDICT r10 item 2): the embeddings table
            # joined the sf1 fixture in r11 (vec_id/label remap +
            # per-replica orthogonal dimension shift — benchgen). Two
            # representatives track round-over-round: the LSH-bucketed
            # ANN scale path and the banded embedding dedup; the full
            # 34-entry tier is timed by tools/sf1_timing_sweep.py.
            from tiny_etl_multiproc_bigdata_spark.benchgen import (
                ensure_sf1_embeddings,
            )

            ensure_sf1_embeddings(spark, sf_dir, sf1_dir)
            emb1_bytes = _dir_bytes(f"{sf1_dir}/embeddings.parquet")
            timed_sf1_entry("ann_lsh_topk", "parquet_mb_per_s", emb1_bytes)
            timed_sf1_entry(
                "dedup_embedding_lsh", "parquet_mb_per_s", emb1_bytes
            )
            # r10: the probe-union rewrite target — was 89.9s at sf1
            # under the old interval-RANGE frame (quadratic in density,
            # found by tools/sf1_timing_sweep.py), now a running-cumsum
            timed_sf1_entry(
                "window_range_interval_frame", "parquet_mb_per_s", ev1_bytes
            )

            # Layout section (VERDICT r07 item 6): the one real sf1 finding
            # was encoding density — 10x distinct keys defeat per-row-group
            # dictionary encoding and q1/q9 scan cost rises ~1.6x/row. The
            # sorted_write_layout registry entry pins the rewrite's
            # losslessness; THIS measures the remedy: identical probes over
            # the same rows in arrival order vs sorted
            # (range-partition + sortWithinPartitions on l_shipdate,
            # l_orderkey), plus on-disk bytes — dictionary recovery shows
            # up as both smaller files and faster decode.
            mark_load("layout")
            from tiny_etl_multiproc_bigdata_spark.benchgen import ensure_layouts

            layout_dir = os.path.join(os.path.dirname(__file__), ".bench_layout")
            t0 = time.perf_counter()
            ensure_layouts(spark, sf1_dir, layout_dir)
            print(
                f"# layout fixtures ready in {time.perf_counter() - t0:.1f}s",
                file=sys.stderr,
            )

            def key_scan_probe(df):
                # map-only decode probe over the KEY columns — isolates the
                # encoding-density effect from join/shuffle work
                return df.agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("l_orderkey").alias("s1"),
                    F.sum("l_partkey").alias("s2"),
                    F.sum("l_suppkey").alias("s3"),
                )

            for lname in ("arrival", "sorted"):
                ldir = os.path.join(layout_dir, lname)
                lbytes = _dir_bytes(ldir)
                probes: dict[str, float] = {"bytes_mb": round(lbytes / 1e6, 1)}
                for pname, probe in (
                    ("key_scan", lambda: key_scan_probe(
                        spark.read.parquet(ldir))),
                    ("q1", lambda: q1_from_lineitem(spark.read.parquet(ldir))),
                ):
                    probe().write.format("noop").mode("overwrite").save()  # warm
                    samples = []
                    for _ in range(3):
                        t0 = time.perf_counter()
                        probe().write.format("noop").mode("overwrite").save()
                        samples.append(time.perf_counter() - t0)
                    dt = sorted(samples)[1]
                    probes[f"{pname}_sec"] = round(dt, 3)
                    probes[f"{pname}_mb_per_s"] = round(lbytes / 1e6 / dt, 1)
                layout[lname] = probes
                print(f"# layout {lname}: {probes}", file=sys.stderr)
        except Exception as ex:  # noqa: BLE001 — recorded, not hidden
            sf1["_section_error"] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
            print(f"# sf1/layout section FAILED: {ex}", file=sys.stderr)

    # Streaming throughput (VERDICT r06 item 6): replay the fixtures
    # through the two load-bearing stateful topologies with availableNow
    # and report rows/s plus the state-store row count from the query's
    # final progress — the number that grows with corpus size and
    # decides state-backend sizing at scale (SCALE_NOTES.md).
    import shutil
    import tempfile

    from pyspark.sql.types import LongType

    streaming: dict[str, dict[str, float]] = {}
    mark_load("streaming")

    def timed_stream(name: str, df, output_mode: str, in_rows: int) -> None:
        ckpt = tempfile.mkdtemp(prefix=f"bench_{name}_")
        try:
            t0 = time.perf_counter()
            q = (
                df.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .outputMode(output_mode)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            dt = time.perf_counter() - t0
            state_rows = sum(
                int(op.get("numRowsTotal", 0))
                for p in [q.lastProgress or {}]
                for op in p.get("stateOperators", [])
            )
            streaming[name] = {
                "sec": round(dt, 3),
                "input_rows": in_rows,
                "rows_per_s": round(in_rows / dt),
                "state_rows": state_rows,
            }
            print(
                f"# streaming {name}: {in_rows} rows in {dt:.1f}s "
                f"({in_rows / dt:,.0f} rows/s, state={state_rows})",
                file=sys.stderr,
            )
        except Exception as ex:  # noqa: BLE001 — recorded, not hidden
            streaming[name] = {"error": f"{type(ex).__name__}: {ex}"[:300]}
            print(f"# streaming {name} FAILED: {ex}", file=sys.stderr)
        finally:
            shutil.rmtree(ckpt, ignore_errors=True)

    from tiny_etl_multiproc_bigdata_spark.plans.corpus_ops import (
        segment_hash_structs,
    )
    from tiny_etl_multiproc_bigdata_spark.functions.text import (
        tokenize_words_nonempty,
    )

    ev_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    ev_rows = spark.read.parquet(f"{sf_dir}/events.parquet").count()
    raw = (
        spark.readStream.schema(ev_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if isinstance(ev_schema["ts"].dataType, LongType):
        ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    else:
        ev = raw.withColumn(
            "ts",
            F.timestamp_micros(
                F.to_unix_timestamp("ts") * F.lit(1_000_000).cast("bigint")
                + F.date_format("ts", "SSSSSS").cast("bigint")
            ),
        )
    tumbling = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(30,2)")).alias("sum_value"),
        )
    )
    timed_stream("streaming_tumbling_counts", tumbling, "complete", ev_rows)

    doc_schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    doc_rows = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    docs_stream = (
        spark.readStream.schema(doc_schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
    segs = (
        docs_stream.select(tokenize_words_nonempty("text").alias("l"))
        .where(F.size("l") >= 1)
        .select(F.explode(segment_hash_structs()).alias("s"))
        .select(
            F.col("s.h").alias("h"),
            F.col("s.seg_len").cast("bigint").alias("seg_len"),
        )
        .dropDuplicates(["h"])
    )
    timed_stream("streaming_segment_dedup", segs, "append", doc_rows)

    payload = {
        "metric": "headline_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "flagship_sustained_mb_per_s": round(mb_per_s, 2),
        "amplified": amplified,
        "sf1": sf1,
        "layout": layout,
        "streaming": streaming,
        "load_avg": load_avg,
        "protocol": (
            "warm-once per plan, then median of 5 (headline) / "
            "3 (sustained, amplified, layout) timed runs; sf1 "
            "warm-once + single steady-state run; load_avg is "
            "the 1-min load average sampled at each battery "
            f"start ({cpus} local cores)"
        ),
    }

    # VERDICT r08 item 2: the full battery JSON outgrew the driver's
    # 2000-char stdout tail capture, so BENCH_r08.json came back
    # `parsed: null` and the headline block was lost. Persist the FULL
    # battery to a committed BENCH_FULL_r{N}.json next to this script
    # (round inferred as 1 + the highest committed BENCH_r* file, the
    # round currently being driven; overridable via SPARK_GRAFT_ROUND)
    # and keep stdout's LAST line a compact summary that always fits
    # the capture window.
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    n = None
    if env_round is not None:
        try:
            n = int(env_round)
        except ValueError:
            # ADVICE r09: a malformed override must not throw AFTER the
            # whole battery has run — fall back to file inference.
            print(
                f"# SPARK_GRAFT_ROUND={env_round!r} is not an int; "
                "inferring round from committed BENCH_r* files",
                file=sys.stderr,
            )
    if n is None:
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        n = max(rounds) + 1 if rounds else 0
    full_name = f"BENCH_FULL_r{n:02d}.json" if n > 0 else "BENCH_FULL.json"
    # VERDICT r13 item 6: an unconditional write here destroyed the
    # committed quiet reference mid-round (restored by 9f3b98d) and a
    # driver 8-core probe littered a bogus BENCH_FULL_r14.json. Every
    # run now lands in a scratch file; the canonical committed
    # BENCH_FULL_r{N}.json is only touched when the invoker explicitly
    # opts in with SPARK_GRAFT_BENCH_CANONICAL=1.
    if os.environ.get("SPARK_GRAFT_BENCH_CANONICAL") == "1":
        full_path = os.path.join(repo, full_name)
    else:
        full_name = "BENCH_FULL_last_run.json"
        full_path = os.path.join(repo, full_name)
    with open(full_path, "w") as f:
        json.dump(payload, f, indent=1)
        f.write("\n")
    print(f"# full battery written to {full_path}", file=sys.stderr)

    compact = {
        "metric": "headline_total_wall",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "flagship_sustained_mb_per_s": round(mb_per_s, 2),
        "load_avg": load_avg,
        "full": full_name,
    }
    line = json.dumps(compact)
    # belt-and-braces: degrade gracefully rather than ever exceeding
    # the 1500-char budget the driver's tail capture guarantees to hold
    for drop in ("load_avg", "queries"):
        if len(line) <= 1500:
            break
        compact.pop(drop, None)
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
