"""Plan-quality regression tests: the physical plans that matter at
100 TB must keep their shape — pushdown reaching the scan, dims
broadcast, top-k via TakeOrderedAndProject, no full-column scans."""

from __future__ import annotations

import contextlib
import io
import re


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _q(name, spark, sf_dir):
    from tiny_etl_multiproc_bigdata_spark.plans.registry import queries

    return queries()[name](spark, sf_dir)


def test_q1_scans_only_needed_columns(spark, sf_dir):
    plan = _plan(_q("q1_pricing_summary", spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_returnflag",
        "l_linestatus",
    }, f"column pruning regressed: scan reads {cols}"


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(_q("p9_filter_rows", spark, sf_dir))
    m = re.search(r"PushedFilters: \[([^\]]*)\]", plan)
    assert m and "GreaterThan(l_quantity,45.0)" in m.group(1), plan
    assert "EqualTo(l_returnflag,R)" in m.group(1)


def test_dim_joins_broadcast_never_sort_merge(spark, sf_dir):
    for name in ("q3_shipping_priority", "q5_region_revenue", "join_broadcast_chain"):
        plan = _plan(_q(name, spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}: no broadcast join"
        assert "SortMergeJoin" not in plan, (
            f"{name}: dim join degraded to sort-merge"
        )


def test_topk_uses_take_ordered(spark, sf_dir):
    for name in ("q3_shipping_priority", "sort_limit_topk"):
        plan = _plan(_q(name, spark, sf_dir))
        assert "TakeOrderedAndProject" in plan, (
            f"{name}: global top-k fell back to full sort"
        )


def test_flagship_shuffle_shape(spark, sf_dir):
    """The document-level design: exactly one exchange, a hash
    repartition of the documents on ``source``. The explode and every
    aggregate sit above it, so no token crosses an exchange, and nothing
    aggregates (least of all a SortAggregate) on the scan side."""
    df = _q("flagship_words", spark, sf_dir)
    plan = _plan(df)
    body = plan.split("\n\n(1)")[0]  # tree section only (AQE repeats nodes)
    assert body.count("Exchange") == 1, body
    args = re.search(r"\) Exchange\nInput \[[^\]]*\]: [^\n]*\nArguments: ([^\n]*)", plan)
    assert args and re.match(r"hashpartitioning\(source#\d+, \d+\)", args.group(1)), (
        args.group(1) if args else plan
    )
    above, below = body.split("Exchange")
    assert "Generate" in above, "the explode runs below the exchange: tokens cross it"
    assert above.count("Aggregate") >= 4, "both aggregation levels sit above the exchange"
    assert "Aggregate" not in below and "Generate" not in below, below
    # Per-row work: `file` is derived once per document (its
    # basename_backwards split runs below the explode, not in the final
    # projection), the required-field drop filters base columns rather
    # than pushing the derived ones into an `atleastnnonnulls` filter,
    # and no interpreted lambda is left in the plan.
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "atleastnnonnulls" not in optimized, optimized
    assert "lambdafunction" not in optimized, optimized
    file_nodes = [ln for ln in optimized.splitlines() if "split(source#" in ln]
    assert len(file_nodes) == 1, optimized
    assert optimized.index("Generate") < optimized.index(file_nodes[0]), optimized


def test_flagship_file_tree_dedupes_per_document(spark, tmp_path):
    """The per-document lowering over a file tree: the one exchange, and
    every document deduplicated inside its own row before the token
    explode, so the only aggregation sees distinct tokens per document
    and no token reaches a hash aggregate. The split, the per-row
    distinct and the document-row window all sit below the token
    Generate."""
    from tiny_etl_multiproc_bigdata_spark.plans.flagship import words_from_docs
    from tiny_etl_multiproc_bigdata_spark.sources.files import read_whole_files

    for rel, text in {"a/b/one.txt": "x y X y", "two.txt": "z  z"}.items():
        path = tmp_path / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(text, encoding="utf-8")
    docs = read_whole_files(
        spark, str(tmp_path), ".txt", path_key="source", content_key="text"
    )
    df = words_from_docs(docs)
    plan = _plan(df)
    body = plan.split("\n\n(1)")[0]
    assert body.count("Exchange") == 1, body
    args = re.search(r"\) Exchange\nInput \[[^\]]*\]: [^\n]*\nArguments: ([^\n]*)", plan)
    assert args and re.match(r"hashpartitioning\(source#\d+, \d+\)", args.group(1)), plan
    assert "HashAggregate" not in body, body
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    for banned in ("trim(", "lambdafunction", "atleastnnonnulls"):
        assert banned not in optimized, (banned, optimized)
    lines = optimized.splitlines()
    # top-down: a later line is lower in the tree
    token_gen = [i for i, ln in enumerate(lines) if "Generate explode(u#" in ln]
    assert len(token_gen) == 1, optimized
    above, below = lines[: token_gen[0]], lines[token_gen[0] + 1 :]
    for marker in ("split(text#", "array_distinct("):
        hits = [ln for ln in lines if marker in ln]
        assert len(hits) == 1 and hits[0] in below, (marker, optimized)
    assert any(ln.lstrip("+- :").startswith("Window") for ln in below), optimized
    assert not any(ln.lstrip("+- :").startswith("Window") for ln in above), optimized
    aggregates = [ln for ln in lines if ln.lstrip("+- :").startswith("Aggregate")]
    assert len(aggregates) == 1 and aggregates[0] in above, optimized


def test_flagship_scan_prunes_to_two_columns(spark, sf_dir):
    plan = _plan(_q("flagship_words", spark, sf_dir))
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    cols = {c.split(":")[0] for c in m.group(1).split(",")}
    assert cols == {"text", "source"}, cols


def test_survivor_join_broadcasts_membership(spark, sf_dir):
    """The dedup-survivor filter must not shuffle the corpus: the tiny
    duplicate-membership table broadcasts (one corpus scan, no
    corpus-side Exchange feeding the join)."""
    for name in ("dedup_survivors", "corpus_curation"):
        plan = _plan(_q(name, spark, sf_dir))
        assert "BroadcastHashJoin" in plan, f"{name}: membership join not broadcast"
        assert "SortMergeJoin" not in plan, f"{name}: corpus shuffled for membership join"


def test_merge_upsert_broadcasts_changes(spark, sf_dir):
    """The upsert must never shuffle the base table: updates join via
    broadcast (a full-outer formulation would force sort-merge)."""
    plan = _plan(_q("merge_upsert", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_key_skew_profile_is_take_ordered(spark, sf_dir):
    plan = _plan(_q("key_skew_profile", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, "top-k degraded to a global sort"


def test_inverted_index_single_exchange(spark, sf_dir):
    """collect_set's map-side partial dedup means the token stream
    shuffles exactly once (a separate distinct() would add a second
    full exchange)."""
    plan = _plan(_q("inverted_index_build", spark, sf_dir))
    # formatted explain emits one "(n) Exchange" detail header per node
    assert plan.count(") Exchange") == 1, plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    # rank<=k over a partitioned window must rewrite to WindowGroupLimit:
    # per-partition top-k heaps before the exchange, never a full group sort.
    for name in ("topk_per_group", "cdc_latest_by_key"):
        plan = _plan(_q(name, spark, sf_dir))
        assert "WindowGroupLimit" in plan, f"{name} lost WindowGroupLimit:\n{plan}"


def test_pareto_top100_is_distributed_take_ordered(spark, sf_dir):
    # the ranked running-sum window must only ever see the 100-row top-k
    plan = _plan(_q("orders_pareto_share", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_rolling_dau_has_no_nested_loop_join(spark, sf_dir):
    plan = _plan(_q("events_rolling_dau", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_q16_anti_join_broadcasts_no_smj(spark, sf_dir):
    plan = _plan(_q("q16_supplier_part_counts", spark, sf_dir))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan
    # NOT IN over a non-null key must plan as a plain (not null-aware
    # nested-loop) anti join
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q8_single_wide_join_all_dims_broadcast(spark, sf_dir):
    # the 100 TB shape: exactly ONE fact-fact join is wide (pruned
    # lineitem ⋈ pruned orders on orderkey — SMJ/shuffled-hash both
    # fine), all six dimension joins broadcast, and both wide-join
    # inputs already carry their broadcast prunes (p_type on the
    # lineitem side, the ASIA customer chain on the orders side)
    plan = _plan(_q("q8_market_share", spark, sf_dir))
    # count the "(N) Operator" detail headers — formatted explain also
    # renders each operator once in the tree view
    n_wide_joins = len(
        re.findall(r"\(\d+\) (?:SortMergeJoin|ShuffledHashJoin)", plan)
    )
    assert n_wide_joins == 1, f"{n_wide_joins} wide joins:\n{plan}"
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 6, plan
    # wide exchanges: the two fact-join sides + the final 7-row agg
    n_hash_exchanges = len(re.findall(r"Exchange hashpartitioning", plan))
    assert n_hash_exchanges <= 3, f"{n_hash_exchanges} wide exchanges:\n{plan}"


def test_q17_thresholds_broadcast_back(spark, sf_dir):
    plan = _plan(_q("q17_small_quantity_revenue", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_domain_quota_no_global_sort(spark, sf_dir):
    plan = _plan(_q("domain_quota_sample", spark, sf_dir))
    # the quota window partitions by source — a global (unpartitioned)
    # sort would show up as rangepartitioning
    assert "Exchange rangepartitioning" not in plan, plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    plan = _plan(_q("unigram_logprob_score", spark, sf_dir))
    # the token→logprob join must broadcast the vocabulary-sized side,
    # never shuffle the exploded token stream for a sort-merge join
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan


def test_repetition_flags_zero_shuffle(spark, sf_dir):
    plan = _plan(_q("repetition_quality_flags", spark, sf_dir))
    assert "Exchange" not in plan, f"per-row operator shuffles:\n{plan}"


def test_pq_code_assign_zero_shuffle(spark, sf_dir):
    # PQ assignment is a map-only pass: literal codebook, per-row
    # integer distances — any Exchange means the shape regressed
    plan = _plan(_q("pq_code_assign", spark, sf_dir))
    assert "Exchange" not in plan, plan


def test_pq_adc_topk_broadcast_lut_and_group_limit(spark, sf_dir):
    # ADC search must broadcast the query LUTs (never shuffle the
    # compressed corpus for the scoring join) and rewrite the per-query
    # rank<=k to WindowGroupLimit per-partition heaps
    plan = _plan(_q("pq_adc_topk", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_weighted_sample_uses_window_group_limit(spark, sf_dir):
    # rank<=k over the per-source window must rewrite to WindowGroupLimit
    plan = _plan(_q("weighted_sample_topk", spark, sf_dir))
    assert "WindowGroupLimit" in plan, plan


def test_transition_matrix_broadcasts_row_totals(spark, sf_dir):
    # the |states| row-total table must broadcast, never shuffle the
    # transition table for the normalization join
    plan = _plan(_q("event_transition_matrix", spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_triangle_count_no_nested_loop(spark, sf_dir):
    # both wedge-extension joins are equi-joins; a BNLJ would mean the
    # join condition degenerated to a filter over a cross product
    plan = _plan(_q("triangle_count", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_degree_orientation_invariant(spark, sf_dir):
    """The registered triangle_count now runs degree-oriented
    (VERDICT r05 item 4); pin that the count equals the plain
    id-ordered wedge join on the fixture graph — orientation must be
    a pure canonicalization change, never a semantic one."""
    from pyspark.sql import functions as F

    from tiny_etl_multiproc_bigdata_spark.catalog import table
    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        _TRI_EDGES_TMPL,
        triangle_count,
    )

    table(spark, sf_dir, "customer").createOrReplaceTempView("_tri_customer")
    e = spark.sql(_TRI_EDGES_TMPL.format(cust="_tri_customer"))
    id_ordered = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e2.a") == F.col("e1.b"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
        .count()
    )
    oriented = triangle_count(spark, sf_dir).collect()[0]["n_triangles"]
    assert oriented == id_ordered and oriented > 0, (oriented, id_ordered)


def test_concurrent_sessions_no_global_sort(spark, sf_dir):
    # the sweep is per-day partitioned: exchanges must hash-partition,
    # never range-partition (a global sort would not scale)
    plan = _plan(_q("concurrent_sessions_peak", spark, sf_dir))
    assert "rangepartitioning" not in plan.lower(), plan


def test_chunking_and_winnowing_zero_shuffle(spark, sf_dir):
    # both are per-row array-HOF passes — any Exchange means the
    # map-only shape regressed
    for name in ("chunk_sliding_tokens", "text_winnowing_fingerprint"):
        plan = _plan(_q(name, spark, sf_dir))
        assert "Exchange" not in plan, f"{name} shuffles:\n{plan}"


def test_bm25_broadcasts_query_terms(spark, sf_dir):
    # the 3-row query-term table and the scalar stats row must
    # broadcast; the only sort allowed is the final top-20
    # TakeOrderedAndProject
    plan = _plan(_q("bm25_doc_scores", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan, plan


def test_segment_dedup_single_corpus_shuffle_key(spark, sf_dir):
    # segments shuffle on the fixed-width md5 only — the raw segment
    # text must never be a shuffle key
    plan = _plan(_q("dedup_corpus_segments", spark, sf_dir))
    assert "SortMergeJoin" not in plan or "hashpartitioning(h" in plan, plan


def test_semantic_dedup_broadcasts_centroids(spark, sf_dir):
    # assignment join must broadcast the centroid table (corpus/%100
    # rows), never shuffle the corpus against it
    plan = _plan(_q("dedup_semantic_kmeans", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_sql_udf_inlines_into_codegen(spark, sf_dir):
    # a SQL UDF is macro expansion: no python eval node, no serialization
    # boundary — the whole agg stays in WholeStageCodegen
    plan = _plan(_q("sql_udf_suite", spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the function bodies appear EXPANDED inside the aggregate (macro
    # semantics) — no opaque call node named after the UDF survives
    assert "FLOOR(" in plan and "CASE WHEN" in plan, plan
    assert "net_cents(" not in plan and "clamp_qty(" not in plan, plan


def test_parquet_aggregate_pushdown_answers_from_footers(spark, sf_dir):
    """count/min/max over a parquet table can be answered from row-group
    FOOTER statistics without decoding a single data page — at 100 TB
    the difference between a metadata read and a full scan. Requires the
    DSv2 parquet reader; results must equal the scan-based plan."""
    from pyspark.sql import functions as F

    from conftest import confs

    def agg():
        return spark.read.parquet(f"{sf_dir}/lineitem.parquet").agg(
            F.count("*").alias("n"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )

    baseline = agg().collect()
    with confs(
        spark,
        spark__sql__sources__useV1SourceList="",
        spark__sql__parquet__aggregatePushdown="true",
    ):
        df = agg()
        plan = _plan(df)
        assert "PushedAggregation: [COUNT(*), MIN(l_quantity), MAX(l_quantity)]" in plan, plan
        assert df.collect() == baseline


def test_span_corruption_zero_shuffle(spark, sf_dir):
    plan = _plan(_q("span_corruption_targets", spark, sf_dir))
    assert "Exchange" not in plan, f"per-row operator shuffles:\n{plan}"


def test_skyline_sweep_equals_quadratic_definition(spark, tmp_path):
    """The two-phase skyline sweep must implement strict dominance
    exactly on adversarial inputs the fixture may not contain:
    duplicate points (both survive — neither strictly dominates),
    price ties with different sizes (bigger size kills smaller), and
    a dominated-in-one-axis-only point. Reference = the quadratic
    NOT EXISTS definition evaluated in Spark on the same rows."""
    from pyspark.sql import functions as F

    from tiny_etl_multiproc_bigdata_spark.plans.windows import (
        skyline_pareto_parts,
    )

    rows = [
        # (partkey, price, size)
        (1, 900.00, 10),
        (2, 900.00, 10),   # duplicate of 1 — both survive
        (3, 900.00, 7),    # tied price, smaller size — dominated by 1
        (4, 905.00, 12),
        (5, 905.00, 12),   # duplicate of 4
        (6, 910.00, 12),   # same size as 4, pricier — dominated
        (7, 895.00, 3),    # cheapest overall — survives
        (8, 990.00, 50),   # biggest overall — survives
        (9, 991.00, 49),   # dominated by 8 on both axes
        (10, 903.00, 11),
    ]
    df = spark.createDataFrame(
        [(k, "n", "b", "t", s, p) for (k, p, s) in rows],
        "p_partkey long, p_name string, p_brand string, p_type string,"
        " p_size int, p_retailprice double",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "part.parquet")
    )
    got = {
        (r["p_partkey"], r["price_cents"], r["p_size"])
        for r in skyline_pareto_parts(spark, str(tmp_path)).collect()
    }
    p = spark.createDataFrame(
        [(k, int(round(pr * 100)), s) for (k, pr, s) in rows],
        "k long, pc long, sz long",
    )
    p.createOrReplaceTempView("sky_ref")
    want = {
        tuple(r)
        for r in spark.sql(
            """
            SELECT p.k, p.pc, p.sz FROM sky_ref p
            WHERE NOT EXISTS (
              SELECT 1 FROM sky_ref q
              WHERE q.pc <= p.pc AND q.sz >= p.sz
                AND (q.pc < p.pc OR q.sz > p.sz)
            )
            """
        ).collect()
    }
    assert got == want
    # 10=(903,11) survives: nothing at price <= 903 has size >= 11
    assert {k for (k, _, _) in got} == {1, 2, 4, 5, 7, 8, 10}


def test_rolling_median_frame_parity(spark, tmp_path):
    """Odd and even frame sizes of rolling_median_exact pinned on a
    constructed series: medians of the growing 1..7-row trailing frame
    over values [10, 20, 40, 30, 50, 60, 70, 80] cents."""
    import datetime

    from tiny_etl_multiproc_bigdata_spark.plans.windows import (
        rolling_median_exact,
    )

    vals = [0.10, 0.20, 0.40, 0.30, 0.50, 0.60, 0.70, 0.80]
    base = datetime.datetime(2024, 1, 1)
    rows = [
        (i, base + datetime.timedelta(seconds=i), 1, "view", v, "{}")
        for i, v in enumerate(vals)
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    got = {
        r["event_id"]: r["med_cents"]
        for r in rolling_median_exact(spark, str(tmp_path)).collect()
    }
    # frames: [10] [10,20] [10,20,40] [10,20,30,40] [10..50]
    #         [10..60] [10..70 full 7] [20..80 sliding]
    want = {
        0: 10.0,
        1: 15.0,
        2: 20.0,
        3: 25.0,
        4: 30.0,
        5: 35.0,
        6: 40.0,
        7: 50.0,
    }
    assert got == want


def test_interval_range_frame_all_null_is_null(spark, tmp_path):
    """NULL parity of the probe-union interval-RANGE lowering (ADVICE
    r10): a trailing-7d frame whose values are ALL NULL must yield a
    NULL sum (SQL windowed-SUM semantics), not the 0 a plain cumsum
    subtraction produces; a mixed frame ignores NULLs; a frame summing
    to exactly zero stays 0 (not NULL); count(*) is NULL-blind. Also
    NULL-KEY parity: a NULL ts is a real peer group (SQL RANGE frames
    NULL order keys as exactly their peers) and a NULL event_type is a
    real partition — both must survive the lowering's hand-back joins
    (plain equi-joins dropped them until the r11 null-safe fix).
    Constructed fixture (the driver tables carry no NULL values, so
    the sweep can't see this edge), checked BOTH against pinned
    expectations and the entry's own DuckDB oracle."""
    import datetime

    import duckdb

    from tiny_etl_multiproc_bigdata_spark.plans.registry import (
        REGISTRY,
        _load_all,
    )

    _load_all()
    base = datetime.datetime(2024, 1, 1)
    day = datetime.timedelta(days=1)
    rows = [
        # type "a": leading all-NULL frames, then a gap > 7d isolates
        # a non-null value, a NULL joins its frame, then a lone 0.00
        (0, base + 0 * day, 1, "a", None, "{}"),
        (1, base + 1 * day, 1, "a", None, "{}"),
        (2, base + 10 * day, 1, "a", 1.00, "{}"),
        (3, base + 12 * day, 1, "a", None, "{}"),
        (4, base + 30 * day, 1, "a", 0.00, "{}"),
        # type "b": all-NULL frame NOT at partition start (non-null
        # history > 7d before) — the case coalesce alone gets wrong
        (5, base + 0 * day, 2, "b", 2.50, "{}"),
        (6, base + 20 * day, 2, "b", None, "{}"),
        # NULL ts inside type "a": peers of each other, frame = the
        # NULL peer group {5.00, NULL} regardless of the non-NULL rows
        (7, None, 1, "a", 5.00, "{}"),
        (8, None, 1, "a", None, "{}"),
        # NULL event_type: its own partition — row 10 sees row 9
        # within 7d; row 11's NULL ts is its own peer group
        (9, base + 2 * day, 3, None, 3.00, "{}"),
        (10, base + 4 * day, 3, None, 1.00, "{}"),
        (11, None, 3, None, 7.00, "{}"),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    spec = REGISTRY["window_range_interval_frame"]
    got = {
        r["event_id"]: (r["trailing7d_cents"], r["trailing7d_events"])
        for r in spec.fn(spark, str(tmp_path)).collect()
    }
    want = {
        0: (None, 1),   # frame {NULL}
        1: (None, 2),   # frame {NULL, NULL}
        2: (100, 1),    # isolated
        3: (100, 2),    # frame {100, NULL} — NULL ignored
        4: (0, 1),      # frame {0.00} — zero, not NULL
        5: (250, 1),
        6: (None, 1),   # all-NULL frame with non-null history
        7: (500, 2),    # NULL-ts peer group {500, NULL} in "a"
        8: (500, 2),    # its peer — same frame
        9: (300, 1),    # NULL event_type is a real partition
        10: (400, 2),   # sees row 9 within 7d
        11: (700, 1),   # NULL ts within the NULL partition
    }
    assert got == want
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM read_parquet("
        f"'{tmp_path / 'events.parquet'}/*.parquet')"
    )
    oracle = {
        r[0]: (r[2], r[3]) for r in con.execute(spec.oracle).fetchall()
    }
    assert oracle == want


def test_hilbert_curve_is_space_filling():
    """Exhaustive proof over the full 256x256 key grid (via DuckDB on
    the SAME generated round fragments the engine chains): the xy2d
    transform is a bijection onto 0..65535 and every consecutive pair
    of keys is grid-adjacent — the defining Hilbert property, which a
    mis-rotated variant (the classic xy2d bug class) breaks
    immediately. Engine ≡ oracle is separately pinned by the
    correctness sweep, so validating the oracle validates both."""
    import duckdb

    from tiny_etl_multiproc_bigdata_spark.plans.graph_ops import (
        _H_BITS,
        _H_N,
        _hilbert_round_exprs,
        _hilbert_steps,
    )

    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE grid AS SELECT a.i AS x0, b.i AS y0 "
        f"FROM range(0,{_H_N}) a(i), range(0,{_H_N}) b(i)"
    )
    ctes = [
        "h0 AS (SELECT x0 AS gx, y0 AS gy, CAST(x0 AS BIGINT) AS x, "
        "CAST(y0 AS BIGINT) AS y, CAST(0 AS BIGINT) AS d FROM grid)"
    ]
    for k, s in enumerate(_hilbert_steps(), start=1):
        nx, ny, nd = _hilbert_round_exprs(s)
        ctes.append(
            f"h{k} AS (SELECT gx, gy, CAST({nx} AS BIGINT) AS x, "
            f"CAST({ny} AS BIGINT) AS y, CAST({nd} AS BIGINT) AS d "
            f"FROM h{k - 1})"
        )
    con.execute(
        "CREATE TABLE hk AS WITH "
        + ",\n".join(ctes)
        + f" SELECT gx, gy, d FROM h{_H_BITS}"
    )
    n, dmin, dmax, nd_ = con.execute(
        "SELECT count(*), min(d), max(d), count(DISTINCT d) FROM hk"
    ).fetchone()
    assert (n, dmin, dmax, nd_) == (_H_N * _H_N, 0, _H_N * _H_N - 1, _H_N * _H_N)
    bad = con.execute(
        """SELECT count(*) FROM hk a JOIN hk b ON b.d = a.d + 1
           WHERE abs(a.gx - b.gx) + abs(a.gy - b.gy) <> 1"""
    ).fetchone()[0]
    assert bad == 0
