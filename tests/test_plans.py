"""Physical-plan shape assertions — the scale contract, enforced.

Correctness tests prove the small-SF answer; these prove the PLAN is
the one that survives 100 TB: filters reach the parquet scan, small
dimensions broadcast instead of shuffling, expressions stay inside
whole-stage codegen, and scan-side queries never shuffle at all.  A
regression here (e.g. a refactor that breaks predicate pushdown or
flips a broadcast join to sort-merge) changes no sf0.001 answer but
10x-es the cluster bill — so it must fail CI, not a profiler run."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import pytest

from form700_etl_spark.registry import all_queries

QUERIES = all_queries()


# Every Python plan node: MapInPandas, MapInArrow / PythonMapInArrow,
# FlatMap(Co)GroupsInPandas, ArrowEvalPython, BatchEvalPython and the
# other Arrow*Python nodes (ArrowAggregatePython, ArrowWindowPython).
_PYTHON_NODE = re.compile(r"\b(?:\w*InPandas\w*|\w*InArrow|\w*EvalPython|Arrow\w*Python)\b")


def plan_of(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].fn(spark, sf_dir)
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def executed_plan_of(spark, sf_dir, name: str) -> str:
    """Final (post-AQE) physical plan — codegen spans and the adaptive
    re-plan only materialize after execution."""
    df = QUERIES[name].fn(spark, sf_dir)
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def tree_nodes(plan: str, node: str) -> int:
    """Count NODES in the formatted plan's tree section (the detail
    section repeats every node name once more as '(n) Node')."""
    return len(re.findall(rf"(?:\+-|^==|\s)\s*{node}", plan)) - plan.count(f") {node}")


def test_scan_side_query_pushes_filters_and_prunes_columns(spark, sf_dir):
    """q6 is a pure scan+agg: every predicate must reach the parquet
    reader and the scan must read only the referenced columns."""
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    assert "PushedFilters" in plan
    # the shipdate range predicate is parquet-pushable
    assert re.search(r"PushedFilters:.*l_shipdate", plan), plan
    m = re.search(r"ReadSchema:\s*(\S+)", plan)
    assert m, plan
    read_cols = m.group(1)
    # 4 referenced columns only — not the full 11-column lineitem
    for col in ("l_shipdate", "l_discount", "l_extendedprice", "l_quantity"):
        assert col in read_cols, read_cols
    for col in ("l_orderkey", "l_partkey", "l_returnflag"):
        assert col not in read_cols, read_cols


def test_scan_side_query_has_single_exchange(spark, sf_dir):
    """A global 1-row aggregate needs exactly one Exchange (the final
    single-partition gather) — anything more means the scan shuffled."""
    plan = plan_of(spark, sf_dir, "q6_forecast_revenue")
    assert tree_nodes(plan, "Exchange") == 1, plan


def test_dimension_joins_broadcast(spark, sf_dir):
    """Flagship 3-way join: the customer dimension must broadcast —
    a sort-merge fallback would shuffle the fact table on c_custkey."""
    plan = plan_of(spark, sf_dir, "flagship_mktsegment_revenue")
    assert "BroadcastHashJoin" in plan, plan


def test_sf_scaling_sides_broadcast_unhinted(spark, sf_dir):
    """customer/supplier/part (SF-scaling tables) carry no broadcast
    hint; at test SF Catalyst's auto-broadcast threshold still picks a
    broadcast join.  (A hard hint on an SF-scaling side is a driver OOM
    at 100 TB.)"""
    plan = plan_of(spark, sf_dir, "q18_large_volume_orders")
    assert "BroadcastHashJoin" in plan, plan


def test_q5_all_dims_broadcast_one_fact_shuffle(spark, sf_dir):
    """Q5 joins lineitem against orders/customer/supplier/nation/region:
    every dimension side must broadcast; only fact-fact traffic plus the
    final group-by may exchange."""
    plan = plan_of(spark, sf_dir, "q5_region_nation_revenue")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") <= 1, plan


def test_whole_stage_codegen_covers_hot_path(spark, sf_dir):
    """Money arithmetic (cents round-trip) must stay inside codegen —
    a fallback to interpreted eval means a non-codegen expression snuck
    into the hot path."""
    plan = executed_plan_of(spark, sf_dir, "q1_pricing_summary")
    # '*(n) ' prefixes mark operators fused into a WholeStageCodegen span
    stars = re.findall(r"\*\(\d+\) (\w+)", plan)
    assert "HashAggregate" in stars, plan
    # both the partial and final aggregate must be inside codegen spans
    assert stars.count("HashAggregate") >= 2, stars


def test_anti_join_projects_before_shuffle(spark, sf_dir):
    """q22's anti join: the orders side must be filtered + projected to
    the key column below the join (not shuffle 6 columns to drop 5)."""
    plan = plan_of(spark, sf_dir, "q22_idle_rich_customers")
    m = re.search(r"ReadSchema:\s*(\S+)\s*(?=.*o_custkey)", plan)
    assert m is not None
    # the orders scan reads only (o_custkey, o_orderdate)
    orders_scans = [
        s for s in re.findall(r"ReadSchema: struct<([^>]*)>", plan) if "o_custkey" in s
    ]
    assert orders_scans and all(
        "o_totalprice" not in s and "o_orderstatus" not in s for s in orders_scans
    ), orders_scans


def test_deterministic_sample_is_scan_side(spark, sf_dir):
    """The hash sample must compile to scan+filter+project only — zero
    Exchange operators (this is what makes it free at 100 TB)."""
    plan = plan_of(spark, sf_dir, "sample_hash_fraction")
    assert "Exchange" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["q1_pricing_summary", "q6_forecast_revenue", "text_quality_score"],
)
def test_no_python_udfs_in_builtin_paths(spark, sf_dir, name):
    """These queries advertise pure-JVM execution; any Python node
    (a Python UDF, a mapInPandas) would mean Python crept in."""
    plan = plan_of(spark, sf_dir, name)
    assert not _PYTHON_NODE.search(plan), plan


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """Date-partitioned layout: a filter on the partition column must
    prune at PLANNING time (PartitionFilters on the scan, non-matching
    directories never opened) — the layout contract for 100 TB facts
    where every query carries a date predicate."""
    from form700_etl_spark.io import table

    out = str(tmp_path / "orders_by_year")
    o = table(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    o.write.partitionBy("o_year").parquet(out, mode="overwrite")

    back = spark.read.parquet(out).filter(F.col("o_year") == 1997)
    plan = back._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        back._jdf.queryExecution(), "formatted"
    )
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "o_year" in m.group(1), plan
    # and the pruned read returns exactly the 1997 slice
    expected = o.filter(F.col("o_year") == 1997).count()
    assert back.count() == expected > 0


def test_table_infers_each_fixture_schema_once(spark, sf_dir, tmp_path):
    """A repeat ``table`` read binds the session's cached schema and runs
    no parquet schema job; a fixture rewritten in place (new mtime or
    size) is inferred afresh, so a stale schema is never served."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from form700_etl_spark import profile
    from form700_etl_spark.io import table

    table(spark, sf_dir, "orders")
    before = profile.last_job_id(spark)
    table(spark, sf_dir, "orders")
    assert profile.jobs(spark, after=before) == []

    docs = {"doc_id": pa.array([1, 2], pa.int64()), "text": pa.array(["a b c", "d e f"])}
    path = str(tmp_path / "documents.parquet")
    pq.write_table(pa.table(docs), path)
    assert table(spark, str(tmp_path), "documents").columns == ["doc_id", "text"]
    pq.write_table(pa.table({**docs, "split": pa.array(["train", "test"])}), path)
    back = table(spark, str(tmp_path), "documents")
    assert back.columns == ["doc_id", "text", "split"]
    assert sorted(r.split for r in back.collect()) == ["test", "train"]


def test_session_cached_lives_for_one_application(monkeypatch):
    """``session_cached`` builds once per key under one application id,
    drops every entry when the id changes, and caches nothing for a
    ``build`` that raises."""
    from types import SimpleNamespace

    from form700_etl_spark import io

    monkeypatch.setattr(io, "_SESSION_CACHE", {})
    app_a, app_b = (
        SimpleNamespace(sparkContext=SimpleNamespace(applicationId=i)) for i in ("a", "b")
    )
    built: list[str] = []

    def build(value: str):
        return lambda: built.append(value) or value

    assert io.session_cached(app_a, "k1", build("a1")) == "a1"
    assert io.session_cached(app_a, "k1", build("a1 again")) == "a1"
    assert io.session_cached(app_a, "k2", build("a2")) == "a2"
    assert built == ["a1", "a2"]

    assert io.session_cached(app_b, "k1", build("b1")) == "b1"
    assert io.session_cached(app_b, "k2", build("b2")) == "b2"
    assert built == ["a1", "a2", "b1", "b2"]

    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        io.session_cached(app_b, "k3", boom)
    assert io.session_cached(app_b, "k3", build("b3")) == "b3"
    assert built[-1] == "b3"


def test_materialize_names_its_jobs_and_restores_the_caller(spark, sf_dir):
    """``materialize`` pins the frame as a ``Scan ExistingRDD`` leaf,
    every job it launches carries ``materialize: <reason>`` and the
    caller's job group, and the caller's description is back afterwards,
    also when the materializing job fails."""
    import pyspark.sql.functions as F
    from pyspark.errors import PySparkException

    from form700_etl_spark import profile
    from form700_etl_spark.io import materialize, table

    sc = spark.sparkContext
    agg = table(spark, sf_dir, "lineitem").groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))
    sc.setJobGroup("materialize-test", "caller")
    try:
        before = profile.last_job_id(spark)
        out = materialize(agg, "test aggregate")
        launched = profile.jobs(spark, "materialize-test", after=before)
        assert sc.getLocalProperty("spark.job.description") == "caller"
        plan = out._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            out._jdf.queryExecution(), "formatted"
        )
        assert "Scan ExistingRDD" in plan, plan
        # read by the caller's group: a job that lost it is missing here
        assert launched == profile.jobs(spark, after=before)
        # AQE may add stage jobs: each one is named, none is unnamed
        assert launched
        for j in launched:
            assert j["description"] == "materialize: test aggregate", j["name"]

        failing = agg.select(F.when(F.col("n") > 0, F.raise_error(F.lit("boom"))).alias("x"))
        with pytest.raises(PySparkException, match="boom"):
            materialize(failing, "failing job")
        assert sc.getLocalProperty("spark.job.description") == "caller"
        assert sc.getLocalProperty("spark.jobGroup.id") == "materialize-test"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_profile_record_splits_build_from_exec(spark, sf_dir):
    """A query's record holds every job its call launched: the build
    group's (dedup_clusters_connected runs jobs in its builder) and the
    count's, with the same executor CPU as the jobs read over the whole
    call."""
    from form700_etl_spark import profile

    before = profile.last_job_id(spark)
    rec = profile.record(spark, profile.run_query(spark, "dedup_clusters_connected", sf_dir))
    every = profile.jobs(spark, after=before)
    assert rec["build_jobs"] and rec["exec_jobs"]
    assert sorted(j["job"] for j in rec["build_jobs"] + rec["exec_jobs"]) == [j["job"] for j in every]
    cpu = rec["totals"]["executor_cpu_s"]
    assert cpu > 0
    assert cpu == pytest.approx(profile.totals(every)["executor_cpu_s"], abs=1e-9)
    assert rec["build_s"] > 0 and rec["exec_s"] > 0 and rec["catalyst_s"] > 0


def test_profile_record_warm_join_builds_without_jobs(spark, sf_dir):
    """A warm q5 build resolves its six tables from the session cache and
    runs no job (traced perfbench reads 0 ``queries.build_jobs`` for it);
    all its jobs belong to the count."""
    from form700_etl_spark import profile

    profile.run_query(spark, "q5_region_nation_revenue", sf_dir)  # infers schemas once
    rec = profile.record(spark, profile.run_query(spark, "q5_region_nation_revenue", sf_dir))
    assert rec["build_jobs"] == []
    assert rec["exec_jobs"] and rec["totals"]["tasks"] > 0


def test_profile_attributes_materializations_to_the_build(spark, sf_dir):
    """Every job a builder's ``materialize`` launches (q15 materializes
    its revenue table) carries its ``materialize: `` description and
    lands in the record's build jobs, never in the count's."""
    from form700_etl_spark import profile

    before = profile.last_job_id(spark)
    rec = profile.record(spark, profile.run_query(spark, "q15_top_supplier", sf_dir))
    named = {j["job"] for j in profile.jobs(spark, after=before) if (j["description"] or "").startswith("materialize: ")}
    assert named and named <= {j["job"] for j in rec["build_jobs"]}


def test_pipeline_prunes_unused_schedule_arrays(spark, sf_dir):
    """Building one dataset must not pay for the other schedules'
    nested-array construction: cover needs only the count(when)
    aggregates (zero collect_list in its optimized plan), and a single
    schedule's plan carries exactly its own collect_list.  A regression
    (e.g. counts re-expressed as size(collect_list)) forces the full
    nested payload to materialize per filing — invisible at sf0.001,
    ruinous at 100 TB."""
    from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

    filings = synthesize_filings(spark, sf_dir)
    cover = run_form700_pipeline(filings, datasets=("cover",))["cover"]
    cover_plan = cover._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert cover_plan.count("collect_list") == 0, "cover must not build schedule arrays"
    a2 = run_form700_pipeline(filings, datasets=("scheduleA2",))["scheduleA2"]
    a2_plan = a2._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert a2_plan.count("collect_list") == 1, "scheduleA2 builds exactly its own array"


def test_pipeline_enrichment_join_broadcasts(spark, sf_dir):
    """The cover's customer join must broadcast (J1): a sort-merge there
    shuffles every filing row at 100 TB for a dimension-sized side."""
    from form700_etl_spark.plans.form700 import run_form700_pipeline, synthesize_filings

    df = run_form700_pipeline(
        synthesize_filings(spark, sf_dir), datasets=("scheduleA2",)
    )["scheduleA2"]
    phys = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "BroadcastHashJoin" in phys
    assert "SortMergeJoin" not in phys


def test_fuzzy_join_is_hash_join_not_cartesian(spark, sf_dir):
    """The fuzzy join's prefix block must be the equi key Spark hashes
    on; if a refactor folds it into the filter, the plan degrades to a
    nested-loop cross product — fine at sf0.001, n² at corpus scale."""
    plan = executed_plan_of(spark, sf_dir, "fuzzy_join_part_names")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interpolation_single_shuffle_single_window(spark, sf_dir):
    """The two-sided interpolation walls (prev/next, different frames,
    same partitioning+ordering) must collapse into ONE Window operator
    over ONE user_id exchange.  (Assert on the pre-execution physical
    plan — the post-AQE string repeats the exchange subtree and would
    double-count.)"""
    df = QUERIES["timeseries_linear_interpolate"].fn(spark, sf_dir)
    phys = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert len(re.findall(r"Exchange hashpartitioning", phys)) == 1
    opt = df._jdf.queryExecution().optimizedPlan().toString()  # noqa: SLF001
    assert len(re.findall(r"\bWindow \[", opt)) == 1


def test_bloom_probe_filters_before_fact_exchange(spark, sf_dir):
    """Bloom semi-join prune: the xxhash64 probe filter must evaluate on
    the fact side BEFORE its Exchange (thinning the shuffle is the whole
    point), and the exact join must stay a sort-merge join (the modeled
    too-big-to-broadcast regime)."""
    plan = plan_of(spark, sf_dir, "bloom_join_building_orders")
    assert "SortMergeJoin" in plan, plan
    tree = plan.split("==")[2] if "==" in plan else plan
    # In the detail section, the Filter carrying the probes must list
    # xxhash64; find a Filter node whose condition includes xxhash64.
    assert re.search(r"Filter.*\n?.*xxhash64", plan) or "xxhash64" in plan, plan
    # Probe sits below the fact Exchange: the formatted tree orders
    # children above parents, so the first xxhash64 mention must come
    # before the SortMergeJoin's own Exchange pair is consumed.  Cheap
    # structural proxy: the plan contains both, and no
    # CartesianProduct / BroadcastNestedLoopJoin beyond the single
    # 1-row bitmap broadcast.
    assert plan.count("CartesianProduct") == 0, plan


def test_zorder_and_projection_are_scan_side(spark, sf_dir):
    """Pure per-row operators must not shuffle: the Morton key and the
    JL projection are projections over the scan (0 Exchanges)."""
    for name in ("zorder_key_events", "embedding_random_projection"):
        plan = plan_of(spark, sf_dir, name)
        assert tree_nodes(plan, "Exchange") == 0, (name, plan)


def test_rolling_median_single_window_single_exchange(spark, sf_dir):
    """One user-clustered exchange feeds one Window; the median itself
    is frame arithmetic, not a second shuffle."""
    plan = plan_of(spark, sf_dir, "window_rolling_median_value")
    assert tree_nodes(plan, "Window") == 1, plan
    assert tree_nodes(plan, "Exchange") == 1, plan


def test_global_segment_dedup_two_exchanges(spark, sf_dir):
    """Corpus-wide paragraph dedup: one segment-keyed window exchange +
    one doc-keyed reassembly exchange — nothing else."""
    plan = plan_of(spark, sf_dir, "text_global_segment_dedup")
    assert tree_nodes(plan, "Window") == 1, plan
    assert tree_nodes(plan, "Exchange") <= 3, plan


def test_inverted_index_topk_is_take_ordered(spark, sf_dir):
    """The top-100 must be a TakeOrdered (partial per-partition top-k),
    never a full global Sort materialization."""
    plan = plan_of(spark, sf_dir, "text_inverted_index_top_terms")
    assert "TakeOrderedAndProject" in plan, plan


# The queries whose plans INTENTIONALLY contain a Python node, each with
# the one-line reason it stays Python.  The list is exact: a query with
# a Python node that is not listed fails the screen, and so does a
# listed query without one.
_PYTHON_OK = {
    "ann_cosine_topk_matmul": "numpy matmul + partial top-k per Arrow batch is the operator",
    "ann_ivf_topk": "numpy exact-cosine rerank of the probed buckets",
    "ann_pq_topk": "numpy PQ encode and exact-cosine rerank of the shortlist",
    "dedup_cdc_chunks": "gear-hash content-defined chunking walks each payload's bytes",
    "embedding_pca_project": "numpy Gram partials and projection per Arrow batch",
    "multimodal_audio_decode": "codec-true WAV synthesis and decode",
    "multimodal_audio_fp_neardup": "codec-true WAV decode into the energy fingerprint",
    "multimodal_image_decode": "codec-true BMP synthesis and decode",
    "multimodal_image_dhash_neardup": "codec-true BMP decode into the dHash",
    "multimodal_image_phash_neardup": "codec-true BMP decode into the DCT pHash",
    "multimodal_video_frames_real": "codec-true y4m synthesis and frame parse",
    "pandas_udaf_cents_sum": "the GROUPED_AGG pandas_udf surface is what the query shows",
    "pandas_udaf_weighted_avg": "the GROUPED_AGG pandas_udf surface is what the query shows",
    "pandas_udf_scalar_normalize": "the scalar pandas_udf surface is what the query shows",
    "text_zlib_compression_quality": "stdlib zlib DEFLATE has no Spark SQL analog",
}


# The modules that may call ``mapInPandas`` directly, each with the
# one-line reason; every operator whose unit is one row goes through
# ``io.map_records`` instead, so the per-record Python boundary is one
# function an audit (or a move to Arrow UDFs) finds in one place.
_DIRECT_MAP_IN_PANDAS = {
    "io.py": "map_records itself, the one per-record Python operator",
    "operators/similarity.py": "the ANN kernels score a whole Arrow batch in one numpy call",
    "operators/pca.py": "Gram partials and the projection are numpy over a whole Arrow batch",
}


def test_direct_map_in_pandas_only_in_batch_operators():
    from pathlib import Path

    root = Path(__file__).resolve().parents[1] / "form700_etl_spark"
    calls = {
        path.relative_to(root).as_posix(): n
        for path in sorted(root.rglob("*.py"))
        if (n := path.read_text().count(".mapInPandas("))
    }
    assert set(calls) == set(_DIRECT_MAP_IN_PANDAS), calls


@pytest.fixture(scope="module")
def registry_plan_sweep(spark, sf_dir):
    """ONE build pass over every non-streaming registered query, shared
    by all registry-wide plan contracts (each query's plan construction
    costs seconds of Catalyst work; two independent sweeps doubled the
    suite's wall for no coverage gain).  Yields
    (plans, streaming_skips, other_skips) where plans[name] =
    {"formatted": analyzed formatted explain of the final frame,
     "executed": [final executedPlan toString + every localCheckpoint'd
                  subplan captured at checkpoint time]}."""
    import pyspark.sql.classic.dataframe as cdf

    captured: list[str] = []
    orig_ckpt = cdf.DataFrame.localCheckpoint

    def capturing(self, eager=True):
        try:
            captured.append(
                self._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
            )
        except Exception:  # noqa: BLE001 — capture is best-effort
            pass
        return orig_ckpt(self, eager)

    plans: dict[str, dict] = {}
    streaming_skips, other_skips = [], []
    cdf.DataFrame.localCheckpoint = capturing
    try:
        for name in sorted(QUERIES):
            if "stream" in QUERIES[name].tags or name.startswith("stream_"):
                streaming_skips.append(name)  # streaming EXECUTES on build
                continue
            captured.clear()
            try:
                df = QUERIES[name].fn(spark, sf_dir)
                qe = df._jdf.queryExecution()  # noqa: SLF001
                plans[name] = {
                    "formatted": df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
                        qe, "formatted"
                    ),
                    "executed": [qe.executedPlan().toString()] + list(captured),
                }
            except Exception:  # noqa: BLE001 — queries needing extra setup
                other_skips.append(name)
    finally:
        cdf.DataFrame.localCheckpoint = orig_ckpt
    return plans, streaming_skips, other_skips


def test_registry_wide_no_accidental_python_or_cartesian(registry_plan_sweep):
    """EVERY registered query's plans are screened: Python nodes, in the
    final plan or in any materialized subplan, exactly in the declared
    _PYTHON_OK set, and no CartesianProduct anywhere (1-row combine
    crossJoins lower to broadcast nested loop, which is fine; a true
    cartesian is always a bug)."""
    plans, streaming_skips, other_skips = registry_plan_sweep
    python = {}
    for name, p in plans.items():
        nodes = {n for plan in [p["formatted"], *p["executed"]] for n in _PYTHON_NODE.findall(plan)}
        if nodes:
            python[name] = sorted(nodes)
        assert "CartesianProduct" not in p["formatted"], f"{name}: cartesian product"
    unexpected = {n: v for n, v in python.items() if n not in _PYTHON_OK}
    assert not unexpected, f"unexpected Python nodes: {unexpected}"
    assert set(_PYTHON_OK) <= set(python), (
        f"listed but no Python node: {sorted(set(_PYTHON_OK) - set(python))}"
    )
    # the screen must actually cover the registry, not silently skip it:
    # streaming queries are structurally excluded (they execute on
    # build), anything else skipping is capped and named.
    assert all(
        "stream" in n for n in streaming_skips
    ) and len(other_skips) <= 2, (streaming_skips, other_skips)


def test_skew_profile_scan_reads_only_key_column(spark, sf_dir):
    """The skew pre-flight must be a key-column-only scan — reading the
    full orders row for a key histogram is exactly the waste it exists
    to prevent."""
    plan = plan_of(spark, sf_dir, "skew_key_profile")
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert m.group(1).split(":")[0] == "o_custkey" and "," not in m.group(1), m.group(1)


def test_bm25_broadcasts_df_and_stats_tables(spark, sf_dir):
    """BM25's document-frequency table and 1-row corpus stats must
    arrive as broadcasts; shuffling the scored token stream against
    them would add two exchanges that dwarf the real work at scale."""
    plan = plan_of(spark, sf_dir, "text_bm25_topk")
    assert plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin") >= 2, plan


def test_analyze_table_statistics_enable_unhinted_broadcast(spark, sf_dir, tmp_path):
    """Cost-based evidence: with table-level statistics (ANALYZE TABLE)
    Catalyst broadcasts the small side of an unhinted join on its own.
    This is the stats path the repo's no-hard-hint stance relies on at
    scale: collect stats once per table, let the optimizer choose —
    file-relation size estimates already do this for parquet scans; the
    catalog path must agree once stats exist."""
    from form700_etl_spark.io import table

    wh = str(tmp_path / "wh")
    spark.sql(f"CREATE DATABASE IF NOT EXISTS cbo_t LOCATION '{wh}'")
    try:
        table(spark, sf_dir, "nation").write.saveAsTable("cbo_t.nation")
        table(spark, sf_dir, "customer").write.saveAsTable("cbo_t.customer")
        spark.sql("ANALYZE TABLE cbo_t.nation COMPUTE STATISTICS")
        spark.sql("ANALYZE TABLE cbo_t.customer COMPUTE STATISTICS")
        # stats recorded and visible to the optimizer
        desc = spark.sql("DESC EXTENDED cbo_t.nation").collect()
        stats = [r for r in desc if r.col_name == "Statistics"]
        assert stats and "rows" in stats[0].data_type, desc
        joined = spark.sql(
            "SELECT c.c_custkey, n.n_name FROM cbo_t.customer c "
            "JOIN cbo_t.nation n ON c.c_nationkey = n.n_nationkey"
        )
        plan = joined._jdf.queryExecution().explainString(  # noqa: SLF001
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
        assert "BroadcastHashJoin" in plan, plan
    finally:
        spark.sql("DROP DATABASE IF EXISTS cbo_t CASCADE")


def test_ewma_single_window_single_exchange(spark, sf_dir):
    """All 16 lag() columns must share ONE user-keyed Window over ONE
    exchange — 16 separate window subtrees would sort the stream 16
    times."""
    plan = plan_of(spark, sf_dir, "timeseries_ewma")
    assert tree_nodes(plan, "Window") == 1, plan
    assert tree_nodes(plan, "Exchange") == 1, plan


def test_dsir_histograms_broadcast_and_topk_is_take_ordered(spark, sf_dir):
    """The 256-bucket target/raw histograms must broadcast (they are
    bounded by construction, never by luck), and the top-100 must be a
    TakeOrdered partial top-k, not a global sort of every candidate."""
    plan = plan_of(spark, sf_dir, "sample_dsir_importance")
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_winnowing_selection_is_one_window_pair_join_is_hash(spark, sf_dir):
    """The fingerprint set must be computed ONCE and reused by the df cap
    and both pair-join sides (the localCheckpoint shows up as a Scan
    ExistingRDD feeding every consumer — without it the per-doc window
    selection re-runs three times), and the shared-pair join hashes on
    the fingerprint key."""
    plan = plan_of(spark, sf_dir, "text_winnowing_shared_pairs")
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_triangle_count_joins_stay_hashed(spark, sf_dir):
    """Degree-ordered orientation only helps if the wedge join is a hash
    join on the pivot node; the only nested-loop nodes allowed are the
    two 1-row combine cross joins for the scalar totals."""
    plan = plan_of(spark, sf_dir, "graph_triangle_count")
    assert "CartesianProduct" not in plan, plan
    assert tree_nodes(plan, "BroadcastNestedLoopJoin") <= 2, plan


def test_parquet_aggregate_pushdown_serves_count_min_max_from_footers(spark, sf_dir):
    """Footer-served aggregates: with the v2 parquet scan and
    aggregatePushdown on, a bare COUNT/MIN/MAX never reads data pages —
    the BatchScan itself carries PushedAggregation.  At 100 TB this is
    the difference between a metadata sweep and a full-table scan for
    audit-style queries (A1 count audits are exactly this shape).
    Result must equal the default-path answer."""
    df = spark.read.parquet(f"{sf_dir}/orders.parquet")
    want = df.selectExpr("count(*)", "min(o_orderkey)", "max(o_orderkey)").collect()[0]
    old_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    try:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        spark.conf.set("spark.sql.sources.useV1SourceList", "")
        q = spark.read.parquet(f"{sf_dir}/orders.parquet").selectExpr(
            "count(*)", "min(o_orderkey)", "max(o_orderkey)"
        )
        phys = q._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "PushedAggregation: [COUNT(*), MIN(o_orderkey), MAX(o_orderkey)]" in phys, phys
        assert q.collect()[0] == want
    finally:
        spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
        spark.conf.set("spark.sql.sources.useV1SourceList", old_v1)


def test_target_encode_fact_scanned_once_prior_broadcast(spark, sf_dir):
    """The 25-row brand partials are checkpointed, so the lineitem-part
    join runs ONCE (downstream plan reads ExistingRDD, no parquet
    re-scan) and the 1-row prior combines via broadcast."""
    plan = plan_of(spark, sf_dir, "feature_target_encode_smoothed")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_feature_hash_is_pure_scan_side(spark, sf_dir):
    """The hashing trick must be generate + project over one scan —
    no join, no aggregate, no window, no Python."""
    plan = plan_of(spark, sf_dir, "feature_hash_trick")
    assert tree_nodes(plan, "Window") == 0, plan
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert not _PYTHON_NODE.search(plan), plan


def test_quantile_bins_window_runs_over_value_grain(spark, sf_dir):
    """The cumulative window must consume the checkpointed VALUE-grain
    counts (customer scanned once), one Window total."""
    plan = plan_of(spark, sf_dir, "clean_quantile_bins")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert tree_nodes(plan, "Window") == 1, plan


def test_curriculum_bins_no_global_sort_limit_over_rows(spark, sf_dir):
    """Quartile thresholds must come from the value-grain cumulative
    window (operators/quantiles.py), NEVER the orderBy().limit(ceil(
    f*N)) idiom whose limit grows with N and funnels O(N) rows through
    one task (round-5 weak item).  The binned row-grain output joins
    the 1-row threshold frame via broadcast — no sort-limit nodes, one
    broadcast join, no added shuffle of the scored rows."""
    plan = plan_of(spark, sf_dir, "text_quality_curriculum_bins")
    assert "TakeOrderedAndProject" not in plan, plan
    assert "GlobalLimit" not in plan, plan
    assert "CollectLimit" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row threshold frame


def test_capstone_curriculum_no_global_sort_limit_over_rows(spark, sf_dir):
    """Same contract for the capstone pipeline's quartile stage: the
    survivor frame (checkpointed) feeds the value-grain threshold pass
    and the final audit; no global sort-limit over raw rows anywhere
    in the composed plan."""
    plan = plan_of(spark, sf_dir, "training_pipeline_near_dedup_curriculum")
    assert "TakeOrderedAndProject" not in plan, plan
    assert "GlobalLimit" not in plan, plan
    assert "CollectLimit" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row threshold frame


def test_pca_covariance_single_scan_broadcast_dims(spark, sf_dir):
    """Pair products and dim sums ride ONE explode of one embeddings
    scan (checkpointed 44-row moment table); the two dim-sum join
    sides broadcast."""
    plan = plan_of(spark, sf_dir, "embedding_pca_covariance")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_seasonal_decompose_day_grain_and_broadcast_seasonal(spark, sf_dir):
    """Raw events aggregate to day grain once (checkpoint); the 7-row
    seasonal table joins back via broadcast, never a shuffle."""
    plan = plan_of(spark, sf_dir, "timeseries_seasonal_decompose")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 1, plan


def test_cross_correlation_joins_day_spine_only(spark, sf_dir):
    """The 8-lag self-join runs over the checkpointed 30-row day spine —
    raw events aggregate once; the lag table broadcasts."""
    plan = plan_of(spark, sf_dir, "timeseries_cross_correlation_lag")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ks_window_runs_over_value_grain(spark, sf_dir):
    """The ECDF window consumes the checkpointed value-grain counts —
    events scanned once, one Window, D-max in exact integers."""
    plan = plan_of(spark, sf_dir, "stats_ks_two_sample")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert tree_nodes(plan, "Window") == 1, plan


def test_adamic_adar_wedge_join_is_hash_topk_partial(spark, sf_dir):
    """The wedge self-join must hash on the center node (never nested
    loop over the corpus), and the top-50 must be a TakeOrdered."""
    plan = plan_of(spark, sf_dir, "graph_adamic_adar_links")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert tree_nodes(plan, "BroadcastNestedLoopJoin") == 0, plan


def test_rake_scores_at_phrase_grain_topk_partial(spark, sf_dir):
    """Word stats and phrase scores re-aggregate the checkpointed
    distinct-phrase table (raw text tokenized once); word-score join
    broadcasts; top-25 is a TakeOrdered."""
    plan = plan_of(spark, sf_dir, "text_rake_keywords")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_mann_whitney_single_scan_one_window(spark, sf_dir):
    """Unlike the KS twin (which needs a separate totals branch), the
    rank-sum folds totals into the final aggregate — one parquet scan,
    one value-grain window, no checkpoint needed."""
    plan = plan_of(spark, sf_dir, "stats_mann_whitney_u")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert tree_nodes(plan, "Window") == 1, plan


def test_config_pipeline_compiles_to_single_scan_plan(spark, sf_dir):
    """The YAML-compiled pipeline must produce the same plan shape as
    the hand-written flagship: one documents scan, the dedup and pack
    windows, no Python nodes, no cartesian."""
    plan = plan_of(spark, sf_dir, "training_pipeline_from_config")
    assert plan.count("Scan parquet") // 2 == 1, plan
    # dedup rank + pack cumsum ("Window (" counts exact nodes — the
    # rank filter also earns WindowGroupLimit pre-rank pruning, which
    # a bare "Window" substring would miscount)
    assert plan.count("+- Window (") == 2, plan
    assert "WindowGroupLimit" in plan, plan  # rank<=1 pushed below sort
    assert not _PYTHON_NODE.search(plan), plan
    assert "CartesianProduct" not in plan, plan


def test_linkage_candidates_hash_join_topk_partial(spark, sf_dir):
    """F-S scoring must ride the fuzzy join's blocked hash join (never
    a corpus nested loop; the only broadcast-nested-loop allowed is the
    1-row u-table combine), and the top-50 is a TakeOrdered."""
    plan = plan_of(spark, sf_dir, "linkage_fs_scores")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_lsh_recall_eval_reuses_one_shingle_pass(spark, sf_dir):
    """Both eval arms (exact pairs + LSH pairs) must consume the SAME
    checkpointed shingle table — the corpus is shingled once."""
    plan = plan_of(spark, sf_dir, "dedup_lsh_recall_eval")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_negative_pairs_window_is_bucket_partitioned(spark, sf_dir):
    """The hash-ring lookup must run as a PARTITIONED window (sharded
    by bucket) — a global-sort ring would single-partition at scale."""
    plan = plan_of(spark, sf_dir, "sample_negative_pairs")
    m = re.search(r"Window.*?Arguments: \[.*?\], \[(\w+)", plan, re.S)
    assert m and "bucket" in m.group(1), plan
    assert "CartesianProduct" not in plan, plan


def test_spearman_single_scan_pair_grain(spark, sf_dir):
    """Both rank maps and the moment agg must re-consume the ONE
    checkpointed (quantity, cents) pair-grain table — one fact scan,
    two value-grain rank windows, hash joins only."""
    plan = plan_of(spark, sf_dir, "stats_spearman_rank_corr")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("+- Window (") == 2, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_anova_single_scan_no_window(spark, sf_dir):
    """ANOVA is two chained hash aggs over one scan — group moments,
    then the exact cross-group reduction.  No window, no join."""
    plan = plan_of(spark, sf_dir, "stats_anova_oneway")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert plan.count("+- Window (") == 0, plan
    assert "CartesianProduct" not in plan, plan


def test_cusum_walks_checkpointed_day_spine(spark, sf_dir):
    """The totals branch and the CUSUM window share the checkpointed
    day spine (one parquet scan); the argmax is a TakeOrdered partial
    top-1, and the only nested-loop is the 1-row totals combine."""
    plan = plan_of(spark, sf_dir, "timeseries_cusum_changepoint")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert plan.count("+- Window (") == 1, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_benford_reaggregates_checkpointed_digit_table(spark, sf_dir):
    """Totals, chi-square terms, and the final projection all derive
    from the checkpointed 9-row digit table — the orders scan happens
    exactly once, at checkpoint time."""
    plan = plan_of(spark, sf_dir, "audit_benford_first_digit")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ushape_attribution_single_scan_user_clustered(spark, sf_dir):
    """One events scan serves the conversion-timestamp window and the
    path position/length windows — all partitioned by user, never a
    global sort."""
    plan = plan_of(spark, sf_dir, "events_ushape_attribution")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert "CartesianProduct" not in plan, plan
    # every Window node is user-partitioned (no unpartitioned sort):
    # windowspecdefinition's first argument is the partition key
    specs = re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert specs and all(s == "user_id" for s in specs), plan


def test_geo_knn_blocks_on_grid_cells(spark, sf_dir):
    """Candidates must come from hash joins on cell keys (constant 9x
    probe fan-out) — never a cross join or nested loop over the corpus.
    Both phases re-consume the one checkpointed cell table (single
    corpus scan), the coarse top-3 pushes rank below its sort
    (WindowGroupLimit), and the union has exactly the fine + coarse
    rank windows."""
    plan = plan_of(spark, sf_dir, "geo_knn_grid_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "WindowGroupLimit" in plan, plan
    # coarse rank window only — the fine pass's two windows sit behind
    # the phase-1 checkpoint, run once
    assert plan.count("+- Window (") == 1, plan


def test_theil_sen_pairs_enumerate_day_grain_only(spark, sf_dir):
    """The O(n^2) slope enumeration must run over the checkpointed DAY
    spine (calendar-bounded, SF-independent) — the fact is scanned only
    at checkpoint time.  The non-equi day-pair join is the deliberate
    bounded-domain nested loop."""
    plan = plan_of(spark, sf_dir, "timeseries_theil_sen_slope")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bootstrap_single_scan_replicate_partials(spark, sf_dir):
    """All 32 replicate means AND the point estimate must come from ONE
    orders scan: the explode fans map-side, and the final agg
    re-aggregates replicate partials (no second pass for the mean)."""
    plan = plan_of(spark, sf_dir, "stats_bootstrap_ci_poisson")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert tree_nodes(plan, "Generate") >= 1, plan  # the replicate explode
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_skyline_dominance_window_runs_over_size_grain(spark, sf_dir):
    """The dominance test must collapse to one window over the size-grain
    aggregate (bounded domain), with the frontier broadcast back for the
    joinback — never an n^2 dominance join."""
    plan = plan_of(spark, sf_dir, "skyline_pareto_frontier")
    assert plan.count("+- Window (") == 1, plan
    # the window's input is the min-price-per-p_size aggregate's output
    blocks = plan.split("\n\n")
    (window,) = [b for b in blocks if re.match(r"\(\d+\) Window\n", b)]
    pmin = re.search(r"Input \[2\]: \[p_size#\d+, (pmin#\d+L?)\]", window).group(1)
    assert any(
        re.match(r"\(\d+\) HashAggregate\n", b)
        and re.search(r"Keys \[1\]: \[p_size#\d+\]", b)
        and f"AS {pmin}]" in b
        for b in blocks
    ), plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_jaccard_neighbors_wedge_join_is_hash_topk_partial(spark, sf_dir):
    """Same contract as Adamic-Adar: wedges hash-join on the center,
    degrees join from the checkpointed degree table, top-50 is a
    TakeOrdered partial."""
    plan = plan_of(spark, sf_dir, "graph_jaccard_neighbors")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_pmi_tokenizes_corpus_once(spark, sf_dir):
    """df counts, the doc total, and pair generation must all consume
    the ONE checkpointed token table (the RAKE tokenize-once pattern);
    endpoint df joins broadcast; top-25 is a TakeOrdered."""
    plan = plan_of(spark, sf_dir, "text_pmi_cooccurrence")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_good_turing_reaggregates_count_grain(spark, sf_dir):
    """Counts-of-counts must chain gram grain -> count grain with the
    count-grain table checkpointed (low/totals/P0 branches re-consume
    it); the only nested loop is the 1-row totals/P0 combine."""
    plan = plan_of(spark, sf_dir, "text_good_turing_mass")
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_zipf_rank_window_runs_over_vocabulary_grain(spark, sf_dir):
    """Round 14: vocabulary grows with the corpus (Heaps' law), so the
    rank assignment must be the two-pass partitioned rank
    (operators/prefix.py) — the row-grain window partitioned by __pid,
    never an empty-partition-spec global sort.  The frequency agg is
    checkpointed inside the operator, so the visible plan consumes the
    checkpointed RDD."""
    plan = plan_of(spark, sf_dir, "stats_zipf_slope")
    assert "hashpartitioning(__pid" in plan, plan
    # the only row_number window is the per-pid one
    assert "row_number" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_fano_two_chained_aggs_single_scan(spark, sf_dir):
    """Burstiness is user-grain then type-grain hash aggs over one
    events scan — no window, no join."""
    plan = plan_of(spark, sf_dir, "events_burstiness_fano")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert plan.count("+- Window (") == 0, plan
    assert "Join" not in plan, plan


def test_clustering_coeff_wedge_join_stays_hashed(spark, sf_dir):
    """The wedge self-join and the triangle-closing semi-join must stay
    hash joins on graph keys (the support-2 graph keeps degrees small so
    no hub cap is needed); no cartesian fallback, and the checkpointed
    edge list must serve every consumer (no parquet re-scan of lineitem
    past the checkpoint)."""
    plan = plan_of(spark, sf_dir, "graph_local_clustering_coeff")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_acf_runs_entirely_on_checkpointed_spine(spark, sf_dir):
    """Past the two checkpoints (day-grain agg, centered spine) the ACF
    plan never rescans parquet; the only nested-loop nodes are the
    broadcast 1-row combines (lags x spine, denominator joinback)."""
    plan = plan_of(spark, sf_dir, "timeseries_acf")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_kruskal_wallis_single_scan_one_value_grain_window(spark, sf_dir):
    """The rank window must run over the checkpointed (value, type)
    grain — never raw events — and there is exactly ONE window in the
    whole plan (the MWU/Spearman bounded-domain precedent)."""
    plan = plan_of(spark, sf_dir, "stats_kruskal_wallis")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("+- Window (") == 1, plan


def test_interval_merge_two_partitioned_windows_no_join(spark, sf_dir):
    """Gaps-and-islands is one scan + two supplier-partitioned windows
    + one agg: no self-join, no global (unpartitioned) window."""
    plan = plan_of(spark, sf_dir, "intervals_merge_overlaps")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert plan.count("+- Window (") == 2, plan
    assert "Join" not in plan, plan
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert spec.lstrip().startswith("s#"), spec


def test_kmeans_assignment_is_scan_side(spark, sf_dir):
    """Lloyd assignment must be a pure projection over the checkpointed
    quantized vectors (broadcast-centers-as-literals): the final-round
    plan has NO join and NO window — just the scan, the distance
    expressions, and one hash agg."""
    plan = plan_of(spark, sf_dir, "embedding_kmeans_lloyd")
    assert "Join" not in plan, plan
    assert plan.count("+- Window (") == 0, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Scan parquet" not in plan, plan


def test_asof_nearest_has_no_join(spark, sf_dir):
    """Nearest-direction as-of = one scan, one user-clustered exchange,
    three windows (peer spread + backward + forward) — never a join."""
    plan = plan_of(spark, sf_dir, "asof_nearest_purchase_per_event")
    assert "Join" not in plan, plan
    assert plan.count("Scan parquet") // 2 == 1, plan


def test_cohens_kappa_runs_on_checkpointed_confusion(spark, sf_dir):
    """All four kappa consumers (marginals x2, totals, pe join) must
    read the class-grain checkpoint, not re-scan documents."""
    plan = plan_of(spark, sf_dir, "stats_cohens_kappa_langid")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_brown_forsythe_single_scan_one_group_window(spark, sf_dir):
    """Median + spread passes re-consume the checkpointed (type, cents)
    grain; exactly one (group-partitioned) cumulative window."""
    plan = plan_of(spark, sf_dir, "stats_brown_forsythe")
    assert "Scan parquet" not in plan, plan
    assert plan.count("+- Window (") == 1, plan


def test_markov_power_iteration_joins_stay_broadcast(spark, sf_dir):
    """Each power-iteration round joins the k^2-row checkpointed matrix
    with the k-row state — broadcast-only, no shuffle join, no parquet
    rescans past the checkpoint."""
    plan = plan_of(spark, sf_dir, "events_markov_stationary")
    assert "Scan parquet" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_kaplan_meier_windows_run_on_duration_grain(spark, sf_dir):
    """The KM/NA cumulative windows must consume the checkpointed
    duration grain (calendar-bounded), never user- or event-grain rows;
    only broadcast 1-row combines allowed."""
    plan = plan_of(spark, sf_dir, "events_kaplan_meier_conversion")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_streaks_all_windows_partition_by_user(spark, sf_dir):
    """Every window in the streak plan partitions by user_id — no
    global sort anywhere."""
    import re

    plan = plan_of(spark, sf_dir, "events_longest_daily_streak")
    assert "Join" not in plan, plan
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", plan)
    assert specs, plan
    for spec in specs:
        assert spec.lstrip().startswith("user_id#"), spec


def test_kneser_ney_model_tables_reaggregate_checkpoint(spark, sf_dir):
    """Context/continuation/type counts must re-aggregate the
    checkpointed bigram table — exactly ONE documents scan survives in
    the plan (the eval-side bigram explode)."""
    plan = plan_of(spark, sf_dir, "text_kneser_ney_nll")
    assert plan.count("Scan parquet") // 2 == 1, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_interval_overlap_join_is_bucket_equi_join(spark, sf_dir):
    """The candidate join must be an equi join on the week-bucket key —
    never a nested-loop theta join over raw intervals."""
    plan = plan_of(spark, sf_dir, "intervals_overlap_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    ), plan


def test_kmv_set_ops_joins_stay_hashed(spark, sf_dir):
    """Sketch-algebra joins run on sketch/pair grain with hash joins
    (the pair-member mapping avoids the IN-list nested loop); the only
    corpus-scale work is the checkpointed user-grain distinct."""
    plan = plan_of(spark, sf_dir, "sketch_kmv_set_ops")
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_association_rules_pairs_from_basket_explode(spark, sf_dir):
    """Pair enumeration must be the per-basket sorted-set explode over
    the checkpointed (order, part) grain — no item-grain self-join of
    the fact; the rules joins stay hashed."""
    plan = plan_of(spark, sf_dir, "basket_association_rules")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan or "Generate" in plan, plan


def test_observe_audit_returns_bounded_local_result(spark, sf_dir):
    """The observe query's returned frame is the driver-side metrics
    struct (bounded) — a LocalTableScan, no distributed plan."""
    plan = plan_of(spark, sf_dir, "audit_observe_single_pass")
    assert "LocalTableScan" in plan or "Scan ExistingRDD" in plan, plan


def test_quantile_normalize_runs_on_value_grain(spark, sf_dir):
    """All three windows (group midranks, pooled CDF, forward as-of
    merge) must consume the checkpointed value grain — never raw rows;
    joins are broadcast-only."""
    plan = plan_of(spark, sf_dir, "clean_quantile_normalize_groups")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("+- Window (") == 3, plan


def test_logistic_gd_gradient_is_single_agg_over_checkpoint(spark, sf_dir):
    """Each GD round must be one hash agg over the checkpointed feature
    table — the final-round plan has no join, no window, no parquet."""
    plan = plan_of(spark, sf_dir, "mlprep_logistic_regression_gd")
    assert "Scan parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "Join" not in plan, plan
    assert plan.count("+- Window (") == 0, plan


def test_naive_bayes_scoring_reuses_checkpointed_likelihoods(spark, sf_dir):
    """Likelihood/total/vocab/prior tables must re-aggregate the
    checkpointed train counts; only the eval-side token explode re-scans
    documents (plus the tiny prior pass)."""
    plan = plan_of(spark, sf_dir, "text_naive_bayes_langid")
    assert "Scan ExistingRDD" in plan, plan
    assert plan.count("Scan parquet") // 2 <= 1, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------------
# Top-10 bench queries: the plans the round record is paid for, locked.
# These are the heaviest plans in BENCH_DETAIL.json — the set where a silent
# broadcast->shuffle flip or a Python fallback costs minutes at sf0.1 and
# cluster-days at 100 TB.  One test per query, asserting the load-bearing
# shape decision that made it fast, not the whole plan string.
# ---------------------------------------------------------------------------


def test_knn_eval_broadcasts_capped_query_side_corpus_never_sorted(spark, sf_dir):
    """mlprep_knn_classifier_eval (the round-7 fix, previously unlocked):
    the capped eval sample broadcasts into a nested-loop join against the
    corpus stream — the corpus itself must never sort-merge, never
    cartesian, and the only exchanges are the explicit corpus
    repartition + the per-query-point window shuffles."""
    plan = plan_of(spark, sf_dir, "mlprep_knn_classifier_eval")
    assert tree_nodes(plan, "BroadcastNestedLoopJoin") >= 1, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert not _PYTHON_NODE.search(plan), plan


def test_schedule_pipeline_single_agg_broadcast_enrichment(spark, sf_dir):
    """ref_pipeline_scheduleA2 (the bench's heaviest plan): ONE
    hash-aggregate pair builds the schedule arrays (partial+final over the
    keyed l_orderkey repartition), the cover enrichment broadcasts, and
    nothing sort-merges — the filing synthesis plus explode/flatten/clean
    stays a single shuffle of lineitem."""
    plan = plan_of(spark, sf_dir, "ref_pipeline_scheduleA2")
    assert tree_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # partial+final agg for the collect_list build = 2 HashAggregate
    # nodes + 2 for the pruned count columns; more means a schedule
    # array is being re-aggregated per consumer
    assert tree_nodes(plan, "HashAggregate") <= 4, plan
    assert not _PYTHON_NODE.search(plan), plan


def test_filing_synthesis_shuffle_is_sized_by_aqe(spark, sf_dir):
    """synthesize_filings' l_orderkey pre-shuffle states a distribution,
    not a task count: a keyed repartition is REPARTITION_BY_COL, which
    AQE coalesces by bytes, where a fixed count (REPARTITION_BY_NUM)
    would run every aggregate task over a tiny shuffle.  After the
    collect, the final plan reads that shuffle through a coalesced
    AQEShuffleRead."""
    plan = plan_of(spark, sf_dir, "ref_pipeline_scheduleA2")
    keyed = re.findall(r"hashpartitioning\(l_orderkey#\d+L?, \d+\), (\w+)", plan)
    assert keyed and set(keyed) == {"REPARTITION_BY_COL"}, plan
    assert "REPARTITION_BY_NUM" not in plan, plan
    final = executed_plan_of(spark, sf_dir, "ref_pipeline_scheduleA2").split("== Initial Plan ==")[0]
    assert re.search(
        r"AQEShuffleRead coalesced\n\s*\+- ShuffleQueryStage \d+\n"
        r"\s*\+- Exchange hashpartitioning\(l_orderkey#\d+L?, \d+\), REPARTITION_BY_COL",
        final,
    ), final


def test_repeated_substring_spans_joinless_two_window(spark, sf_dir):
    """text_repeated_substring_spans: the gram stream (the dominant
    volume) must materialize ONCE — duplicate marking is a count window
    over the gram key and island grouping a row_number window per doc,
    with NO join node anywhere (the former groupBy + self-join shape
    re-derived the explode+hash lineage on both sides)."""
    plan = plan_of(spark, sf_dir, "text_repeated_substring_spans")
    assert tree_nodes(plan, "Window") == 2, plan
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "ShuffledHashJoin",
        "CartesianProduct",
    ):
        assert node not in plan, (node, plan)
    # one scan of documents only
    assert plan.count("Scan parquet") // 2 <= 1, plan


def test_prefix_filter_ssjoin_all_hash_no_python(spark, sf_dir):
    """dedup_prefix_filter_join: every candidate join (prefix-token
    bucket, length filter, verify) must stay a broadcast/hash join over
    the filtered candidate stream — the whole point of prefix filtering
    is avoiding the quadratic fallback shapes."""
    plan = plan_of(spark, sf_dir, "dedup_prefix_filter_join")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not _PYTHON_NODE.search(plan), plan


def test_bpe_heldout_iterations_checkpoint_and_topk_partial(spark, sf_dir):
    """text_bpe_encode_heldout: each merge round re-reads checkpointed
    state (Scan ExistingRDD) and the 1-row top pair is itself
    materialized (round 15), so its full-corpus pair-count aggregate
    executes ONCE per round instead of once per consumer plan — the
    outer plan must therefore contain NO pair aggregation or top-k at
    all (both live inside the checkpointed subplans), and the top-pair
    subplan itself must pick its row via a partial top-k
    (TakeOrdered), never a global sort."""
    plan = plan_of(spark, sf_dir, "text_bpe_encode_heldout")
    assert "Scan ExistingRDD" in plan, plan
    # the expensive subtrees must NOT be embedded in the outer plan
    assert "TakeOrderedAndProject" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert tree_nodes(plan, "BroadcastNestedLoopJoin") <= 1, plan
    # the returned top frame must BE the checkpoint (Scan ExistingRDD,
    # no recomputation), and the aggregate shape it pins must pick its
    # row via a partial top-k (TakeOrdered), never a global sort
    import pyspark.sql.functions as F

    from form700_etl_spark.io import table
    from form700_etl_spark.queries.textops import _bpe_merge_round, _bpe_pairs

    toks = table(spark, sf_dir, "documents").selectExpr(
        "doc_id", "split(text, ' ') AS tk"
    )
    top, _ = _bpe_merge_round(toks)
    top_plan = top._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        top._jdf.queryExecution(), "formatted"
    )
    assert "Scan ExistingRDD" in top_plan, top_plan
    assert "HashAggregate" not in top_plan, top_plan
    raw_top = (
        _bpe_pairs(toks)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("w1"), F.asc("w2"))
        .limit(1)
    )
    raw_plan = raw_top._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        raw_top._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in raw_plan, raw_plan


def test_simhash_band_join_is_single_exchange_hash_join(spark, sf_dir):
    """dedup_simhash_hamming: the 4x16-bit band candidate join must hash
    on the band key with ONE exchange over the checkpointed signature
    table — banding exists precisely to keep this join linear."""
    plan = plan_of(spark, sf_dir, "dedup_simhash_hamming")
    assert tree_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert tree_nodes(plan, "Exchange") <= 1, plan
    assert "Scan ExistingRDD" in plan, plan


def test_tfidf_cosine_pairs_no_quadratic_shapes(spark, sf_dir):
    """text_tfidf_cosine_pairs: the pair generation is token-bucketed;
    the only nested-loop nodes allowed are the 1-row corpus-stats
    broadcasts, never a true cartesian or a Python fallback."""
    plan = plan_of(spark, sf_dir, "text_tfidf_cosine_pairs")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert not _PYTHON_NODE.search(plan), plan


def test_ann_ivf_probe_is_joinless_windowed_scan(spark, sf_dir):
    """ann_ivf_topk: IVF probing is cluster-pruned scan + per-query
    window top-k — NO join node of any kind touches the corpus, and the
    only exchanges are the centroid assignment + window shuffle."""
    plan = plan_of(spark, sf_dir, "ann_ivf_topk")
    for node in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
        "ShuffledHashJoin",
    ):
        assert node not in plan, (node, plan)
    assert tree_nodes(plan, "Exchange") <= 2, plan


def test_minhash_lsh_band_joins_hash_over_checkpointed_signatures(spark, sf_dir):
    """dedup_minhash_lsh: banded candidate generation + exact-Jaccard
    verify must stay hash joins over the checkpointed signature table;
    a sort-merge here means the LSH bucketing lost its broadcast."""
    plan = plan_of(spark, sf_dir, "dedup_minhash_lsh")
    assert tree_nodes(plan, "BroadcastHashJoin") >= 1, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan


def test_connected_components_result_is_materialized_not_relineaged(spark, sf_dir):
    """dedup_clusters_connected: at test SF the union-find runs gated
    driver-side and the result must come back as a local relation
    (``LocalTableScan``, built from Arrow with no Python worker) — NOT a
    re-derivation of the edge lineage per consumer (the Pregel fallback
    path is exercised by its own test)."""
    plan = plan_of(spark, sf_dir, "dedup_clusters_connected")
    assert "LocalTableScan" in plan, plan
    assert "Scan parquet" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_scd2_asof_join_partitions_every_fact_exactly_once(spark, sf_dir):
    """temporal_scd2_asof_join: the validity windows partition the
    timeline, so Σ n_orders must equal COUNT(orders) — no fact dropped,
    none double-matched — and the plan must stay an equi hash join
    (validity as residual), never a cartesian/range expansion."""
    from pyspark.sql import functions as F

    from form700_etl_spark.io import table

    rows = QUERIES["temporal_scd2_asof_join"].fn(spark, sf_dir).collect()
    total = sum(r.n_orders for r in rows)
    assert total == table(spark, sf_dir, "orders").count()
    assert any(r.segment_asof == "MOVED" for r in rows)  # post-change mass
    plan = plan_of(spark, sf_dir, "temporal_scd2_asof_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_personalized_pagerank_mass_is_source_anchored(spark, sf_dir):
    """graph_personalized_pagerank: the restart keeps the source the
    top-ranked node (0.15 mass re-injected there every round while all
    other mass divides over out-edges), and every returned rank is a
    positive integer micro-unit — the exactness contract."""
    rows = QUERIES["graph_personalized_pagerank"].fn(spark, sf_dir).collect()
    assert rows and rows[0].node_type == "customer"
    assert all(r.rank_micro > 0 for r in rows)
    assert rows[0].rank_micro == max(r.rank_micro for r in rows)


# ---------------------------------------------------------------------------
# Registry-wide single-partition-window contract (VERDICT r13 task 2)
#
# A Window whose required child distribution is a SinglePartition
# exchange executes as ONE task sorting the window's entire input — the
# global rank-filter idiom that is invisible at sf0.1 and catastrophic
# at 100 TB.  Spark 4.1's LimitPushDownThroughWindow happens to rescue
# `row_number().over(orderBy)` + `filter(rk<=k)` into a TakeOrdered
# (verified on this build, CROSSCHECK_r14), but the contract must not
# depend on an optimizer rule firing: this sweep walks EVERY registered
# query's physical plan — including the subplans that localCheckpoint()
# would otherwise hide behind a Scan ExistingRDD, captured via an
# instrumented checkpoint — and fails on any Window fed by an
# Exchange SinglePartition, unless the window's input is provably
# bounded (TakeOrdered / limit / global-agg upstream) or the query is
# allowlisted below with a one-line grain-bound justification.

# Bounded-input evidence in the direct child chain: a TakeOrdered or
# limit yields <= k rows; a global (keys=[]) aggregate yields exactly
# one row per upstream — all constant-bounded, safe to window anywhere.
_BOUNDED_CHAIN = re.compile(
    r"TakeOrderedAndProject|CollectLimit|GlobalLimit|LocalLimit"
    r"|Aggregate\(keys=\[\]"
)
_PARTITIONED_EXCHANGE = re.compile(r"Exchange (hash|range)partitioning")

# Queries whose SinglePartition-fed windows run over a GRAIN that is
# bounded by construction (not visible in the plan text).  Every entry
# names its bound; an unbounded grain (doc/key/row/vocab) never belongs
# here — those were rewritten onto operators/prefix.py in round 14
# (abc_pareto, gini, ref_chunking_audit, zipf_slope, heaps).
_SINGLE_PARTITION_WINDOW_OK = {
    # --- value grain: input is an aggregate over DISTINCT QUANTIZED
    # VALUES, bounded by the value domain, not the corpus.  Every bound
    # below is DOMAIN-quantized (integer cents / integer µs / fixed
    # resolution), never a raw continuous column: the two entries whose
    # grain was genuinely data-dependent (mlprep_conformal_intervals'
    # DECIMAL(38) residuals, stats_roc_auc's raw double scores) were
    # rewritten onto operators/prefix.py in round 15 and removed. ---
    "agg_weighted_percentiles": "integer-cent domain (round(price*100))",
    "clean_quantile_bins": "integer-cent domain (round(price*100))",
    "clean_quantile_normalize_groups": "integer-cent domain (round(value*100))",
    "mlprep_decision_stump": "integer-cent split candidates (round(value*100))",
    "sketch_histogram_quantiles": "fixed histogram bins",
    "histogram_fixed_width": "fixed bin count",
    "text_quality_curriculum_bins": "quality scores quantized to 1e-6 in [0,1]",
    "training_pipeline_near_dedup_curriculum": "quality scores quantized to 1e-6",
    "stats_kruskal_wallis": "integer-cent midrank grain (round(value*100))",
    "stats_ks_exponential_interarrival": "integer-microsecond gap grain",
    "stats_ks_two_sample": "integer-cent ECDF grain (round(value*100))",
    "stats_mann_whitney_u": "integer-cent rank grain (round(value*100))",
    "stats_spearman_rank_corr": "integer quantity / integer-cent grain",
    "stats_wilcoxon_signed_rank": "integer-cent |diff| grain (round(value*100))",
    # --- calendar grain: day/month/hour spines, bounded by time ---
    "events_cumulative_new_users": "day grain",
    "events_kaplan_meier_conversion": "days-since-signup grain",
    "monthly_revenue_pct_change": "month grain",
    "timeseries_cusum_changepoint": "day grain",
    "timeseries_pettitt_changepoint": "day grain",
    "timeseries_seasonal_decompose": "day grain",
    "timeseries_spike_detector": "day grain",
    "stats_hodges_lehmann_shift": "day-pair grain (calendar-bounded cross)",
    "mlprep_isotonic_calibration": "24-hour calibration grain",
    # --- small enumerable domains ---
    "sample_source_temperature_mix": "source grain (few sources)",
    "skyline_pareto_frontier": "distinct p_size values",
    "stats_benjamini_hochberg_fdr": "hypothesis grain (event types)",
    "text_ndcg_retrieval_eval": "rel grain (<= n_query_terms+1 = 5 values)",
}


def _plan_depth(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*"))


def _single_partition_fed_windows(plan: str) -> list[str]:
    """Window nodes whose direct input chain hits an Exchange
    SinglePartition before any partitioned exchange / bounded-input
    operator / branching node.  Walks the toString tree by indentation;
    conservative: stops (no flag) at joins/unions/scans, where the
    feeding distribution is no longer a single unary chain."""
    lines = plan.splitlines()
    flagged = []
    for i, ln in enumerate(lines):
        if not re.search(r"\bWindow(GroupLimit)? \[", ln):
            continue
        d = _plan_depth(ln)
        j = i + 1
        while j < len(lines):
            s = lines[j]
            if _plan_depth(s) <= d:
                break
            if "Exchange SinglePartition" in s:
                # operators/prefix.py fix-up: the exchange's input is a
                # per-partition-totals aggregate keyed on __pid — at
                # most num_partitions rows, bounded by construction.
                ed = _plan_depth(s)
                k = j + 1
                pid_bounded = False
                while k < len(lines) and _plan_depth(lines[k]) > ed:
                    if re.search(r"Aggregate\(keys=\[__pid", lines[k]):
                        pid_bounded = True
                        break
                    if "Exchange" in lines[k] or "Join" in lines[k]:
                        break
                    k += 1
                if not pid_bounded:
                    flagged.append(ln.strip()[:120])
                break
            if (
                _PARTITIONED_EXCHANGE.search(s)
                or _BOUNDED_CHAIN.search(s)
                or "Join" in s
                or "Scan" in s
                or "Union" in s
            ):
                break
            j += 1
    return flagged


def test_registry_wide_no_single_partition_windows(registry_plan_sweep):
    """EVERY registered query (and every localCheckpoint'd subplan it
    builds, captured by the shared sweep's instrumented checkpoint) is
    screened for the single-partition-window shape."""
    plans, streaming_skips, other_skips = registry_plan_sweep
    offenders: dict[str, list[str]] = {}
    for name, p in plans.items():
        hits: list[str] = []
        for plan in p["executed"]:
            hits += _single_partition_fed_windows(plan)
        if hits and name not in _SINGLE_PARTITION_WINDOW_OK:
            offenders[name] = hits
    assert not offenders, offenders
    assert all(
        "stream" in n for n in streaming_skips
    ) and len(other_skips) <= 2, (streaming_skips, other_skips)
