"""Physical-plan assertions: the scale properties the engine promises
(pushdown, pruning, broadcast dims, no cross products) hold in the
plans Catalyst actually produces — not just in docstrings.
"""

from __future__ import annotations

import contextlib
import os

import pytest

from movie_etl_spark.plans.catalog import QUERIES
from tests.conftest import TESTDATA_SF0001, jobs_in_group

needs_testdata = pytest.mark.skipif(
    not os.path.isdir(TESTDATA_SF0001), reason="driver testdata not available"
)


def _plan(spark, name: str) -> str:
    df = QUERIES[name].fn(spark, TESTDATA_SF0001)
    return df._jdf.queryExecution().executedPlan().toString()


@needs_testdata
def test_s1_pushes_predicates_and_prunes_columns(spark):
    plan = _plan(spark, "s1_discover")
    assert "PushedFilters" in plan
    # the threshold predicate reaches the parquet scan
    assert "o_totalprice" in plan.split("PushedFilters", 1)[1][:400]
    # projection pruning: unreferenced wide columns never leave the scan
    read_schema = plan.split("ReadSchema", 1)[1][:400]
    assert "o_comment" not in read_schema and "o_clerk" not in read_schema


@needs_testdata
def test_j3_broadcasts_dimensions(spark):
    assert "BroadcastHashJoin" in _plan(spark, "j3_broadcast_dim_join")


@needs_testdata
@pytest.mark.parametrize(
    "name", ["dd3_minhash_near_dups", "dd4_ngram_jaccard", "v2_lsh_top_k"]
)
def test_lsh_paths_have_no_cross_product(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


@needs_testdata
def test_f6_has_no_forced_broadcast_hint(spark):
    df = QUERIES["f6_edge_builder"].fn(spark, TESTDATA_SF0001)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    # no user hint: any broadcast is Catalyst's size-based choice,
    # which degrades gracefully to sort-merge at 100x the data
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical


@needs_testdata
def test_o1_uses_take_ordered_not_full_sort(spark):
    assert "TakeOrderedAndProject" in _plan(spark, "o1_top_k")


@needs_testdata
@pytest.mark.parametrize("name", ["cp3_pack_sequences", "cp4_length_buckets"])
def test_ordered_corpus_ops_have_no_single_partition_window(spark, name):
    """The two-phase prefix contract: global ordering must NOT execute
    as an unpartitioned window (plan marker: an 'Exchange SinglePartition'
    feeding a Window), which would funnel the whole corpus through one
    task at scale."""
    plan = _plan(spark, name)
    assert "Window" in plan  # the partition-local window is there...
    assert "SinglePartition" not in plan  # ...the single-task trap is not


@needs_testdata
def test_t3_winnowing_has_no_semantic_shuffle(spark):
    """Winnowing computes rolling minima per row: the only allowed
    exchange is ensure_parallelism's round-robin fan-out — no hash or
    range repartitioning anywhere."""
    plan = _plan(spark, "t3_winnowing_fingerprints")
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


@needs_testdata
def test_ap1_approx_within_sanity_band(spark):
    """ap1's hash oracle rests on the within_5pct boolean being TRUE for
    every group: assert it directly, and cross-check exact_customers
    against an independent countDistinct."""
    from pyspark.sql import functions as F

    from movie_etl_spark.session import load_table

    o = load_table(spark, TESTDATA_SF0001, "orders")
    got = {
        r.priority: r
        for r in QUERIES["ap1_approx_count_distinct"].fn(
            spark, TESTDATA_SF0001
        ).collect()
    }
    exact = {
        r.priority: r.n
        for r in o.groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    assert set(got) == set(exact)
    for k, n in exact.items():
        assert got[k].exact_customers == n, (k, got[k], n)
        assert got[k].within_5pct is True, (k, got[k])


def test_catalog_registry_is_consistent():
    """Driver-contract hygiene: every query has a doc and a non-empty SQL
    oracle — since ap1 gained its accuracy-contract oracle (r7) there are
    ZERO rows-only entries left."""
    rows_only = {name for name, qd in QUERIES.items() if qd.oracle is None}
    assert rows_only == set()
    for name, qd in QUERIES.items():
        assert qd.doc, name
        if qd.oracle is not None:
            assert "SELECT" in qd.oracle.upper(), name


@needs_testdata
def test_range_and_asof_joins_have_no_nested_loop(spark):
    for name in ("j7_range_join", "j6_asof_join"):
        plan = _plan(spark, name)
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "CartesianProduct" not in plan, name


@needs_testdata
def test_a7_rollup_is_one_scan_one_shuffle(spark):
    """The multi-resolution rollup's reason to exist: hour+day in ONE
    pass (explode of (gran, bucket) structs + a single partial-agg
    groupBy). Two scans or two shuffles would double the 100 TB read —
    exactly one Exchange, and it is the aggregation's."""
    plan = _plan(spark, "a7_time_rollup")
    assert plan.count("Exchange") == 1
    assert "UnionExec" not in plan and "Union\n" not in plan


@needs_testdata
def test_bp1_frequent_set_join_is_broadcast_no_hint(spark):
    """Boilerplate join-back must be a size-based broadcast (no forced
    hint: a pathological all-boilerplate corpus degrades to sort-merge
    instead of OOM)."""
    from movie_etl_spark.plans.catalog import QUERIES

    df = QUERIES["bp1_boilerplate_lines"].fn(spark, TESTDATA_SF0001)
    logical = df._jdf.queryExecution().logical().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical
    assert "BroadcastHashJoin" in _plan(spark, "bp1_boilerplate_lines")


@needs_testdata
def test_gr1_pagerank_is_equi_join_only(spark):
    """PageRank's message passing must stay equi-join shaped (hash or
    sort-merge): a nested-loop or cartesian anywhere means the edge
    join degenerated and an iteration would be O(V*E) at scale."""
    from movie_etl_spark.session import release_caches

    plan = _plan(spark, "gr1_pagerank")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    release_caches()


def test_query_id_prefixes_are_unique():
    """bench.py's driver-tail-window line keys queries by their id
    prefix ("dd3_minhash_near_dups" -> "dd3"); a colliding prefix would
    silently drop a timing from the compact line. Enforce uniqueness at
    registration time."""
    from movie_etl_spark.plans.catalog import QUERIES

    prefixes = [n.split("_", 1)[0] for n in QUERIES]
    dupes = {p for p in prefixes if prefixes.count(p) > 1}
    assert not dupes, f"colliding query id prefixes: {dupes}"


@needs_testdata
def test_ensure_parallelism_conf_bypass(spark):
    """spark.movie_etl.ensureParallelism.enabled=false must skip both
    the plan-analysis probe and the repartition (large-deployment
    bypass); default behavior still fans a one-split scan out."""
    from movie_etl_spark.session import ensure_parallelism, load_table

    one_split = load_table(spark, TESTDATA_SF0001, "region")
    fanned = ensure_parallelism(one_split)
    assert fanned.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism
    spark.conf.set("spark.movie_etl.ensureParallelism.enabled", "false")
    try:
        assert ensure_parallelism(one_split) is one_split
    finally:
        spark.conf.set("spark.movie_etl.ensureParallelism.enabled", "true")


def test_get_spark_turns_the_ui_off(spark):
    """Spark's UI is on by default; the session pins it off, so no run
    pays for the status store or binds a port."""
    assert spark.sparkContext.getConf().get("spark.ui.enabled") == "false"
    assert spark.sparkContext.uiWebUrl is None


@needs_testdata
def test_gr4_triangle_closure_is_equi_join_only(spark):
    """The wedge-closure join must be a hash/sort-merge equi-join: an
    OR-of-orderings closure predicate would silently degrade to a
    nested-loop join and explode at scale."""
    plan = _plan(spark, "gr4_triangle_counts")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


@needs_testdata
def test_d6_cdc_apply_is_one_shuffle_no_join(spark):
    """CDC materialization contract: one window over the entity key —
    exactly one hash-partition exchange, zero joins."""
    plan = _plan(spark, "d6_cdc_apply")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


@needs_testdata
def test_g2_full_graph_parity_plan_invariants(spark):
    """The 17-branch graph-parity union must carry the graph build's
    scale promises: dimension-side edge builds broadcast their tails,
    nothing degenerates to a cartesian or nested-loop join, and no
    Python stage appears (the whole pipeline is JVM-side)."""
    plan = _plan(spark, "g2_full_graph_parity")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    for marker in ("MapInPandas", "ArrowEvalPython", "BatchEvalPython"):
        assert marker not in plan


@needs_testdata
def test_all_query_outputs_are_atomic_columns(spark):
    """Driver output contract: the driver's pandas canonicalizer
    sort_values-hashes every top-level column, and Python lists/dicts
    are unhashable — a raw array/map/struct column passes this repo's
    own string-canonicalizing oracle compare yet crashes the real gate
    (r8's hll1_mergeable_sketch, the round's one red row). Any query
    emitting nested data must serialize it (concat_ws / to_json), as
    r4_group_collect and (since r9) hll1 do. Walk EVERY registered
    query's output schema and reject non-atomic top-level columns."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from movie_etl_spark.session import release_caches

    offenders = []
    try:
        for name, qd in QUERIES.items():
            df = qd.fn(spark, TESTDATA_SF0001)
            offenders.extend(
                (name, f.name, f.dataType.simpleString())
                for f in df.schema.fields
                if isinstance(f.dataType, (ArrayType, MapType, StructType))
            )
    finally:
        # a query builder raising mid-loop must not leak its persisted
        # indexes/caches into the rest of the pytest session
        release_caches()
    assert not offenders, (
        f"queries whose output the driver cannot canonicalize: {offenders}"
    )


@needs_testdata
def test_t7_tfidf_broadcasts_df_and_stats(spark):
    """df table joins back by broadcast; the only nested-loop join is
    the benign 1-row corpus-stats crossJoin (same shape as v5/BM25)."""
    plan = _plan(spark, "t7_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1


def test_committed_plan_audit_invariants():
    """PLAN_AUDIT.json is round-over-round adjudication evidence; this
    test makes the invariants the audit is cited for (VERDICT r8-r10)
    un-committable to break: no cartesian products anywhere, Python
    stages only in the adjudicated families (codecs/HTML/sketch/
    connector — where Python IS the point — plus v3's Arrow-batched
    candidate scoring, BASELINE.md r10 adjudication), and
    nested-loop joins only on the audited bounded-broadcast attaches.
    Regenerate with ``python tools/plan_audit.py`` after a deliberate
    plan change and update the allowlists WITH the adjudication."""
    import json

    path = os.path.join(os.path.dirname(__file__), "..", "PLAN_AUDIT.json")
    audit = json.load(open(path))
    assert len(audit) == len(QUERIES), "audit stale: query set drifted"

    cartesians = {q for q, m in audit.items() if m["cartesian_products"]}
    assert not cartesians, f"cartesian products crept in: {cartesians}"

    python_ok = {
        "f9_html_extract", "hh1_heavy_hitters", "x1_throttled_fetch",
        "v3_ivf_top_k",
        # winnowing gram-hash stage (BASELINE.md r10 adjudication)
        "t3_winnowing_fingerprints", "cc2_fingerprint_decontam",
        "mm1_multimodal_features", "mm3_image_decode", "mm4_audio_decode",
        "mm5_png_decode", "mm6_perceptual_hash", "mm7_gif_decode",
        "mm8_jpeg_roundtrip", "mm9_palette_png", "mm10_g711_audio",
    }
    python_bad = {q for q, m in audit.items() if m["python_stages"]} - python_ok
    assert not python_bad, f"unadjudicated Python stages: {python_bad}"

    bnlj_ok = {
        # 1-row / bounded-broadcast scalar attaches, audited in VERDICT r9
        "cp6_temperature_mix", "gr2_pagerank_dangling",
        "k8_incremental_watermark", "t6_unigram_logprob",
        "t7_tfidf_top_terms", "v1_brute_force_top_k", "v3_ivf_top_k",
        "v5_bm25_search", "v7_kmeans_clusters",
    }
    bnlj_bad = {
        q for q, m in audit.items() if m["broadcast_nested_loop_joins"]
    } - bnlj_ok
    assert not bnlj_bad, f"unadjudicated nested-loop joins: {bnlj_bad}"


@needs_testdata
def test_estimate_scan_partitions_tracks_planner(spark):
    """The r18 file-size split estimate must stay within ±1 of the
    planner's real split count on scan-rooted frames (the decision band
    in ensure_parallelism is orders of magnitude wide, so ±1 can never
    flip a fan-out decision that matters), and must decline frames
    whose runtime partitioning is decided above the scan."""
    from movie_etl_spark.session import (
        _estimate_scan_partitions,
        load_table,
    )

    for table in ("region", "orders", "documents"):
        df = load_table(spark, TESTDATA_SF0001, table)
        est = _estimate_scan_partitions(df)
        assert est is not None, f"{table}: estimator declined a scan"
        exact = df.rdd.getNumPartitions()
        assert abs(est - exact) <= 1, (
            f"{table}: estimate {est} vs planner {exact}"
        )

    from pyspark.sql import functions as F

    grouped = (
        load_table(spark, TESTDATA_SF0001, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    assert _estimate_scan_partitions(grouped) is None


@needs_testdata
def test_estimate_scan_partitions_tracks_planner_on_many_files(spark, tmp_path):
    """A multi-file scan is sized from every file's size and still
    agrees with the planner within ±1 split."""
    from movie_etl_spark.session import _estimate_scan_partitions, load_table

    out = str(tmp_path / "many_files")
    orders = load_table(spark, TESTDATA_SF0001, "orders")
    orders.limit(800).repartition(8).write.parquet(out)
    many = spark.read.parquet(out)
    assert len(many.inputFiles()) > 4
    est = _estimate_scan_partitions(many)
    assert est is not None
    exact = many.rdd.getNumPartitions()
    assert abs(est - exact) <= 1, f"estimate {est} vs planner {exact}"


@contextlib.contextmanager
def _split_confs(spark, max_partition_bytes: str, open_cost: str):
    keys = ("spark.sql.files.maxPartitionBytes", "spark.sql.files.openCostInBytes")
    old = [spark.conf.get(k, None) for k in keys]
    spark.conf.set(keys[0], max_partition_bytes)
    spark.conf.set(keys[1], open_cost)
    try:
        yield
    finally:
        for k, v in zip(keys, old):
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)


def _incompressible_parquet(spark, path: str, rows: int) -> str:
    """One parquet file of md5 strings; returns the part file's path."""
    from pyspark.sql import functions as F

    spark.range(rows).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).coalesce(1).write.mode("overwrite").parquet(path)
    (part,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
    return os.path.join(path, part)


def _crc(path: str) -> str:
    """The local filesystem's checksum sidecar of ``path``."""
    head, tail = os.path.split(path)
    return os.path.join(head, f".{tail}.crc")


def test_split_estimate_reads_size_suffixes_like_spark(spark, tmp_path):
    """Split confs given with ``kb``/``mb`` suffixes are read the way the
    planner reads them, so a multi-split scan's estimate stays within
    ±1 of the planner's split count."""
    from movie_etl_spark.session import _estimate_scan_partitions

    path = str(tmp_path / "suffixed")
    _incompressible_parquet(spark, path, 100_000)
    with _split_confs(spark, "256kb", "4kb"):
        df = spark.read.parquet(path)
        est = _estimate_scan_partitions(df)
        exact = df.rdd.getNumPartitions()
    assert exact > 2, f"scan has {exact} splits; the case needs several"
    assert est is not None and abs(est - exact) <= 1, (
        f"estimate {est} vs planner {exact}"
    )


def test_split_estimate_follows_a_file_overwritten_in_place(spark, tmp_path):
    """The estimate sizes the files as they are now: after a table's file
    is overwritten in place with much larger content, the estimate grows
    with it instead of repeating the old size."""
    import shutil

    from movie_etl_spark.session import _estimate_scan_partitions

    table = str(tmp_path / "table")
    part = _incompressible_parquet(spark, table, 10)
    bigger = _incompressible_parquet(spark, str(tmp_path / "bigger"), 40_000)
    with _split_confs(spark, "65536", "4096"):
        before = _estimate_scan_partitions(spark.read.parquet(table))
        for src, dst in ((bigger, part), (_crc(bigger), _crc(part))):
            shutil.copyfile(src, dst)
        df = spark.read.parquet(table)
        after = _estimate_scan_partitions(df)
        exact = df.rdd.getNumPartitions()
    assert before is not None and exact > before + 2
    assert after is not None and abs(after - exact) <= 1, (
        f"estimate {after} vs planner {exact} after the overwrite"
    )


def _scan_listing(spark, tmp_path, files: list[str]):
    """A scan-rooted frame whose ``inputFiles()`` reports ``files``."""
    out = str(tmp_path / "scan")
    if not os.path.isdir(out):
        spark.range(4).write.parquet(out)
    df = spark.read.parquet(out)
    df.inputFiles = lambda: files
    return df


def test_split_estimate_declines_a_non_file_scheme(spark, tmp_path):
    """One non-``file:`` path anywhere in the listing means no estimate:
    there is no cheap driver-side size call for it."""
    from movie_etl_spark.session import _estimate_scan_partitions

    files = []
    for i in range(4):
        p = tmp_path / f"part-{i}"
        p.write_bytes(b"x")
        files.append(f"file:{p}")
    files.insert(1, "hdfs://namenode/warehouse/part-x")
    assert _estimate_scan_partitions(
        _scan_listing(spark, tmp_path, files)) is None


@needs_testdata
def test_b1_bucketing_jobs_inherit_the_job_group(spark):
    """b1 writes its two bucketed tables from a thread pool; those jobs
    must carry the caller's job group like the rest of the query."""
    for t in spark.catalog.listTables():
        if t.name.startswith("b1_"):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    grouped, ungrouped = jobs_in_group(
        spark, "b1-build",
        lambda: QUERIES["b1_bucketed_join"].fn(spark, TESTDATA_SF0001),
    )
    assert len(grouped) >= 2
    assert ungrouped == set()


def test_pysource_arrow_batch_matches_row_path():
    """s8's Arrow read path (one RecordBatch per page) must stay
    value-identical to the tuple generator it replaced, column types
    pinned to the declared DataSource schema."""
    import pyarrow as pa

    from movie_etl_spark.sources.pysource import _page_batch, _page_rows

    for page, per_page in ((0, 7), (3, 250)):
        batch = _page_batch(page, per_page)
        assert isinstance(batch, pa.RecordBatch)
        assert batch.schema.names == ["page", "movie_id", "score", "title"]
        assert [f.type for f in batch.schema] == [
            pa.int32(), pa.int64(), pa.int32(), pa.string(),
        ]
        got = list(zip(*(col.to_pylist() for col in batch.columns)))
        assert got == list(_page_rows(page, per_page))
