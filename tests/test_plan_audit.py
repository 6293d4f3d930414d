"""Physical-plan audits: pin the scale-critical plan properties so a refactor
cannot silently regress them. Each assertion was verified against the actual
formatted plan (explain) -- shuffle counts, broadcast strategy, column
pruning, JVM-only expression paths, and TakeOrderedAndProject top-k."""

import re

import pytest


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _count(plan: str, node: str) -> int:
    return len(re.findall(rf"^\(\d+\) {node}", plan, re.M))


@pytest.fixture(scope="module")
def tables(spark):
    sf = "/root/testdata/sf0.001"
    return {
        "lineitem": spark.read.parquet(f"{sf}/lineitem.parquet"),
        "orders": spark.read.parquet(f"{sf}/orders.parquet"),
        "customer": spark.read.parquet(f"{sf}/customer.parquet"),
        "documents": spark.read.parquet(f"{sf}/documents.parquet"),
        "embeddings": spark.read.parquet(f"{sf}/embeddings.parquet"),
    }


def test_ucc_summary_plan(spark, tables):
    """One scan, bounded shuffles, no Python eval, and the parquet scan reads
    ONLY the key columns (column pruning reached the source)."""
    from pyspark_validator.checks.ucc import ucc_check

    # other test modules may have cached the same relation; a cache hit
    # substitutes the materialized full-schema relation and hides pruning
    spark.catalog.clearCache()
    p = _plan(
        ucc_check(
            tables["lineitem"], ["l_orderkey", "l_linenumber"], num_partitions=8
        ).summary()
    )
    assert _count(p, "Scan parquet") == 1
    assert _count(p, "Exchange") <= 3
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_orderkey" in schema and "l_linenumber" in schema
    assert "l_comment" not in schema and "l_extendedprice" not in schema


def test_fd_repartition_reuses_partitioning(tables):
    """repartition_by_lhs=True: the two chained aggs reuse the LHS hash
    partitioning, so the plan has strictly FEWER exchanges than the
    two-independent-shuffles fallback."""
    from pyspark_validator.checks.fd import fd_check

    with_rep = _plan(
        fd_check(tables["orders"], ["o_custkey"], ["o_orderpriority"]).summary()
    )
    without = _plan(
        fd_check(
            tables["orders"], ["o_custkey"], ["o_orderpriority"],
            repartition_by_lhs=False,
        ).summary()
    )
    assert _count(with_rep, "Exchange") < _count(without, "Exchange")


def test_ind_broadcasts_small_side(tables):
    """The IND anti-join broadcasts under the configured threshold: no
    sort-merge shuffle of the big side against a small dimension."""
    from pyspark_validator.checks.ind import ind_check

    p = _plan(
        ind_check(
            tables["orders"], ["o_custkey"], tables["customer"], ["c_custkey"]
        ).summary()
    )
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_brute_topk_is_take_ordered(tables):
    """orderBy+limit compiles to TakeOrderedAndProject (per-partition heaps +
    driver merge of k rows), NOT a global sort exchange."""
    from pyspark_validator.pipelines.similarity import brute_force_topk

    p = _plan(brute_force_topk(tables["embeddings"], [0.1] * 64, k=10))
    assert "TakeOrderedAndProject" in p
    assert _count(p, "Exchange") == 0


def test_text_quality_stays_jvm(tables):
    """The quality heuristics are pure JVM exprs: a map-only plan with zero
    shuffles and zero Python evaluation nodes."""
    from pyspark_validator.pipelines.text import quality_score

    p = _plan(quality_score(tables["documents"].filter("text is not null")))
    assert _count(p, "Exchange") == 0
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in p


def test_mfd_1d_fast_path_no_data_join(tables):
    """1-d euclidean MFD collapses to a range agg: one scan and no data-scale
    join (the only join is the 1-row summary x 1-row oversized-count cross)."""
    from pyspark_validator.checks.mfd import mfd_check

    p = _plan(
        mfd_check(
            tables["lineitem"], ["l_orderkey"], ["l_quantity"],
            metric="euclidean", parameter=40.0,
        ).summary()
    )
    assert _count(p, "Scan parquet") == 1
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_dc_check_join_not_cartesian(tables):
    """The DC pair search keeps an equality key in the join condition -- the
    plan must not degrade to CartesianProduct / BroadcastNestedLoop."""
    from pyspark.sql import functions as F

    from pyspark_validator.checks.dc import dc_check

    o = tables["orders"].withColumn(
        "o_date_ms", F.unix_millis(F.col("o_orderdate").cast("timestamp"))
    ).withColumn("o_big", F.col("o_totalprice") * 2)
    p = _plan(
        dc_check(
            o,
            [
                ("s.o_custkey", "==", "t.o_custkey"),
                ("s.o_date_ms", "<", "t.o_date_ms"),
                ("s.o_totalprice", ">", "t.o_big"),
            ],
            row_ref="o_orderkey",
        ).summary()
    )
    assert "CartesianProduct" not in p


def test_bucketed_table_skips_validation_shuffle(spark, tables, tmp_path):
    """A table bucketed by the validation key is re-validated WITHOUT the
    groupBy exchange: the bucketed ucc plan has strictly fewer exchanges and
    no 'Exchange hashpartitioning' on the key before the first agg."""
    from pyspark_validator.checks.ucc import ucc_check
    from pyspark_validator.io import read_bucketed, write_bucketed

    o = tables["orders"]
    spark.sql("DROP TABLE IF EXISTS orders_bucketed")
    write_bucketed(o, "orders_bucketed", ["o_orderkey"], num_buckets=8)
    try:
        plain = _plan(ucc_check(o, ["o_orderkey"], num_partitions=8).summary())
        bucketed = _plan(
            ucc_check(
                read_bucketed(spark, "orders_bucketed"), ["o_orderkey"],
                num_partitions=8,
            ).summary()
        )
        assert _count(bucketed, "Exchange") < _count(plain, "Exchange")
        # verdicts agree, of course
        a = ucc_check(o, ["o_orderkey"], num_partitions=8).summary().collect()
        b = (
            ucc_check(
                read_bucketed(spark, "orders_bucketed"), ["o_orderkey"],
                num_partitions=8,
            )
            .summary()
            .collect()
        )
        assert a == b
    finally:
        spark.sql("DROP TABLE IF EXISTS orders_bucketed")


def test_ac_clustering_single_shuffle(tables):
    """AC gap clustering: bucket ids come from the known min/max, so the
    window's hash Exchange is the ONLY shuffle of the data (no range
    partitioner, no pre-clustering distinct), and the offset join is a
    broadcast."""
    from pyspark_validator.checks.ac import ac_check

    c = ac_check(tables["lineitem"], "l_extendedprice", "l_quantity", "/")
    p = _plan(c._clustered)
    # one executed shuffle stage (the AQE-materialized persist echoes its
    # pre-adaptive "Initial Plan", so counting raw Exchange nodes
    # double-counts); the tiny offsets frame arrives via BroadcastExchange
    assert _count(p, "ShuffleQueryStage") == 1
    assert _count(p, "BroadcastHashJoin") == 1
    assert "rangepartitioning" not in p.lower()

def test_ac_exceptions_no_join_no_shuffle(tables):
    """Exception finding is a pure scan: ranges are broadcast as literal
    array structs, so the plan has no Exchange and no join at all."""
    from pyspark_validator.checks.ac import ac_check

    c = ac_check(tables["lineitem"], "l_discount", "l_tax", "+")
    p = _plan(c.exceptions(["l_orderkey"], ranges=[(0.0, 0.12)]))
    assert _count(p, "Exchange") == 0
    assert "Join" not in p

def test_nar_qualities_single_agg(tables):
    """NAR qualities: one partial+final HashAggregate pair over one scan."""
    from pyspark_validator.checks.nar import nar_check

    q = nar_check(
        tables["orders"],
        {"o_orderstatus": ["F"]},
        {"o_totalprice": (0.0, 1e6)},
    ).qualities()
    p = _plan(q)
    assert _count(p, "Exchange") == 1  # the single-row final agg gather
    assert _count(p, "Scan parquet") == 1

def test_line_filter_scan_only(tables):
    """C4 line filter is pure per-row array lambdas: no Exchange, no join,
    and the parquet scan reads only the needed columns."""
    from pyspark_validator.pipelines.text import line_filter

    p = _plan(line_filter(tables["documents"].select("doc_id", "text")))
    assert _count(p, "Exchange") == 0
    assert "Join" not in p

def test_semantic_dedup_no_cartesian(tables):
    """The keep-one reduction stays candidate-bucketed end to end: the pair
    join keys on the LSH bucket and the survivor anti-join keys on the id --
    no cartesian/nested-loop anywhere."""
    from pyspark_validator.pipelines.similarity import semantic_dedup

    p = _plan(semantic_dedup(tables["embeddings"], dim=64, num_bits=8))
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_lattice_counts_single_expand_single_wide_shuffle(spark, tables):
    """discovery._lattice_counts: the whole lattice level shares ONE Expand
    and ONE wide shuffle (plus the tiny gid rollup); no Python eval; the
    parquet scan reads only the lattice columns."""
    from itertools import combinations

    from pyspark.sql import functions as F

    from pyspark_validator.discovery import _lattice_counts  # noqa: F401

    spark.catalog.clearCache()
    df = tables["orders"]
    cols = ["o_custkey", "o_orderstatus", "o_orderdate"]
    sets = [()] + [(c,) for c in cols] + list(combinations(cols, 2))
    # rebuild the frame _lattice_counts aggregates (it collect()s internally,
    # so audit the same lineage explicitly)
    gd = df.groupingSets([list(s) for s in sets], *[F.col(c) for c in cols])
    lvl = gd.agg(F.count(F.lit(1)).alias("__cnt"), F.grouping_id().alias("__gid"))
    out = lvl.groupBy("__gid").agg(
        F.count(F.lit(1)).alias("__d"),
        F.sum(F.col("__cnt") * (F.col("__cnt") - 1)).alias("__p"),
        F.sum("__cnt").alias("__n"),
    )
    p = _plan(out)
    assert _count(p, "Expand") == 1
    assert _count(p, "Scan parquet") == 1
    # one wide exchange (expanded keys) + one tiny gid rollup exchange
    assert _count(p, "Exchange") <= 2
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "o_custkey" in schema and "o_totalprice" not in schema


def test_discovery_evidence_join_broadcast_and_pruned(tables):
    """The dd/dc/md discovery evidence pass: the self cross-join runs on
    the AGGREGATED combo frame (bounded by max_combos), Spark builds it as
    a BroadcastNestedLoopJoin -- never a CartesianProduct of raw rows --
    and the parquet scan is pruned to exactly the mined columns."""
    from pyspark.sql import functions as F

    li = tables["lineitem"]
    frame = li.select(
        F.col("l_linenumber").cast("int").alias("xv"),
        (F.col("l_linenumber") * 5 + F.pmod(F.col("l_partkey"), F.lit(5)))
        .cast("int")
        .alias("yv"),
    )
    combos = frame.na.drop().groupBy("xv", "yv").count()
    a, b = combos.alias("a"), combos.alias("b")
    pair = a.join(b, None, "cross").select(
        F.abs(F.col("a.xv") - F.col("b.xv")).alias("d0"),
        F.abs(F.col("a.yv") - F.col("b.yv")).alias("d1"),
    )
    plan = _plan(pair.groupBy("d0", "d1").count())
    assert _count(plan, "BroadcastNestedLoopJoin") == 1
    assert _count(plan, "CartesianProduct") == 0
    assert "l_comment" not in plan and "l_extendedprice" not in plan


def test_order_discovery_single_pruned_shuffle(spark, tables):
    """mine_list_ods's only distributed pass: the combo groupBy is ONE
    exchange with map-side partial aggregation, and column pruning reaches
    the parquet scan (order_discovery.py step 1)."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    o = tables["orders"]
    cols = ["o_custkey", "o_orderpriority"]
    proj = o.select(*cols)
    cond = None
    for c in cols:
        cnd = F.col(c).isNotNull()
        cond = cnd if cond is None else cond & cnd
    grouped = proj.filter(cond).groupBy(*cols).agg(F.count(F.lit(1)).alias("c"))
    plan = _plan(grouped)
    assert _count(plan, "Exchange") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert "o_comment" not in plan and "o_totalprice" not in plan


def test_cind_included_flag_is_broadcast(spark, tables):
    """mine_cinds' per-AIND evidence pass: the included flag joins the
    aggregated combo frame against the referenced column's distinct values
    with a BROADCAST hash join -- the dependent table is never shuffled for
    the join side (cind_discovery.py mine_cinds)."""
    from pyspark.sql import functions as F

    spark.catalog.clearCache()
    o, c = tables["orders"], tables["customer"]
    combos = (
        o.select(
            F.coalesce(F.col("o_custkey").cast("string"), F.lit("")).alias("__lhs"),
            F.col("o_orderpriority").alias("__c0"),
        )
        .groupBy("__lhs", "__c0")
        .agg(F.count(F.lit(1)).alias("__cnt"))
    )
    rhs = (
        c.select(F.coalesce(F.col("c_custkey").cast("string"), F.lit("")).alias("__lhs"))
        .distinct()
        .withColumn("__inc", F.lit(True))
    )
    joined = combos.join(F.broadcast(rhs), on="__lhs", how="left")
    plan = _plan(joined)
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "SortMergeJoin") == 0
    assert "c_comment" not in plan and "c_acctbal" not in plan


def test_mine_afds_tane_job_count_row_independent(spark):
    """pfd_discovery's TANE walk (PFD and AFD-measure modes share it) rides
    a CONSTANT number of Spark jobs per lattice level -- the per-candidate
    error kernel is one batched exploded-struct job, never a job per
    candidate or per row.  Pin that by running the same 3-column mining
    problem at 60 and 600 rows under distinct job groups: the job counts
    must be identical (row count may only change task counts, not jobs)."""
    import pandas as pd

    from pyspark_validator.pfd_discovery import mine_afds_tane

    sc = spark.sparkContext

    def jobs(n):
        pdf = pd.DataFrame(
            {
                "a": [str(i % 3) for i in range(n)],
                "b": [str(i % 4) for i in range(n)],
                "c": [str((i // 2) % 5) for i in range(n)],
            }
        )
        df = spark.createDataFrame(pdf)
        grp = f"afd_audit_{n}"
        sc.setJobGroup(grp, "audit")
        try:
            mine_afds_tane(
                df, ["a", "b", "c"], max_error=0.3,
                error_measure="pdep", max_lhs=2,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    assert jobs(60) == jobs(600)


def test_dd_equality_blocking_skips_probe_explode(spark, tables):
    """A [0,0] LHS range blocks by hash equality: the pair join must be a
    plain equi-join on the value bucket -- no Generate (neighbor-probe
    explode) in the plan, unlike the banded numeric mode."""
    from pyspark.sql import functions as F

    from pyspark_validator.checks.dd import dd_check

    df = tables["orders"].select(
        "o_orderstatus", "o_totalprice", F.col("o_orderkey").alias("__row")
    )
    eq = dd_check(
        df, {"o_orderstatus": (0.0, 0.0)}, {"o_totalprice": (0.0, 10.0)},
        row_ref="__row",
    )
    p = _plan(eq._pairs)
    assert "Generate" not in p
    band = dd_check(
        df, {"o_totalprice": (0.0, 10.0)}, {"o_totalprice": (0.0, 10.0)},
        row_ref="__row",
    )
    assert _count(_plan(band._pairs), "Generate") == 1


def test_cind_verifier_summary_plan(spark, tables):
    """cind_check's basket pass (checks/cind.py): ONE groupBy over the LHS
    inclusion key (map-side partials), the distinct RHS keys joined with a
    BROADCAST hash join (never shuffling the basket frame for the join), one
    final single-row agg, and both parquet scans column-pruned to exactly the
    referenced columns."""
    from pyspark_validator.checks.cind import cind_check

    spark.catalog.clearCache()
    s = cind_check(
        tables["orders"], ["o_custkey"], tables["customer"], ["c_custkey"],
        lhs_condition="o_orderstatus = 'O'",
    ).summary()
    plan = _plan(s)
    assert _count(plan, "BroadcastHashJoin") == 1
    assert _count(plan, "SortMergeJoin") == 0
    assert _count(plan, "Scan parquet") == 2
    # pruning reached both scans: no unrelated columns anywhere in the plan
    assert "o_totalprice" not in plan and "c_name" not in plan
    assert "ReadSchema: struct<o_custkey:bigint,o_orderstatus:string>" in plan
    assert "ReadSchema: struct<c_custkey:bigint>" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_prefix_jaccard_no_cartesian_and_persisted_shingles(spark, tables):
    # the prefix-filtered join must stay an equi-join on the indexed shingle
    # (never a cartesian fallback), and the shingled/ranked frames must come
    # from the persisted cache on BOTH join sides (the session-16 plan fix)
    from pyspark_validator.pipelines.dedup import prefix_jaccard_pairs

    p = prefix_jaccard_pairs(tables["documents"], k=3, threshold=0.8)
    plan = _plan(p)
    assert _count(plan, "CartesianProduct") == 0
    assert _count(plan, "BroadcastNestedLoopJoin") == 0
    assert "InMemoryTableScan" in plan


def test_snm_pairs_no_global_window_no_cartesian(spark, tables):
    # global ranks come from range partition + broadcast offsets: the plan
    # must never contain a single-partition exchange (the global-window
    # anti-pattern) nor a cartesian pair join
    from pyspark.sql import functions as F

    from pyspark_validator.pipelines.dedup import sorted_neighborhood_pairs

    s = sorted_neighborhood_pairs(
        tables["documents"], F.concat_ws("|", "source", "lang"), window=4
    )
    plan = _plan(s)
    assert "SinglePartition" not in plan
    assert _count(plan, "CartesianProduct") == 0


def test_span_token_costs_exchange_free(spark):
    from pyspark_validator.pipelines.interleaved import span_token_costs

    docs = spark.createDataFrame(
        [("d0", [{"kind": "text", "text": "a b", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    plan = _plan(span_token_costs(docs))
    assert _count(plan, "Exchange") == 0  # pure per-row exprs


def test_layout_clusters_single_hash_shuffle(spark):
    from pyspark_validator.pipelines.interleaved import layout_clusters

    docs = spark.createDataFrame(
        [("d0", [{"kind": "text", "text": "a b", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    plan = _plan(layout_clusters(docs))
    # ONE shuffle for the fingerprint groupBy; the shuffle key is the 8-byte
    # layout_key, the layout STRING itself is projected away before the agg
    assert _count(plan, "Exchange") == 1
    agg_input = plan.split("Exchange")[1]
    assert "layout#" not in agg_input.split("Input [")[1].split("]")[0]


def test_chunk_manifest_no_extra_shuffle_after_pack(spark, tables):
    from pyspark.sql import functions as F

    from pyspark_validator.pipelines.curation import chunk_manifest, pack_sequences

    packed = pack_sequences(
        tables["documents"].select("doc_id", "text"),
        chunk_tokens=512,
        num_bins=8,
        bin_col=F.col("doc_id") % 8,
    )
    base = _count(_plan(packed), "Exchange")
    plan = _plan(chunk_manifest(packed, chunk_tokens=512))
    assert _count(plan, "Exchange") == base  # Generate adds zero shuffles
    assert _count(plan, "Generate") == 1


def test_media_context_and_quality_gate_exchange_free(spark):
    from pyspark_validator.pipelines.interleaved import (
        interleaved_quality_gate,
        media_context,
        media_context_summary,
    )

    docs = spark.createDataFrame(
        [("d0", [{"kind": "text", "text": "a b", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    # per-span rows and the gate are pure per-row exprs + Generates
    assert _count(_plan(media_context(docs)), "Exchange") == 0
    assert _count(_plan(interleaved_quality_gate(docs)), "Exchange") == 0
    # the summary's single agg is its only shuffle, and the shuffled rows
    # carry ONLY the two partial-sum longs (never spans)
    plan = _plan(media_context_summary(docs))
    assert _count(plan, "Exchange") == 1
    exch_input = re.search(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    assert exch_input and "spans" not in exch_input.group(1)
    assert len(exch_input.group(1).split(",")) == 2  # the two partial sums


def test_normalize_interleaved_exchange_free(spark):
    from pyspark_validator.pipelines.interleaved import normalize_interleaved

    docs = spark.createDataFrame(
        [("d0", [{"kind": "text", "text": "a b", "media_ref": None, "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    assert _count(_plan(normalize_interleaved(docs)), "Exchange") == 0


def test_media_census_drift_bounded_shuffles(spark):
    """Each side: one groupBy(media_ref) census; then the census join and two
    one-row aggs -- every Exchange after the censuses carries distinct-ref or
    single-row volumes, never spans (pruned before the first shuffle)."""
    from pyspark_validator.pipelines.interleaved import media_census_drift

    docs = spark.createDataFrame(
        [("d0", [{"kind": "image", "text": None, "media_ref": "m://1",
                  "offset": 0}])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )
    plan = _plan(media_census_drift(docs, docs))
    for m in re.finditer(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan):
        assert "spans" not in m.group(1)


def test_benford_census_single_scan_pruned(spark, tables):
    """Benford: one parquet scan reading ONLY the checked column, one census
    shuffle (map-side combinable over <= 9 digit rows per task), no Python."""
    from pyspark_validator.checks.benford import benford_check

    spark.catalog.clearCache()
    p = _plan(benford_check(tables["lineitem"], "l_extendedprice").summary())
    assert _count(p, "Scan parquet") == 1
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "l_extendedprice" in schema and "l_orderkey" not in schema


def test_assoc_single_full_table_shuffle(spark, tables):
    """assoc_check: exactly ONE shuffle touches table-sized data (the joint
    census); every other exchange/join runs over census-sized frames, and the
    scan reads only the two checked columns."""
    from pyspark_validator.checks.assoc import assoc_check

    spark.catalog.clearCache()
    p = _plan(
        assoc_check(tables["orders"], "o_orderstatus", "o_orderpriority").summary()
    )
    assert _count(p, "Scan parquet") == 1  # census reuse: one table read
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "o_orderstatus" in schema and "o_totalprice" not in schema


def test_anon_two_stage_agg_plan(spark, tables):
    """anon_check with a sensitive column: the groupBy(QI, s) -> groupBy(QI)
    chain stays a single scan with no count_distinct Expand node."""
    from pyspark_validator.checks.anon import anon_check

    spark.catalog.clearCache()
    p = _plan(
        anon_check(
            tables["customer"],
            ["c_nationkey", "c_mktsegment"],
            k=10,
            sensitive="c_acctbal",
            l=5,
        ).summary()
    )
    assert _count(p, "Scan parquet") == 1
    assert _count(p, "Expand") == 0  # no count_distinct expansion
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_zipf_head_uses_distributed_topk(spark, tables):
    """zipf_signals: the head fit must go through TakeOrderedAndProject (the
    distributed per-partition heap), never a global Sort over the census."""
    from pyspark_validator.pipelines.text import zipf_signals

    spark.catalog.clearCache()
    p = _plan(zipf_signals(tables["documents"], max_rank=100))
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_vocab_drift_census_sized_join(spark, tables):
    """vocab_drift: two census shuffles then a join keyed by token -- no
    Python eval, no cartesian, scans read only the text column."""
    from pyspark_validator.pipelines.text import vocab_drift

    spark.catalog.clearCache()
    docs = tables["documents"]
    from pyspark.sql import functions as F

    b = docs.filter(F.col("doc_id") % 2 == 0)
    c = docs.filter(F.col("doc_id") % 2 == 1)
    p = _plan(vocab_drift(b, c))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    schema = next(l for l in p.splitlines() if "ReadSchema" in l)
    assert "text" in schema and "lang" not in schema


def test_outlier_fence_filter_is_pushed_down(spark, tables):
    """outlier_check violations: the fence predicate must reach the parquet
    scan (PushedFilters) -- flagging is scan-speed, never a join/window."""
    from pyspark_validator.checks.outlier import outlier_check

    spark.catalog.clearCache()
    c = outlier_check(tables["lineitem"], "l_extendedprice", method="zscore")
    p = _plan(c.violations(["l_orderkey"], cap=10))
    assert _count(p, "Window") == 0
    assert "Join" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    pushed = [l for l in p.splitlines() if "PushedFilters" in l]
    assert pushed and "l_extendedprice" in pushed[0]


def test_embedding_outlier_score_single_scan(spark, tables):
    """embedding score pass: one scan, TakeOrderedAndProject heap for top-k,
    no Python eval (the stats pass is a separate bounded job by design)."""
    from pyspark_validator.checks.outlier import embedding_outlier_check

    spark.catalog.clearCache()
    c = embedding_outlier_check(tables["embeddings"], top_k=5)
    c._stats  # materialize the stats literals first
    p = _plan(c.top())
    assert _count(p, "Scan parquet") == 1
    assert "TakeOrderedAndProject" in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_topk_drift_uses_heaps_not_global_sort(spark, tables):
    from pyspark.sql import functions as F

    from pyspark_validator.checks.drift import topk_drift

    spark.catalog.clearCache()
    docs = tables["documents"]
    b = docs.filter(F.col("doc_id") % 2 == 0)
    c = docs.filter(F.col("doc_id") % 2 == 1)
    p = _plan(topk_drift(b, c, "lang", k=3))
    assert p.count("TakeOrderedAndProject") >= 2  # one heap per side
    assert "CartesianProduct" not in p


def test_interval_overlap_no_self_join(spark, tables):
    from pyspark.sql import functions as F

    from pyspark_validator.checks.temporal import interval_overlap_check

    spark.catalog.clearCache()
    iv = tables["orders"].select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("s"),
        F.date_add(F.col("o_orderdate").cast("date"), 3).alias("e"),
    )
    p = _plan(interval_overlap_check(iv, ["o_custkey"], "s", "e"))
    assert "Join" not in p  # running-max window, never the DC pair join
    assert _count(p, "Scan parquet") == 1


def test_mine_pfds_job_count_row_independent(spark):
    """PFDTane's per-tuple walk shares mine_afds_tane's batched-lattice shape:
    jobs per level are constant in the row count (one grouping-sets pass + one
    exploded-struct error job), never per-candidate or per-row.  Same 60-vs-600
    row pin as the AFD-measure test, on the per_tuple measure path."""
    import pandas as pd

    from pyspark_validator.pfd_discovery import mine_pfds

    sc = spark.sparkContext

    def jobs(n):
        pdf = pd.DataFrame(
            {
                "a": [str(i % 3) for i in range(n)],
                "b": [str(i % 4) for i in range(n)],
                "c": [str((i // 2) % 5) for i in range(n)],
            }
        )
        df = spark.createDataFrame(pdf)
        grp = f"pfd_audit_{n}"
        sc.setJobGroup(grp, "audit")
        try:
            mine_pfds(df, ["a", "b", "c"], max_error=0.3,
                      error_measure="per_tuple", max_lhs=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    assert jobs(60) == jobs(600)


def test_mine_set_ods_job_count_row_independent(spark):
    """FASTOD's lattice walk is batched: per level ONE grouping-sets counts
    pass + ONE exploded-struct Split job + ONE Swap job over aggregated
    combos.  Pin job-count independence from the row count so a future edit
    cannot silently regress to a job per candidate (the walk would still be
    correct, just 50x the scheduler overhead at depth)."""
    import pandas as pd

    from pyspark_validator.od_discovery import mine_set_ods

    sc = spark.sparkContext

    def jobs(n):
        pdf = pd.DataFrame(
            {
                "a": [i % 3 for i in range(n)],
                "b": [i % 4 for i in range(n)],
                "c": [(i // 2) % 5 for i in range(n)],
            }
        )
        df = spark.createDataFrame(pdf)
        grp = f"od_audit_{n}"
        sc.setJobGroup(grp, "audit")
        try:
            mine_set_ods(df, ["a", "b", "c"], max_level=2)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(grp))

    assert jobs(60) == jobs(600)


def test_minhash_band_shuffle_carries_no_signatures(spark, tables):
    """The LSH candidate self-join shuffles the corpus-x-bands frame -- the
    largest shuffle in the pipeline. It must carry ONLY (id, band, bucket):
    riding the num_hashes-long signature array through it multiplies the
    shuffle ~25x (measured ~70 GB/side at 8M docs x 16 bands; it filled the
    soak host's disk before the r3 fix). Signatures may appear only in
    candidate-scale joins after pair generation."""
    import re

    from pyspark_validator.pipelines.dedup import minhash_lsh_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = minhash_lsh_pairs(docs, verify=False)
    plan = _plan(df).split("Initial Plan")[0]
    band_exchanges = [
        m.group(0)
        for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[[^]]*\]: \[([^]]*)\]", plan
        )
        if "band#" in m.group(1)
    ]
    assert len(band_exchanges) >= 2  # both self-join sides shuffle on (band, bucket)
    for ex in band_exchanges:
        assert "sig#" not in ex, ex


def test_gfd_embedding_chain_plan(spark, tables):
    """Graph-tier plan pins (graphs/gfd.py): the embedding join chain over a
    parquet-backed vertex/edge graph (1) pushes the pattern-vertex LABEL
    filters into the parquet scans (PushedFilters reach the source), (2)
    contains no cartesian product and no Python eval, and (3) ends in the
    dropDuplicates aggregation, so violation counting is one bounded agg."""
    import pyspark.sql.functions as F

    from pyspark_validator.graphs.gfd import Gfd, gfd_violations
    from pyspark_validator.graphs.io import GraphData, VertexData

    spark.catalog.clearCache()
    c = tables["customer"]
    vertices = c.select(
        F.col("c_custkey").cast("long").alias("vid"),
        F.col("c_custkey").cast("long").alias("node_id"),
        F.lit("customer").alias("label"),
        F.create_map(F.lit("seg"), F.col("c_mktsegment")).alias("attrs"),
    ).unionByName(
        c.select(
            (F.col("c_nationkey").cast("long") + 1000000).alias("vid"),
            (F.col("c_nationkey").cast("long") + 1000000).alias("node_id"),
            F.lit("nation").alias("label"),
            F.create_map(F.lit("nk"), F.col("c_nationkey").cast("string")).alias(
                "attrs"
            ),
        ).dropDuplicates(["vid"])
    )
    edges = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        (F.col("c_nationkey").cast("long") + 1000000).alias("dst"),
        F.lit("in_nation").alias("label"),
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        vertices.write.parquet(f"{td}/v")
        edges.write.parquet(f"{td}/e")
        vp = spark.read.parquet(f"{td}/v")
        ep = spark.read.parquet(f"{td}/e")
        pattern = GraphData(
            directed=False,
            vertices=[
                VertexData(node_id=0, attrs={"label": "customer"}),
                VertexData(node_id=1, attrs={"label": "nation"}),
            ],
            edges=[(0, 1, "in_nation")],
        )
        gfd = Gfd(pattern, [((1, "nk"), (-1, "3"))], [((0, "seg"), (-1, "BUILDING"))])
        p = _plan(gfd_violations(vp, ep, gfd))
        assert "CartesianProduct" not in p
        assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
        # label equality must reach the vertex parquet scans as pushed filters
        pushed = [l for l in p.splitlines() if "PushedFilters" in l]
        assert any("label" in l and "customer" in l for l in pushed)
        assert any("label" in l and "nation" in l for l in pushed)
        # the final dedup is a per-key aggregate (Sort flavor: the carried
        # map-typed attr columns are not hash-aggregable), not a global sort
        assert _count(p, "SortAggregate") + _count(p, "HashAggregate") >= 1


def test_gdd_relation_targets_single_groupby(spark, tables):
    """graphs/gdd.py relation constraints: each relation label builds ONE
    target-set groupBy; two constraints over the same label reuse the frame
    (no second aggregation over the edge scan)."""
    import pyspark.sql.functions as F

    from pyspark_validator.graphs.gdd import (
        Gdd,
        GddConstraint,
        RelToken,
        gdd_violations,
    )
    from pyspark_validator.graphs.io import GraphData, VertexData

    c = tables["customer"].limit(200)
    vertices = c.select(
        F.col("c_custkey").cast("long").alias("vid"),
        F.col("c_custkey").cast("long").alias("node_id"),
        F.lit("customer").alias("label"),
        F.create_map(F.lit("seg"), F.col("c_mktsegment")).alias("attrs"),
    )
    edges = c.select(
        F.col("c_custkey").cast("long").alias("src"),
        F.col("c_custkey").cast("long").alias("dst"),
        F.lit("self").alias("label"),
    )
    pattern = GraphData(
        directed=True,
        vertices=[VertexData(node_id=0, attrs={"label": "customer"})],
    )
    gdd = Gdd(
        pattern,
        [GddConstraint(RelToken(0, "self"), RelToken(0, "self"), 0.0, "abs_diff", "eq")],
        [GddConstraint(RelToken(0, "self"), 1, 0.0, "abs_diff", "eq")],
    )
    from pyspark_validator.graphs.gdd import _ConstraintCompiler

    comp = _ConstraintCompiler(vertices, edges, pattern)
    for con in gdd.lhs + gdd.rhs:
        comp.compile(con)
    # one shared target frame for the single relation label
    assert len(comp._target_frames) == 1
    # the end-to-end violation plan stays cartesian- and python-free
    p = _plan(gdd_violations(vertices, edges, gdd))
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_incremental_fd_verdicts_prune_entropy_partials(spark, tmp_path):
    """The FD X-level shared by the batch check and the incremental engine
    always defines the FI entropy partials (sum cxy ln cxy); verdicts never
    reference them, so the optimizer must prune them: no logarithm reaches
    the optimized plan of IncrementalFD.verdicts()."""
    from pyspark_validator.incremental import IncrementalFD

    inc = IncrementalFD(spark, str(tmp_path / "fd"), ["x"], ["y"], num_partitions=4)
    inc.initialize(
        spark.createDataFrame([(i % 5, i % 3) for i in range(30)], ["x", "y"])
    )

    def optimized(df) -> str:
        return df._jdf.queryExecution().optimizedPlan().toString()

    def has_log(plan: str) -> bool:
        return re.search(r"\b(ln|log)\(", plan) is not None

    assert not has_log(optimized(inc.verdicts()))
    # control: the AFD measures do use the partials, so the probe can see them
    assert has_log(optimized(inc.afd_measures()))
