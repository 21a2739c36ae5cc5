"""Physical-plan assertions: the scale properties must hold, not just the
row values — pushdown, pruning, codegen, broadcast."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec
from icedb_spark.testdata import load_table


@pytest.fixture()
def table(spark, tmp_path, sf_dir):
    t = IceTable(
        spark,
        str(tmp_path / "tbl"),
        partition_spec=PartitionSpec(
            fields=[PartitionField("d", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM-dd')")]
        ),
        sort_order=["event_type", "ts"],
    )
    t.insert(df=load_table(spark, sf_dir, "events"))
    return t


def _physical(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_and_column_pruning(table):
    df = table.read().where(F.col("event_type") == "click").select("user_id", "value")
    plan = _physical(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,click)]" in plan
    # projection reaches the scan: only the 3 needed columns are read
    assert "ReadSchema: struct<event_type:string,user_id:bigint,value:double>" in plan
    assert "*(1)" in plan  # whole-stage codegen span covers filter+project


def test_partition_pruning_reduces_input_files(table):
    total = len(table.read().inputFiles())
    pruned = table.read(partition_values={"d": ("2024-01-01", "2024-01-03")})
    assert len(pruned.inputFiles()) < total
    assert len(pruned.inputFiles()) <= 3


def test_broadcast_join_chosen_for_small_dim(spark, sf_dir):
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = spark.read.parquet(f"{sf_dir}/nation.parquet")
    df = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
    assert "BroadcastHashJoin" in _physical(df)


def test_insert_single_shuffle(spark, table):
    """The insert job is one shuffle (partition key) + arrow write — verify
    the plan of the manifest job contains exactly one exchange."""
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    df = table._prepare_batch(ev)
    from icedb_spark.table import _MANIFEST_SCHEMA, _PART_COL, _make_group_writer

    writer = _make_group_writer(table.path, table.sort_order, "snappy", 122_880)
    manifest = df.groupBy(_PART_COL).applyInArrow(writer, schema=_MANIFEST_SCHEMA)
    plan = _physical(manifest)
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_join_is_single_exchange_no_nested_loop(spark, sf_dir):
    """asof_join must plan as union → ONE hash exchange on the keys → window,
    never a BroadcastNestedLoopJoin / CartesianProduct."""
    from icedb_spark.operators import asof_join

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.expr("ts div 1000").alias("us"), "value"
    )
    left = ev.select("user_id", F.col("us").alias("l_us"))
    right = ev.select("user_id", F.col("us").alias("r_us"), F.col("value").alias("r_v"))
    plan = _physical(asof_join(left, right, ["user_id"], "l_us", "r_us"))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan
    # one exchange for the window partitioning (scans feed the union directly)
    assert plan.count("Exchange hashpartitioning") == 1


def test_range_join_is_equi_join_not_nested_loop(spark, sf_dir):
    """range_join must plan the banded equi-join (hash or broadcast-hash),
    with the exact range predicate as join condition/filter — never a
    nested-loop over the raw inequality."""
    from icedb_spark.operators import range_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "value")
    iv = spark.range(40).select(
        F.col("id").alias("band"),
        (F.col("id") * 12.5).alias("lo"),
        (F.col("id") * 12.5 + 25.0).alias("hi"),
    )
    plan = _physical(range_join(ev, iv, "value", "lo", "hi", bucket_width=25.0))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "HashJoin" in plan  # BroadcastHashJoin or ShuffledHashJoin/SortMerge


def test_minhash_signature_is_shuffle_free_single_md5(spark, sf_dir):
    """The signature stage must stay row-local: no exchange, and the md5
    base hash must appear exactly once (the shared projection must not be
    inlined per permutation)."""
    from icedb_spark.operators import minhash_signature

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(minhash_signature(docs))
    assert "Exchange" not in plan
    assert plan.count("md5") == 1

def test_ngram_prefix_filter_plans_equi_join(spark, sf_dir):
    """The prefix-filter candidate join must be a hash/sort-merge EQUI-join
    on the shingle (never a nested loop over raw pairs), with the PPJoin
    length filter attached as a join condition, not a post-cartesian
    filter."""
    from icedb_spark.operators import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(ngram_jaccard_pairs(docs, threshold=0.5))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


@pytest.mark.parametrize("op", ["jaccard", "containment", "minhash"])
def test_verify_stage_persists_candidate_shingles(spark, sf_dir, op):
    """Optimization r12 (amended): each dedup operator materializes
    exactly TWO bounded intermediates — the exploded shingle/signature
    table and the candidate pairs — and NOTHING more. A third persist
    of the verify-side shingle sets was tried and reverted: it was
    value-neutral for the operator itself but leaked past the caller's
    action (cache lifetime is the caller's per the module contract) and
    slowed every later query of a multi-query session (measured 16.5 s
    → 27 s full-bench regression). This test pins the persist COUNT so
    a future change can neither drop a load-bearing persist nor smuggle
    a leaking one back in."""
    from icedb_spark.operators import (
        containment_pairs,
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # delta, not absolute count: earlier tests of a shared session may
    # leave raw-RDD blocks that catalog.clearCache doesn't touch
    spark.catalog.clearCache()
    before = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    if op == "jaccard":
        ngram_jaccard_pairs(docs, threshold=0.5).collect()
    elif op == "containment":
        containment_pairs(docs, threshold=0.8).collect()
    else:
        minhash_lsh_pairs(docs, num_perm=16, bands=4, threshold=0.5).collect()
    persisted = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(persisted) - before == 2
    spark.catalog.clearCache()


def test_simhash_band_blocking_plans_equi_join(spark, sf_dir):
    """Band blocking (d08 scale config) must plan as an equi-join keyed by
    (band, band-value) — never a cartesian pair scan."""
    from icedb_spark.operators import simhash_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(simhash_pairs(docs, bits=60, band_bits=15, max_hamming=3))
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Join" in plan


def test_decontaminate_broadcasts_benchmark_no_cartesian(spark, sf_dir):
    """The contamination check must be a broadcast LEFT SEMI on the shingle
    key — never a shuffled or nested-loop join of the exploded corpus."""
    from icedb_spark.operators import decontaminate

    docs = load_table(spark, sf_dir, "documents")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    corpus = docs.where(F.col("doc_id") % 37 != 0)
    plan = (
        decontaminate(corpus, bench, n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_multiprobe_lsh_plans_broadcast_equi_join(spark, sf_dir):
    """s04 must plan as a bucketed equi-join with the (probe-exploded)
    query side broadcast — never a cartesian/nested-loop pair scan."""
    from icedb_spark.operators import cosine_topk_multiprobe

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    df = cosine_topk_multiprobe(emb, queries, dim=64, k=5, n_planes=6, n_probe=4)
    plan = _physical(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_auto_pruned_sql_scans_fewer_files(spark, tmp_path):
    """sql() with a WHERE-derived partition hint must hand Spark a smaller
    file list than the unpruned scan — visible in inputFiles()."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark,
        str(tmp_path / "prune_tbl"),
        partition_spec=PartitionSpec(fields=[PartitionField("d", "d")]),
        sort_order=["v"],
    )
    for day in ("2024-01-01", "2024-01-02", "2024-01-03"):
        t.insert([{"d": day, "v": i} for i in range(5)])
    q = "select * from ice where d = '2024-01-02'"
    pruned = t.sql(q)
    unpruned = t.sql(q, auto_prune=False)
    assert len(pruned.inputFiles()) == 1
    assert len(unpruned.inputFiles()) == 3
    assert sorted(map(tuple, pruned.collect())) == sorted(map(tuple, unpruned.collect()))

def test_line_dedup_first_pick_is_partial_agg_not_window(spark, sf_dir):
    """The first-occurrence pick must be a partial-aggregatable min(struct)
    (map-side combine — a billion-occurrence boilerplate line collapses to
    one candidate per map task), never a row_number window partitioned by
    line_hash (one straggler partition per hot line)."""
    from icedb_spark.operators import line_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _physical(line_dedup(docs))
    assert "Window" not in plan
    # the line_hash stage shows a partial aggregate of min(struct(...))
    assert "partial_min" in plan or "partial_merge_min" in plan or (
        "HashAggregate" in plan and "min(" in plan
    )


def test_trained_ivf_plans_broadcast_codebook(spark, sf_dir):
    """s07: every Lloyd iteration and the search itself must join against
    a BROADCAST codebook — never a shuffle of the corpus for assignment,
    never an unbroadcast cartesian."""
    from icedb_spark.operators import cosine_topk_ivf_trained

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0)
    df = cosine_topk_ivf_trained(
        emb, queries, dim=64, n_centroids=16, nprobe=4, iters=2, k=5
    )
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # broadcast codebook
    assert "BroadcastHashJoin" in plan                 # probed-cell join
    # the trained codebook is COLLECTED to a literal local relation, so
    # the O(iters*N*C) Lloyd lineage executes exactly once — the search
    # plan must contain no training aggregates (per-dimension avg) and
    # must read the codebook from a local scan on both its uses (the
    # centroids are built from an Arrow table: a LocalTableScan)
    assert "avg(" not in plan
    assert plan.count("LocalTableScan [cid") >= 2


def test_persisted_ivf_search_plans_broadcast_cell_join(spark, sf_dir, tmp_path):
    """s09: the persisted-index search's ONLY data-path join is the
    broadcast cell equi-join (probes broadcast into the index read);
    the codebook crossJoins are broadcast nested loops over a C-row
    relation, and nothing sort-merges or goes cartesian."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.operators import (
        cosine_topk_against_index_table,
        ivf_codebook_rows,
        ivf_index_rows,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    code = ivf_codebook_rows(emb, n_centroids=8)
    t = IceTable(
        spark,
        str(tmp_path / "ividx"),
        partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
        sort_order=["vec_id"],
        bloom_columns=["cell"],
    )
    t.insert(df=ivf_index_rows(emb, code))
    df = cosine_topk_against_index_table(
        emb.where(F.col("vec_id") % 50 == 0), t, code, nprobe=2, k=3,
        persist_probe_rows=False,
    )
    plan = _physical(df)
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan  # index ⋈ broadcast probes on cell


def test_semantic_decontam_plans_broadcast_nlj_partial_max(spark, sf_dir):
    """t14 exact mode: the corpus x benchmark cosine fold must be a
    BroadcastNestedLoopJoin (tiny benchmark broadcast, zero corpus
    shuffle) and the per-id max a partial aggregate (map-side combine) —
    never a shuffled cartesian."""
    from icedb_spark.operators import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    bench = emb.where(F.col("vec_id") % 29 == 0)
    corpus = emb.where(F.col("vec_id") % 29 != 0)
    plan = _physical(
        semantic_decontaminate(corpus, bench, 0.35, vec_col="embedding")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_max" in plan or "partial_merge_max" in plan or (
        "HashAggregate" in plan and "max(" in plan
    )


def test_zorder_split_assignment_is_column_expression(spark, tmp_path):
    """The z-range split must be assigned by a monotone column expression
    over the Morton code — the write job's plan may not gain a window,
    sort, or extra exchange beyond the single partition shuffle."""
    from icedb_spark.table import (
        _MANIFEST_SCHEMA, _PART_COL, _make_group_writer,
    )

    t = IceTable(
        spark, str(tmp_path / "zplan"),
        partition_spec=PartitionSpec(fields=[PartitionField("p", "'all'")]),
        zorder_by=["x", "y"], write_splits=4,
    )
    df = spark.range(2048).select(
        (F.col("id") % 64).cast("double").alias("x"),
        (F.col("id") / 64).cast("long").cast("double").alias("y"),
    )
    prepped = t._prepare_batch(df)
    laid, sort_cols = t._apply_layout(prepped)
    split = t._attach_split(laid, sort_cols, t._resolve_write_splits(laid))
    writer = _make_group_writer(t.path, sort_cols, "snappy", 122_880)
    from icedb_spark.table import _SPLIT_COL

    manifest = split.groupBy(_PART_COL, _SPLIT_COL).applyInArrow(
        writer, schema=_MANIFEST_SCHEMA
    )
    plan = _physical(manifest)
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_bpe_greedy_encoder_single_arrow_stage(spark, sf_dir):
    """The production-merge BPE encoder (and tokenizer) must cross into
    Python exactly ONCE, Arrow-batched: tokenization stays JVM-side, so
    the plan shows one MapInPandas and no row-at-a-time BatchEvalPython;
    the per-doc ratio math stays a JVM projection above it."""
    from icedb_spark.operators import (
        apply_bpe,
        bpe_alphabet_merges,
        bpe_tokenize,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe_alphabet_merges()
    for df in (apply_bpe(docs, merges), bpe_tokenize(docs, merges)):
        plan = _physical(df)
        assert plan.count("MapInPandas") == 1, plan[:800]
        assert "BatchEvalPython" not in plan
        assert "Exchange" not in plan  # encode is embarrassingly parallel


def test_bmp_phash_blob_synthesis_stays_jvm(spark, sf_dir):
    """m07's real-decode pHash: blob synthesis is pure JVM expressions
    (one md5, concat+unhex) and the decode crosses to Python once via
    mapInPandas — no per-row Python, no shuffle before the sort."""
    import __spark_entry__ as entry

    plan = _physical(entry.m07_bmp_phash(spark, sf_dir))
    assert plan.count("MapInPandas") == 1
    assert "BatchEvalPython" not in plan
