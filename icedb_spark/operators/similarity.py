"""Similarity search over embedding columns (``array<float>``).

* :func:`cosine_topk` — brute-force exact top-k: the correctness baseline.
  Cross join + codegen'd dot product; fine up to ~10⁶×10³ pairs.
* :func:`cosine_topk_lsh` — the scale path: random-hyperplane LSH buckets
  the corpus so each query only scores its bucket. The hyperplanes are
  md5-derived, so the bucketing is deterministic and reproducible.
* :func:`cosine_topk_multiprobe` — same buckets, but each query also probes
  the sign-flip buckets of its lowest-|margin| planes (plus the best 2-bit
  flip): ~4x the recall of single-probe at (1+n_probe)x candidate volume.
* :func:`cosine_topk_ivf` — IVF cells: deterministic codebook, nprobe-cell
  search; the highest-recall approximate path here.
* :func:`cosine_topk_ivfpq` — IVF + product quantization: vectors stored
  as m_sub one-byte codes, ADC table-lookup scoring, optional exact
  rerank — the billion-scale memory layout.
* :func:`cosine_topk_ivf_trained` — IVF with an IN-ENGINE trained
  codebook: deterministic Lloyd (k-means) iterations refine the seed
  centroids, so a small nprobe/C ratio reaches the recall the untrained
  codebook needs majority-coverage for.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..table import IceTable
from .hashing import hash60

HYPERPLANE_SEED = 4_242


def _as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a, b) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(c) -> Column:
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda acc, x: acc + x * x))


_PRUNE_MAX_QUERIES = 4096


def _topk_candidate_pairs(c: DataFrame, q: DataFrame, k: int):
    """Batch-level candidate pruning for :func:`cosine_topk` (optimization
    r13, guide §4.2 — vectorized native scoring inside the Arrow batch).

    Returns a small (query_id, neighbor_id) candidate relation that is a
    PROVABLE superset of the exact top-k, or None when the shape doesn't
    qualify (too many queries, non-integral ids). All arithmetic of
    record stays in the JVM: the caller re-scores only the candidates
    with the exact fold + round + window, so the output is identical to
    the unpruned cross join BY CONSTRUCTION.

    Superset argument: round(·, 6) is monotone, so the k-th largest
    rounded score equals round(k-th largest unrounded score), and any
    row in the final top-k has unrounded score ≥ u_k − 1e-6 (each round
    moves a value by ≤ 5e-7). Within one Arrow batch, the global top-k
    rows for a query are also among that batch's k best, so emitting
    every batch row with approx score ≥ (batch k-th approx) − 2e-6
    covers: the 1e-6 rounding band, plus the ≤ ~2e-14 error between the
    BLAS matmul and the JVM's sequential fold (both sum 64 exact
    products; |Σ|u_i v_i|| ≤ ‖u‖‖v‖ bounds the normalized error at
    ~d·ε). Rows with non-finite approx scores (zero norms, nulls) are
    always emitted so the JVM decides their fate.
    """
    import numpy as np

    integral = {"bigint", "int", "smallint", "tinyint"}
    qt = dict(q.dtypes)["query_id"]
    ct = dict(c.dtypes)["neighbor_id"]
    if qt not in integral or ct not in integral:
        return None
    qtbl = q.select("query_id", "qv").limit(_PRUNE_MAX_QUERIES + 1).toArrow()
    if qtbl.num_rows > _PRUNE_MAX_QUERIES:
        return None
    qids = np.asarray(qtbl.column("query_id").to_pylist(), dtype=np.int64)
    if qtbl.num_rows == 0:
        Q = None
    else:
        try:
            Q = np.asarray(qtbl.column("qv").to_pylist(), dtype=np.float64)
        except Exception:
            return None
        if Q.ndim != 2:
            return None
    spark = c.sparkSession
    out_schema = f"query_id {qt}, neighbor_id {ct}"

    def prune(batches):
        import numpy as np
        import pyarrow as pa_

        if Q is None:
            return
        with np.errstate(all="ignore"):
            qn = np.sqrt((Q * Q).sum(axis=1))
        nq = Q.shape[0]
        for b in batches:
            nid_col = b.column(0)
            n = len(nid_col)
            if n == 0:
                continue
            nids = np.asarray(nid_col.to_pylist(), dtype=np.int64)
            try:
                vec_col = b.column(1)
                if vec_col.null_count == 0 and vec_col.values.null_count == 0:
                    # zero-copy: flat values buffer + uniform-width reshape
                    offs = vec_col.offsets.to_numpy()
                    d = Q.shape[1]
                    if not ((offs[1:] - offs[:-1]) == d).all():
                        raise ValueError("ragged vectors")
                    flat = vec_col.values.to_numpy()
                    C = flat[offs[0]:offs[-1]].reshape(n, d).astype(
                        np.float64, copy=False
                    )
                else:
                    C = np.asarray(vec_col.to_pylist(), dtype=np.float64)
                if C.ndim != 2 or C.shape[1] != Q.shape[1]:
                    raise ValueError("ragged vectors")
                with np.errstate(all="ignore"):
                    cn = np.sqrt((C * C).sum(axis=1))
                    s = (C @ Q.T) / (cn[:, None] * qn[None, :])
                weird = ~np.isfinite(s)
                s = np.where(weird, -np.inf, s)
                # self-pairs are excluded BEFORE ranking, as in the
                # exact path's where() below
                self_mask = nids[:, None] == qids[None, :]
                s = np.where(self_mask, -np.inf, s)
                if n > k:
                    kth = np.partition(s, n - k, axis=0)[n - k, :]
                else:
                    kth = np.full(nq, -np.inf)
                keep = (s >= kth[None, :] - 2e-6) | (weird & ~self_mask)
            except Exception:
                # unconvertible batch (nulls, ragged dims): emit every
                # non-self pair — the JVM re-scores them exactly
                keep = nids[:, None] != qids[None, :]
            ci, qi = np.nonzero(keep)
            if len(ci) == 0:
                continue
            yield pa_.record_batch(
                [
                    pa_.array(qids[qi]).cast(
                        qtbl.schema.field("query_id").type
                    ),
                    pa_.array(nids[ci]).cast(nid_col.type),
                ],
                names=["query_id", "neighbor_id"],
            )

    return c.select("neighbor_id", "cv").mapInArrow(prune, out_schema)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    prune: bool = True,
) -> DataFrame:
    """Exact cosine top-k neighbors for every query vector.

    Output: (query_id, neighbor_id, cosine, rank), self-matches excluded,
    ties broken by neighbor id (deterministic). ``queries`` is typically
    small → Spark broadcasts it; the corpus never shuffles.

    ``prune`` (optimization r13): a vectorized Arrow-batch pass first
    shrinks the N×Q pair space to a provable superset of the top-k
    (~k·batches rows per query; see :func:`_topk_candidate_pairs` for
    the margin argument), then the EXACT JVM fold + round + window runs
    on the candidates only — the scores of record and the result are
    bit-identical to the unpruned cross join (oracle-checked), but the
    JVM folds ~100× fewer pairs. Falls back to the plain cross join for
    non-integral ids or > 4096 queries.
    """
    query_id_col = query_id_col or id_col
    # norms are precomputed per side so the pair loop only folds the dot
    # product — numerically identical, but O(n+q) norm folds instead of O(n·q)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    pairs = None
    if prune:
        # only worth the extra collect + Arrow pass when the pair space
        # is real: on a tiny corpus (estimate under ~4 MB ≈ thousands of
        # vectors) the plain broadcast cross join's fold is cheaper than
        # the pruner's fixed job cost (measured at sf0.1: 0.78 s plain
        # vs 1.1 s pruned in a loaded session; at 10x the rows the
        # pruned path wins 3x). Unknown estimates prune — scale-safe.
        est = IceTable._estimated_bytes(corpus)
        if est is None or est > int(
            os.environ.get("SPARK_GRAFT_TOPK_PRUNE_BYTES", str(4 << 20))
        ):
            cand = _topk_candidate_pairs(c, q, k)
            if cand is not None:
                pairs = c.join(F.broadcast(cand), "neighbor_id").join(
                    F.broadcast(q), "query_id"
                )
    if pairs is None:
        pairs = c.crossJoin(F.broadcast(q))
    scored = (
        pairs
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def cosine_topk_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) cells.

    The codebook is deterministic — the ``n_centroids`` lowest-id corpus
    vectors (a production deployment would train centroids offline and feed
    them in the same way; the partitioned search shape is identical). Every
    corpus vector is assigned to its nearest centroid (one broadcast +
    map-side argmax, no window over the corpus); each query probes its
    ``nprobe`` nearest cells and scores only those cells' vectors.

    Cell assignment uses round(cosine, 6) with centroid-id tiebreak so the
    partitioning is reproducible across engines (exact float ties are
    resolved identically everywhere).
    """
    v = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("dv")
    ).withColumn("n", _norm(F.col("dv")))
    # distributed top-k (TakeOrdered), not a single-partition window scan
    cents = (
        v.orderBy("id")
        .limit(n_centroids)
        .select(F.col("id").alias("cid"), F.col("dv").alias("cv"), F.col("n").alias("cn"))
    )
    sim = F.round(_dot(F.col("dv"), F.col("cv")) / (F.col("n") * F.col("cn")), 6)
    # nearest cell per corpus vector: broadcast the tiny codebook, then a
    # map-side max_by; the group key is the 8-byte id alone (dv/n are
    # functionally dependent -> first() is deterministic), so the agg
    # hashes longs instead of deep-comparing 64-element arrays and the
    # exchange carries values as agg buffers, not group keys (guide §2.3)
    assigned = (
        v.crossJoin(F.broadcast(cents))
        .select("id", "dv", "n", "cid", sim.alias("csim"))
        .groupBy("id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cell"),
            F.first("dv").alias("dv"),
            F.first("n").alias("n"),
        )
        .select("id", "dv", "n", "cell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    qsim = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", "cid", qsim.alias("qsim"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                _dot(F.col("dv"), F.col("qv")) / (F.col("n") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def ivf_codebook_rows(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVF quantizer as PERSISTABLE rows ``(cid, cv)`` — the tiny
    table every production IVF deployment stores beside its inverted
    lists, so query time needs neither the corpus nor a re-train. The
    default codebook is the deterministic seed policy shared with
    :func:`cosine_topk_ivf` (the ``n_centroids`` lowest-id corpus
    vectors); any ``(cid, cv)`` relation — :func:`_train_codebook`
    output, offline-trained centroids — drops in with identical
    downstream shapes. C×dim doubles: broadcast territory forever."""
    v = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("dv")
    )
    out = (
        v.orderBy("id")
        .limit(n_centroids)
        .select(F.col("id").alias("cid"), F.col("dv").alias("cv"))
    )
    return out


def ivf_index_rows(
    corpus: DataFrame,
    codebook: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """An embedding corpus's rows in the INDEX-TABLE layout for
    PERSISTED IVF search (VERDICT r9 #2 — the d13
    ``minhash_index_rows`` pattern applied to the ANN family):
    ``(vec_id, cell, v, n)`` — the vector's nearest-centroid cell
    under the shared round(cosine, 6) + lowest-cid tiebreak, plus the
    double vector and its precomputed norm, so a query-time cell join
    scores exact cosines without ever re-reading or re-assigning the
    corpus. Persist into an icedb table with
    ``PartitionField("cell", "cell")`` + ``sort_order=["vec_id"]`` +
    ``bloom_columns=["cell"]`` so :func:`cosine_topk_against_index_table`
    reads only the probed cells' files.

    Plan shape: one broadcast of the C×dim codebook + a map-side
    max_by — the corpus NEVER shuffles to be assigned (the insert's
    partition-by-cell write is the one shuffle, and it is the index
    layout itself)."""
    v = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("n", _norm(F.col("v")))
    cn = codebook.select("cid", "cv").withColumn("cn", _norm(F.col("cv")))
    sim = F.round(_dot(F.col("v"), F.col("cv")) / (F.col("n") * F.col("cn")), 6)
    out = (
        v.crossJoin(F.broadcast(cn))
        .select("vec_id", "v", "n", "cid", sim.alias("csim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cell"),
            F.first("v").alias("v"),
            F.first("n").alias("n"),
        )
        .select("vec_id", "cell", "v", "n")
    )
    # size hint for IceTable.insert's write-path gate: output is one row
    # per corpus vector at ~input width (+ one long), so 2x the corpus
    # projection's estimate sizes it in the optimizer's units — the
    # plan's own estimate is C-times inflated by the crossJoin. Not a
    # bound on decoded bytes: the optimizer prices an array at a default
    # width (measured: a 256,000 B hint for 2,160,000 B of Arrow data, a
    # 4,000 x 64 float32 corpus built from a pyarrow Table)
    est = IceTable._estimated_bytes(v)
    if est is not None:
        out._icedb_est_bytes = 2 * est
    return out


def cosine_topk_against_index_table(
    queries: DataFrame,
    index_table,
    codebook: DataFrame,
    nprobe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    max_pruning_keys: int = 4096,
    persist_probe_rows: bool = False,
    probe_cache_out: list | None = None,
) -> DataFrame:
    """IVF cosine top-k against a PERSISTED index table with the PRUNED
    read built in — the query half of the :func:`ivf_index_rows`
    cycle, mirroring the dedup family's
    ``dedup_against_index_table`` contract: rank each query's
    ``nprobe`` cells against the broadcast codebook, collect the
    distinct probed cells (bounded by ``min(queries × nprobe, C)`` —
    always tiny), and read the index through
    ``column_in={"cell": ...}`` partition/zone-map/Bloom file
    skipping, falling back to a full scan past ``max_pruning_keys``.
    An empty or never-written index short-circuits to zero rows.
    Query-time I/O therefore tracks ``nprobe``, not index size — the
    property :func:`cosine_topk_ivf` (which recomputes assignment over
    the whole corpus every call) cannot have.

    With ``codebook = ivf_codebook_rows(corpus)`` and the index holding
    ``ivf_index_rows(corpus, codebook)``, results are IDENTICAL to
    :func:`cosine_topk_ivf` on the same corpus — same rounding ladder,
    same tiebreaks, same self-exclusion (the s09 gate's claim).

    ``persist_probe_rows``: the probe ranking is referenced twice
    (cell-set collect + the scoring join). The default ``False``
    re-derives it from lineage at the scoring join — one broadcast
    cross join against a C-row codebook, trivially cheap — so a
    serving loop calling this per query batch NEVER accumulates cache
    registrations (ADVICE r10: the prior persist-by-default leaked one
    registered cache per call). Pass ``True`` only when the *queries
    lineage itself* is expensive to evaluate twice, and own the
    release: the persisted frame is appended to ``probe_cache_out``
    (pass a list), and the caller unpersists it after materializing
    the result — Spark's laziness makes an in-function unpersist
    impossible without forfeiting the cache for the scoring join."""
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    cn = codebook.select("cid", "cv").withColumn("cn", _norm(F.col("cv")))
    qsim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cn))
        .select("query_id", "qv", "qn", "cid", qsim.alias("qsim"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell"))
    )
    if persist_probe_rows:
        from pyspark import StorageLevel

        probes = probes.persist(StorageLevel.MEMORY_AND_DISK)
        if probe_cache_out is not None:
            probe_cache_out.append(probes)
    empty = ivf_index_rows(
        queries.limit(0), codebook, id_col=query_id_col, vec_col=vec_col
    )
    if index_table.snapshot().alive_files():
        cells = sorted(
            r["cell"]
            for r in probes.select("cell")
            .distinct()
            .limit(max_pruning_keys + 1)
            .collect()
        )
        if not cells:
            idx = empty
        elif len(cells) <= max_pruning_keys:
            idx = index_table.read(column_in={"cell": cells})
        else:
            idx = index_table.read()
    else:
        idx = empty
    scored = (
        idx.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                _dot(F.col("v"), F.col("qv")) / (F.col("n") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def _training_view(corpus: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, dv, ti, tv): the original double vector plus the exact
    integer milli-grid (``ti``) the deterministic k-means trains on and
    its double form (``tv = ti/1000``)."""
    return (
        corpus.select(
            F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("dv")
        )
        .withColumn(
            "ti", F.transform("dv", lambda x: F.round(x * 1000).cast("long"))
        )
        .withColumn("tv", F.transform("ti", lambda t: t / F.lit(1000.0)))
    )


def _train_codebook(
    v: DataFrame, dim: int, n_centroids: int, iters: int
) -> DataFrame:
    """Deterministic in-engine k-means over a :func:`_training_view`:
    seeds = the ``n_centroids`` lowest-id vectors, then ``iters`` Lloyd
    passes (broadcast-codebook map-side argmax assignment + a
    partial-aggregatable per-(cell, dim) mean). Returns a MATERIALIZED
    ``(cid bigint, cv array<double>)`` relation.

    Cross-engine float determinism: training runs on the exact integer
    milli-grid (``ti``) — centroid refinement divides an exact bigint
    sum, ``sum(ti)/(1000*count)``, so the 4-decimal round sees an
    IDENTICAL double on every engine (round(avg(double), 4) diverges at
    summation-order noise near .00005 boundaries — observed at sf0.1).
    Assignment uses round(cosine, 6) with centroid-id tiebreaks.

    The codebook is C x dim doubles (a few KB), but its LINEAGE is the
    whole O(iters * N * C) Lloyd run — so every iteration ends in a
    collect that feeds the next one a literal local relation with
    bit-identical values (Python floats ARE IEEE doubles — the roundtrip
    is lossless). Before this was per-iteration (optimization r12), the
    lazy ``cents`` lineage was both broadcast for iteration i+1 AND
    re-executed by the final collect, so iteration 1 ran twice and the
    accumulated plan carried every iteration's codegen (measured: the
    2-iteration cold train halved, 12.5 s -> 5.8 s at sf0.1, identical
    output)."""
    cents = (
        v.orderBy("id")
        .limit(n_centroids)
        .select(F.col("id").alias("cid"), F.col("tv").alias("cv"))
    )
    for _ in range(iters):
        csim = F.round(
            _dot(F.col("tv"), F.col("cv"))
            / (_norm(F.col("tv")) * _norm(F.col("cv"))),
            6,
        )
        # group key is the id ALONE: ti is functionally dependent on it,
        # so first(ti) is deterministic, and the shuffle/agg hashes an
        # 8-byte long instead of deep-comparing two 64-element arrays
        # (guide §2.3 — shuffle keys, not payloads)
        assigned = (
            v.select("id", "ti", "tv")
            .crossJoin(F.broadcast(cents))
            .select("id", "ti", "tv", "cid", csim.alias("cs"))
            .groupBy("id")
            .agg(
                F.max_by("cid", F.struct(F.col("cs"), -F.col("cid"))).alias(
                    "cell"
                ),
                F.first("ti").alias("ti"),
            )
        )
        # the 4-decimal rounded mean, in PURE INTEGER arithmetic:
        # round_half_up(10*S/n) = (20*|S| + n) div (2*n) signed — a
        # float round(sum/(1000n), 4) lands EXACTLY on decimal
        # half-cases (the operands are exact), where Spark's
        # BigDecimal-toString rounding and an engine rounding the
        # binary double disagree (0.07125 -> 0.0713 vs 0.0712,
        # observed); integer division has no half-case to disagree on.
        #
        # Optimization r13: the per-(cell, dim) sums run as a numpy
        # partial-sum pass inside an Arrow batch (guide §4.2) and the
        # division closes on the driver in Python ints — integer
        # arithmetic is order-independent, so the centroids are
        # bit-identical to the former 64-column sum aggregate, while the
        # plan sheds the 64 sum + 64 division expressions whose
        # ANALYSIS alone cost ~0.6 s per iteration per construction.
        def _partial_sums(batches):
            import numpy as np
            import pyarrow as pa_

            for b in batches:
                cells_col = b.column(0)
                ti_col = b.column(1)
                nrows = len(cells_col)
                if nrows == 0:
                    continue
                cells = np.asarray(cells_col.to_pylist(), dtype=np.int64)
                regular = ti_col.null_count == 0 and ti_col.values.null_count == 0
                if regular:
                    offs = ti_col.offsets.to_numpy()
                    widths = offs[1:] - offs[:-1]
                    regular = bool((widths == dim).all())
                per_cell: dict = {}
                if regular:
                    flat = ti_col.values.to_numpy()
                    T = flat[offs[0]:offs[-1]].reshape(nrows, dim)
                    for cell in np.unique(cells):
                        m = cells == cell
                        per_cell[int(cell)] = (
                            int(m.sum()), T[m].sum(axis=0, dtype=np.int64)
                        )
                else:
                    # row-exact replication of sum(ti[i]) null semantics:
                    # count counts every row; each dim's sum skips rows
                    # where ti[i] is null/absent
                    tis = ti_col.to_pylist()
                    for cell, ti in zip(cells, tis):
                        n0, s0 = per_cell.setdefault(
                            int(cell), [0, np.zeros(dim, dtype=object)]
                        )
                        per_cell[int(cell)][0] = n0 + 1
                        if ti is not None:
                            for i in range(min(dim, len(ti))):
                                if ti[i] is not None:
                                    s0[i] += ti[i]
                yield pa_.record_batch(
                    [
                        pa_.array(list(per_cell.keys()), pa_.int64()),
                        pa_.array([v0[0] for v0 in per_cell.values()], pa_.int64()),
                        pa_.array(
                            [[int(x) for x in v0[1]] for v0 in per_cell.values()],
                            pa_.list_(pa_.int64()),
                        ),
                    ],
                    names=["cell", "n", "s"],
                )

        # the per-(batch, cell) partials close in a two-stage JVM integer
        # merge on (cell, dim index), as simhash's do: the driver receives
        # C*dim rows whatever the input size, not one row per batch and
        # cell (every partial carries all dim sums, so sum(n) per
        # (cell, i) is the cell's count for each i)
        parts = assigned.select("cell", "ti").mapInArrow(
            _partial_sums, "cell bigint, n bigint, s array<bigint>"
        )
        sums = (
            parts.select("cell", "n", F.posexplode("s").alias("i", "s"))
            .groupBy("cell", "i")
            .agg(F.sum("n").alias("n"), F.sum("s").alias("s"))
        )
        acc: dict = {}
        for r in sums.collect():
            a0 = acc.setdefault(int(r["cell"]), [int(r["n"]), [0] * dim])
            a0[1][int(r["i"])] = int(r["s"])
        def _coord(S: int, n: int) -> float:
            # signum(S) * ((20*|S| + n) div (2*n)) / 10000.0, all exact
            if S == 0:
                return 0.0
            q = (20 * abs(S) + n) // (2 * n)
            return (1.0 if S > 0 else -1.0) * (q / 10000.0)
        # materialize THIS iteration: the next one (and every downstream
        # use) starts from a literal local relation, not the Lloyd plan.
        # Built from Arrow (float64 lists hold the Python floats exactly),
        # so the relation is a LocalRelation with a size estimate — a
        # parallelized row list would report the Long.MaxValue sentinel
        items = sorted(acc.items())
        cents = v.sparkSession.createDataFrame(
            pa.table({
                "cid": pa.array([cid for cid, _ in items], pa.int64()),
                "cv": pa.array(
                    [[_coord(s[i], n) for i in range(dim)] for _, (n, s) in items],
                    pa.list_(pa.float64()),
                ),
            })
        )
    return cents


def cosine_topk_ivf_trained(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: int = 64,
    nprobe: int = 8,
    iters: int = 2,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF cosine top-k with a k-means-TRAINED codebook (Lloyd
    iterations), demonstrating the production recall/cost trade the
    untrained variants cannot reach: cells that follow the data need a
    small ``nprobe/C`` ratio where the lowest-id seed codebook
    (:func:`cosine_topk_ivf`) needs majority coverage.

    Determinism across engines (the whole point of the oracle gate) with
    floating-point means: training runs on vectors ROUNDED to 3 decimals
    and each refined centroid component is rounded to 4 decimals — at
    those precisions the summation-order differences between Spark's
    shuffle-order aggregation and any other engine's are ~1e-12 below
    the rounding step, so both engines materialize bit-identical
    codebooks. Assignment/probing use round(cosine, 6) with centroid-id
    tiebreaks, as everywhere else. Final scoring uses the ORIGINAL
    vectors (training precision never touches result cosines).

    Scale shape: each Lloyd iteration is the same broadcast-codebook +
    map-side argmax assignment as search-time cell assignment, plus a
    partial-aggregatable per-(cell, dim) mean — O(iters * N * C)
    compute, no shuffle wider than C*dim rows. Production systems train
    offline on a sample and feed centroids in; this shows the identical
    plan running in-engine, and ``iters=0`` degrades exactly to
    :func:`cosine_topk_ivf`.
    """
    v = _training_view(corpus, id_col, vec_col)
    cents = _train_codebook(v, dim, n_centroids, iters)
    vn = v.withColumn("n", _norm(F.col("dv")))
    cn = cents.withColumn("cn", _norm(F.col("cv")))
    sim = F.round(
        _dot(F.col("dv"), F.col("cv")) / (F.col("n") * F.col("cn")), 6
    )
    assigned = (
        vn.crossJoin(F.broadcast(cn))
        .select("id", "dv", "n", "cid", sim.alias("csim"))
        .groupBy("id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cell"),
            F.first("dv").alias("dv"),
            F.first("n").alias("n"),
        )
        .select("id", "dv", "n", "cell")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    qsim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cn))
        .select("query_id", "qv", "qn", "cid", qsim.alias("qsim"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cid").alias("cell"))
    )
    scored = (
        assigned.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                _dot(F.col("dv"), F.col("qv")) / (F.col("n") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def cosine_topk_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    n_probe: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k with multi-probe LSH.

    Single-probe LSH (:func:`cosine_topk_lsh`) misses every neighbor that
    straddles ANY hyperplane — measured recall@5 was ~0.10 at n_planes=6.
    Multi-probe recovers most of that loss for a bounded cost increase:
    each query scores its own bucket PLUS the ``n_probe`` buckets reached
    by flipping the sign bit of the planes it is CLOSEST to (smallest
    |dot| margin — exactly the planes most likely to have split a true
    neighbor into the adjacent bucket). Work per query is
    ``(1 + n_probe)/2^n_planes`` of the corpus instead of ``1/2^n_planes``.

    Determinism: margins are the same md5-derived ±1-plane dot products as
    the bucket bits, rounded to 6 decimals with plane-index tiebreak, so
    the exact probe set — and therefore the full result — is reproducible
    in any engine (the DuckDB oracle models it bit-for-bit).

    Scale shape: the corpus side is identical to single-probe (one bucket
    id per vector, no data movement beyond the bucketed equi-join); only
    the broadcast query side grows, by the factor ``1 + n_probe``.
    """
    if not 0 <= n_probe <= n_planes:
        raise ValueError(f"n_probe must be in [0, n_planes], got {n_probe}")
    # corpus side via the vectorized one-pass view (optimization r13,
    # bit-equal — see lsh_view); the query side keeps the JVM folds
    # because the probe margins reuse each plane's dot VALUE, not just
    # its sign
    c = lsh_view(corpus, id_col, vec_col, dim, n_planes, "neighbor_id")
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    # one projected dot per plane: reused for the bucket bit AND the probe
    # margin, so each plane's fold is computed once
    for p in range(n_planes):
        plane = F.array([F.lit(x) for x in _hyperplane(dim, p)])
        q = q.withColumn(f"_d{p}", _dot(F.col("qv"), plane))
    base = F.lit(0)
    for p in range(n_planes):
        base = base + F.when(F.col(f"_d{p}") >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    margins = F.array(
        *[
            F.struct(
                F.round(F.abs(F.col(f"_d{p}")), 6).alias("m"),
                F.lit(p).alias("p"),
            )
            for p in range(n_planes)
        ]
    )
    # struct sort is lexicographic (margin asc, then plane idx asc) — the
    # deterministic "closest planes first" probe order
    sorted_margins = F.array_sort(margins)
    flips = F.slice(sorted_margins, 1, n_probe)

    # shiftleft() takes only literal bit counts — 2^p (exact for small
    # ints in double) is the column-argument equivalent
    def bit(p_col) -> Column:
        return F.pow(F.lit(2.0), p_col.cast("double")).cast("int")

    single = F.transform(flips, lambda s: base.bitwiseXOR(bit(s["p"])))
    probes = F.array_union(F.array(base), single)
    if n_probe >= 2:
        # the best 2-bit perturbation (both closest planes flipped): true
        # neighbors frequently differ in two low-margin bits, which no
        # single-bit probe can reach
        pair = base.bitwiseXOR(bit(F.element_at(sorted_margins, 1)["p"])).bitwiseXOR(
            bit(F.element_at(sorted_margins, 2)["p"])
        )
        probes = F.array_union(probes, F.array(pair))
    q_probed = (
        q.withColumn("bucket", F.explode(probes))
        .select("query_id", "qv", "qn", "bucket")
    )
    scored = (
        c.join(F.broadcast(q_probed), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def _hyperplane(dim: int, plane: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane component signs.

    Components are ±1 derived from md5 — reproducible anywhere, no RNG
    state. (Sign-only hyperplanes are standard for cosine LSH.)
    """
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane:{plane}:{i}".encode()).hexdigest()
        out.append(1.0 if int(h[:2], 16) % 2 == 0 else -1.0)
    return out


def lsh_bucket(vec_col, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane bucket id (0 .. 2^n_planes-1) for a vector column."""
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array([F.lit(x) for x in _hyperplane(dim, p)])
        positive = _dot(_as_double(vec_col), plane) >= 0
        bucket = bucket + F.when(positive, F.lit(1 << p)).otherwise(F.lit(0))
    return bucket


def lsh_view(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    id_alias: str,
    vec_alias: str = "cv",
    norm_alias: str = "cn",
    with_vec: bool = True,
) -> DataFrame:
    """``(id, double vector, norm, LSH bucket)`` for a corpus, computed in
    ONE vectorized Arrow-batch pass (optimization r13, guide §4.2).

    Value-identical to ``_as_double`` + :func:`lsh_bucket` + ``_norm``:
    the per-plane dot replicates the JVM fold's SEQUENTIAL index-order
    accumulation in float64 (each float32 widens exactly; each ±1
    product is exact; the adds round identically), so the sign — and
    hence the bucket — is bit-equal, as is the norm. Irregular rows
    reproduce the JVM null semantics exactly: a null vector or any null
    element yields bucket 0 (every plane's ``when`` falls through) and a
    null norm; a length≠dim vector yields bucket 0 but keeps its norm.
    The win is double: no interpreted per-element HOF evaluation, and no
    Catalyst ANALYSIS of ``n_planes`` 64-element fold trees per
    construction (~0.4 s at 6 planes, paid per bench repeat)."""
    import numpy as np

    S = np.array(
        [_hyperplane(dim, p) for p in range(n_planes)], dtype=np.float64
    )
    weights = (1 << np.arange(n_planes)).astype(np.int64)
    id_type = df.schema[id_col].dataType.simpleString()
    fields = [f"{id_alias} {id_type}"]
    if with_vec:
        fields.append(f"{vec_alias} array<double>")
    fields += [f"{norm_alias} double", "bucket int"]
    schema = ", ".join(fields)

    def go(batches):
        import math

        import numpy as np
        import pyarrow as pa_

        for b in batches:
            ids = b.column(0)
            vc = b.column(1)
            n = len(ids)
            if n == 0:
                continue
            regular = vc.null_count == 0 and vc.values.null_count == 0
            if regular:
                offs = vc.offsets.to_numpy()
                regular = bool(((offs[1:] - offs[:-1]) == dim).all())
            if regular:
                flat = vc.values.to_numpy().astype(np.float64, copy=False)
                C = flat[offs[0]:offs[-1]].reshape(n, dim)
                acc = np.zeros((n, n_planes))
                nrm = np.zeros(n)
                for i in range(dim):
                    # sequential accumulation — the JVM fold's order
                    acc += C[:, i:i + 1] * S[:, i][None, :]
                    nrm += C[:, i] * C[:, i]
                buckets = pa_.array(
                    ((acc >= 0).astype(np.int64) * weights[None, :])
                    .sum(axis=1).astype(np.int32)
                )
                cn = pa_.array(np.sqrt(nrm))
                cv = pa_.ListArray.from_arrays(
                    pa_.array(
                        np.arange(n + 1, dtype=np.int32) * dim
                    ),
                    pa_.array(C.reshape(-1)),
                )
            else:
                vs = vc.to_pylist()
                bks, cns, cvs = [], [], []
                for v in vs:
                    if v is None:
                        bks.append(0); cns.append(None); cvs.append(None)
                        continue
                    vd = [None if x is None else float(x) for x in v]
                    has_null = any(x is None for x in vd)
                    if has_null:
                        cns.append(None)
                    else:
                        a0 = 0.0
                        for x in vd:
                            a0 = a0 + x * x
                        cns.append(math.sqrt(a0))
                    bk = 0
                    if not has_null and len(vd) == dim:
                        for p in range(n_planes):
                            d0 = 0.0
                            for i in range(dim):
                                d0 = d0 + vd[i] * S[p, i]
                            if d0 >= 0:
                                bk += 1 << p
                    bks.append(bk); cvs.append(vd)
                buckets = pa_.array(bks, pa_.int32())
                cn = pa_.array(cns, pa_.float64())
                cv = pa_.array(cvs, pa_.list_(pa_.float64()))
            cols = [ids] + ([cv] if with_vec else []) + [cn, buckets]
            names = [id_alias] + ([vec_alias] if with_vec else []) \
                + [norm_alias, "bucket"]
            yield pa_.record_batch(cols, names=names)

    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(go, schema)


def cosine_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: score only vectors in the query's LSH bucket.

    One bucketed equi-join instead of a cross join — per-bucket work is
    |bucket|·|queries in bucket|, so the total is ~n²/2^planes. Recall is
    approximate (neighbors straddling a hyperplane are missed); increase
    recall with fewer planes or multi-probe."""
    c = lsh_view(corpus, id_col, vec_col, dim, n_planes, "neighbor_id")
    q = lsh_view(
        queries, id_col, vec_col, dim, n_planes, "query_id", "qv", "qn"
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("cv"), F.col("qv")) / (F.col("cn") * F.col("qn")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cosine_topk_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    n_centroids: int = 16,
    nprobe: int = 4,
    m_sub: int = 8,
    k_sub: int = 16,
    k: int = 5,
    rerank: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via IVF-PQ (inverted file + product
    quantization) — the billion-scale ANN memory layout: each corpus
    vector is stored as ``m_sub`` one-byte codes instead of ``dim``
    floats (here 8 codes for a 64-dim vector: 32x smaller), and queries
    score candidates by ADC (asymmetric distance computation) — ``m_sub``
    table lookups per candidate instead of a ``dim``-wide dot product.

    Codebooks are deterministic for engine reproducibility (same policy
    as :func:`cosine_topk_ivf`'s coarse codebook): sub-centroid ``j`` of
    subspace ``s`` is the ``s``-th slice of the ``j``-th lowest-id corpus
    vector; a production deployment trains k-means codebooks offline and
    feeds them the same way — every join below keeps its shape.

    Plan shape (the part that must survive 100 TB): encoding is one
    explode + a broadcast join against the tiny sub-codebook + a map-side
    argmin — the corpus never shuffles to be encoded, and the stored
    codes (plus each code's centroid norm, which reconstructs the
    approximate vector norm with zero extra I/O) are all later stages
    touch. Search joins candidates (probed cells only) against a
    BROADCAST ADC table of ``queries x m_sub x k_sub`` partial dots, so
    the per-candidate cost is an ``m_sub``-row lookup-sum, independent of
    ``dim``. Rounding to 6 decimals with id tiebreaks keeps every argmin/
    rank decision identical across engines.

    Output: ``(query_id, neighbor_id, cosine, rank)`` where ``cosine`` is
    the ADC approximation ``sum_s dot(q_s, c_{s,code_s}) / (|q| *
    |reconstruction|)``.

    ``rerank > 0`` adds the standard refine step production IVF-PQ always
    runs: the top-``rerank`` ADC candidates per query are re-scored with
    their EXACT vectors (one id-keyed join back to the corpus — only
    ``queries x rerank`` rows of floats move) and ``cosine`` becomes the
    exact value. ADC then only has to get the true neighbors into the
    shortlist, not order them — measured recall@5 at sf0.1 rises from
    0.115 (pure ADC) to the probed-cell ceiling at ``rerank ~ 6k``.
    """
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    dsub = dim // m_sub

    v = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("dv")
    )
    # ---- coarse quantizer: identical policy to cosine_topk_ivf
    vn = v.withColumn("n", _norm(F.col("dv")))
    cents = (
        vn.orderBy("id")
        .limit(n_centroids)
        .select(
            F.col("id").alias("cid"),
            F.col("dv").alias("cv"),
            F.col("n").alias("cn"),
        )
    )
    csim = F.round(_dot(F.col("dv"), F.col("cv")) / (F.col("n") * F.col("cn")), 6)
    assigned = (
        vn.crossJoin(F.broadcast(cents))
        .select("id", "dv", "cid", csim.alias("csim"))
        .groupBy("id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cell"),
            F.first("dv").alias("dv"),
        )
        .select("id", "dv", "cell")
    )

    # ---- sub-codebook: j-th lowest-id vector sliced per subspace (tiny)
    train = (
        v.orderBy("id")
        .limit(k_sub)
        .withColumn(
            "j",
            F.row_number().over(Window.orderBy("id")).cast("int") - 1,
        )
    )
    s_col = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("s")
    subcents = train.select("j", s_col, "dv").select(
        "s",
        "j",
        F.expr(f"slice(dv, s * {dsub} + 1, {dsub})").alias("scv"),
    ).withColumn("c2", _dot(F.col("scv"), F.col("scv")))

    # ---- encode: per (vector, subspace) argmin ||sv - c||^2, id-stable
    sub = assigned.select("id", "cell", s_col, "dv").select(
        "id",
        "cell",
        "s",
        F.expr(f"slice(dv, s * {dsub} + 1, {dsub})").alias("sv"),
    )
    dist2 = F.round(
        _dot(F.col("sv"), F.col("sv"))
        - 2 * _dot(F.col("sv"), F.col("scv"))
        + F.col("c2"),
        6,
    )
    codes = (
        sub.join(F.broadcast(subcents), "s")
        .select("id", "cell", "s", F.col("j"), F.col("c2"), dist2.alias("d2"))
        .groupBy("id", "cell", "s")
        .agg(
            F.min_by("j", F.struct(F.col("d2"), F.col("j"))).alias("code"),
            F.min_by("c2", F.struct(F.col("d2"), F.col("j"))).alias("c2c"),
        )
    )

    # ---- queries: probe ranking on the coarse codebook (as IVF)
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    qsim = F.round(_dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6)
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qsim"), F.asc("cid"))
    probes = (
        q.crossJoin(F.broadcast(cents))
        .select("query_id", "qv", "qn", "cid", qsim.alias("qsim"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qn", F.col("cid").alias("cell"))
    )

    # ---- ADC tables: dot(q_s, c_{s,j}) for every (query, s, j) — tiny
    qsub = q.select("query_id", s_col, "qv").select(
        "query_id",
        "s",
        F.expr(f"slice(qv, s * {dsub} + 1, {dsub})").alias("qsv"),
    )
    # join keys renamed on the ADC side (same rationale as the
    # persisted variant): adc and cand both descend from `q`, and
    # shared-lineage same-named attributes are the ambiguous-self-join
    # shape Spark resolves with a warning — distinct names make the
    # join unambiguous by construction
    adc = qsub.join(F.broadcast(subcents), "s").select(
        F.col("query_id").alias("adc_qid"),
        F.col("s").alias("adc_s"),
        F.col("j").alias("adc_j"),
        _dot(F.col("qsv"), F.col("scv")).alias("pdot"),
    )

    # ---- candidates in probed cells, scored by m_sub ADC lookups
    cand = codes.join(F.broadcast(probes), "cell").where(
        F.col("query_id") != F.col("id")
    )
    scored = (
        cand.join(
            F.broadcast(adc),
            (cand["query_id"] == adc["adc_qid"])
            & (cand["s"] == adc["adc_s"])
            & (cand["code"] == adc["adc_j"]),
        )
        .select(cand["query_id"], "id", "qn", "pdot", "c2c")
        .groupBy("query_id", "id", "qn")
        .agg(F.sum("pdot").alias("adot"), F.sum("c2c").alias("r2"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(
                F.col("adot") / (F.col("qn") * F.sqrt(F.col("r2"))), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    if not rerank:
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
    shortlist = (
        scored.withColumn("_adc_rank", F.row_number().over(w))
        .where(F.col("_adc_rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    exact = (
        shortlist.join(
            vn.select(
                F.col("id").alias("neighbor_id"),
                F.col("dv").alias("nv"),
                F.col("n").alias("nn"),
            ),
            "neighbor_id",
        )
        .join(F.broadcast(q.select("query_id", "qv", "qn")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("nv"), F.col("qv")) / (F.col("nn") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def pq_subcodebook_rows(
    corpus: DataFrame,
    dim: int,
    m_sub: int = 8,
    k_sub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The PQ sub-codebooks as PERSISTABLE rows ``(s, j, scv, c2)`` —
    the second tiny table a production IVF-PQ deployment stores beside
    its byte codes (``m_sub × k_sub`` sub-vectors of ``dim/m_sub``
    doubles: a few KB, broadcast territory forever). The policy is the
    deterministic one shared with :func:`cosine_topk_ivfpq` (sub-centroid
    ``j`` of subspace ``s`` = the ``s``-th slice of the ``j``-th
    lowest-id corpus vector); trained sub-codebooks drop in with the
    same schema. ``c2`` is the precomputed self-dot every encode and
    ADC reconstruction needs."""
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if k_sub > 256:
        # ivfpq_index_rows packs each code into an 8-bit bigint lane
        # (shiftleft(code, 8s)); a code >= 256 would silently overflow
        # into the adjacent subspace's lane and corrupt the index
        raise ValueError(
            f"k_sub {k_sub} > 256: sub-codebook codes must fit an "
            "8-bit lane of the packed-bigint index layout"
        )
    dsub = dim // m_sub
    v = corpus.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("dv")
    )
    # global window is bounded: it runs AFTER limit(k_sub), over at
    # most k_sub rows (same pattern as cosine_topk_ivfpq's train side)
    train = (
        v.orderBy("id")
        .limit(k_sub)
        .withColumn(
            "j", F.row_number().over(Window.orderBy("id")).cast("int") - 1
        )
    )
    s_col = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("s")
    out = (
        train.select("j", s_col, "dv")
        .select(
            "s",
            "j",
            F.expr(f"slice(dv, s * {dsub} + 1, {dsub})").alias("scv"),
        )
        .withColumn("c2", _dot(F.col("scv"), F.col("scv")))
    )
    return out


def ivfpq_index_rows(
    corpus: DataFrame,
    codebook: DataFrame,
    subcodebook: DataFrame,
    dim: int,
    m_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """An embedding corpus in the PERSISTED IVF-PQ index layout
    (VERDICT r10 #4 — the byte-code footprint :func:`ivf_index_rows`
    cannot have): ``(vec_id, cell, codes, r2)`` where ``codes`` packs
    the ``m_sub`` one-byte PQ codes into ONE BIGINT (8-bit lanes,
    subspace ``s`` at bits ``8s..8s+7``) and ``r2`` is the
    reconstruction's squared norm (the sum of the chosen sub-centroids'
    ``c2``) — 4 fixed-width columns ≈ 32 bytes/vector vs the full
    64-double layout's ~512: the 100-TB-embedding footprint argument in
    one schema. Assignment and encoding are the exact policies of
    :func:`cosine_topk_ivfpq` (round(·,6) + id tiebreaks), so ADC
    search over these rows equals the recompute-every-call path
    bit-for-bit.

    Plan shape: one broadcast of each tiny codebook; coarse assignment
    is a map-side max_by and encoding a per-(vector, subspace) map-side
    min_by — the corpus never shuffles to be encoded (the
    partition-by-cell insert IS the one shuffle). Persist with
    ``PartitionField("cell", "cell")`` + ``bloom_columns=["cell"]`` and
    query via :func:`cosine_topk_pq_against_index_table`."""
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if m_sub > 8:
        raise ValueError(
            f"m_sub {m_sub} > 8 cannot pack into one bigint's 8-bit lanes"
        )
    dsub = dim // m_sub
    v = corpus.select(
        F.col(id_col).alias("vec_id"), _as_double(F.col(vec_col)).alias("dv")
    ).withColumn("n", _norm(F.col("dv")))
    cn = codebook.select("cid", "cv").withColumn("cn", _norm(F.col("cv")))
    csim = F.round(
        _dot(F.col("dv"), F.col("cv")) / (F.col("n") * F.col("cn")), 6
    )
    assigned = (
        v.crossJoin(F.broadcast(cn))
        .select("vec_id", "dv", "cid", csim.alias("csim"))
        .groupBy("vec_id")
        .agg(
            F.max_by("cid", F.struct(F.col("csim"), -F.col("cid"))).alias("cell"),
            F.first("dv").alias("dv"),
        )
        .select("vec_id", "dv", "cell")
    )
    s_col = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("s")
    sub = assigned.select("vec_id", "cell", s_col, "dv").select(
        "vec_id",
        "cell",
        "s",
        F.expr(f"slice(dv, s * {dsub} + 1, {dsub})").alias("sv"),
    )
    sc = subcodebook.select("s", "j", "scv", "c2")
    dist2 = F.round(
        _dot(F.col("sv"), F.col("sv"))
        - 2 * _dot(F.col("sv"), F.col("scv"))
        + F.col("c2"),
        6,
    )
    codes = (
        sub.join(F.broadcast(sc), "s")
        .select("vec_id", "cell", "s", "j", "c2", dist2.alias("d2"))
        .groupBy("vec_id", "cell", "s")
        .agg(
            F.min_by("j", F.struct(F.col("d2"), F.col("j"))).alias("code"),
            F.min_by("c2", F.struct(F.col("d2"), F.col("j"))).alias("c2c"),
        )
    )
    out = codes.groupBy("vec_id", "cell").agg(
        F.sum(
            # fail loudly (not silently corrupt the adjacent lane) if a
            # caller-supplied trained sub-codebook carries j >= 256 —
            # the packed-bigint layout has exactly 8 bits per subspace
            F.expr(
                "case when code > 255 or code < 0 then "
                "cast(raise_error('ivfpq_index_rows: PQ code outside "
                "its 8-bit lane (k_sub must be <= 256)') as bigint) "
                "else shiftleft(cast(code as bigint), 8 * s) end"
            )
        ).alias("codes"),
        F.sum("c2c").alias("r2"),
    )
    # size hint for IceTable.insert's write-path gate: one
    # 4-fixed-width-column row per corpus vector (~32 B), sized by the
    # corpus projection's estimate (optimizer units, see ivf_index_rows)
    # — the plan's own estimate carries the crossJoin/explode inflation
    est = IceTable._estimated_bytes(v)
    if est is not None:
        out._icedb_est_bytes = est
    return out


def cosine_topk_pq_against_index_table(
    queries: DataFrame,
    index_table,
    codebook: DataFrame,
    subcodebook: DataFrame,
    dim: int,
    m_sub: int = 8,
    nprobe: int = 4,
    k: int = 5,
    rerank: int = 0,
    vectors: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
    max_pruning_keys: int = 4096,
) -> DataFrame:
    """ADC cosine top-k against a PERSISTED IVF-PQ index — the query
    half of the :func:`ivfpq_index_rows` cycle: rank each query's
    ``nprobe`` cells against the broadcast coarse codebook, read ONLY
    the probed cells' byte-code rows through
    ``column_in={"cell": ...}`` partition/zone-map/Bloom skipping
    (full-scan fallback past ``max_pruning_keys``; an empty index
    short-circuits to zero rows), unpack each candidate's bigint into
    its ``m_sub`` 8-bit codes, and score by ADC — ``m_sub`` lookups
    into a broadcast ``queries × m_sub × k_sub`` partial-dot table
    built from the PERSISTED sub-codebooks, so the per-candidate cost
    is independent of ``dim`` and the bytes read per query track
    ``nprobe``, not index size, at ~1/16th of
    :func:`cosine_topk_against_index_table`'s full-vector row width.

    ``rerank > 0`` re-scores the top-``rerank`` ADC candidates per
    query EXACTLY against ``vectors`` (a relation carrying ``id_col`` +
    ``vec_col`` — the corpus table, or the s09 full-vector index) — an
    id-keyed join that moves only ``queries × rerank`` float rows.

    With the deterministic codebook policies this equals
    :func:`cosine_topk_ivfpq` on the same corpus bit-for-bit (the s12
    gate's claim)."""
    if dim % m_sub:
        raise ValueError(f"dim {dim} not divisible by m_sub {m_sub}")
    if rerank and vectors is None:
        raise ValueError("rerank > 0 needs `vectors` to re-score against")
    dsub = dim // m_sub
    query_id_col = query_id_col or id_col
    q = queries.select(
        F.col(query_id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
    ).withColumn("qn", _norm(F.col("qv")))
    cn = codebook.select("cid", "cv").withColumn("cn", _norm(F.col("cv")))
    qsim = F.round(
        _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")), 6
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.desc("qsim"), F.asc("cid")
    )
    probes = (
        q.crossJoin(F.broadcast(cn))
        .select("query_id", "qn", "cid", qsim.alias("qsim"))
        .withColumn("_pr", F.row_number().over(w_probe))
        .where(F.col("_pr") <= nprobe)
        .select("query_id", "qn", F.col("cid").alias("cell"))
    )
    if index_table.snapshot().alive_files():
        cells = sorted(
            r["cell"]
            for r in probes.select("cell")
            .distinct()
            .limit(max_pruning_keys + 1)
            .collect()
        )
        if not cells:
            idx = None
        elif len(cells) <= max_pruning_keys:
            idx = index_table.read(column_in={"cell": cells})
        else:
            idx = index_table.read()
    else:
        idx = None
    if idx is None:
        # zero-row frame with the index's exact dtypes (id type follows
        # the queries side, as in cosine_topk_against_index_table)
        idx = ivfpq_index_rows(
            queries.limit(0), codebook, subcodebook, dim, m_sub,
            id_col=query_id_col, vec_col=vec_col,
        )
    # ADC table: dot(q_s, c_{s,j}) for every (query, subspace, sub-centroid)
    s_col = F.explode(F.sequence(F.lit(0), F.lit(m_sub - 1))).alias("s")
    qsub = q.select("query_id", s_col, "qv").select(
        "query_id",
        "s",
        F.expr(f"slice(qv, s * {dsub} + 1, {dsub})").alias("qsv"),
    )
    sc = subcodebook.select("s", "j", "scv")
    # join keys renamed on the ADC side: both frames descend from the
    # same `q`, and same-named attributes with shared lineage are how
    # Spark's ambiguous-self-join resolution produces trivially-true
    # predicates — distinct names keep the join unambiguous by
    # construction
    adc = qsub.join(F.broadcast(sc), "s").select(
        F.col("query_id").alias("adc_qid"),
        F.col("s").alias("adc_s"),
        F.col("j").alias("adc_j"),
        _dot(F.col("qsv"), F.col("scv")).alias("pdot"),
    )
    cand = (
        idx.join(F.broadcast(probes), "cell")
        .where(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            "qn",
            "vec_id",
            "r2",
            s_col,
            "codes",
        )
        .withColumn(
            "code", F.expr("shiftright(codes, 8 * s) & 255").cast("int")
        )
    )
    scored = (
        cand.join(
            F.broadcast(adc),
            (cand["query_id"] == adc["adc_qid"])
            & (cand["s"] == adc["adc_s"])
            & (cand["code"] == adc["adc_j"]),
        )
        .select(cand["query_id"], "vec_id", "qn", "r2", "pdot")
        .groupBy("query_id", "vec_id", "qn", "r2")
        .agg(F.sum("pdot").alias("adot"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                F.col("adot") / (F.col("qn") * F.sqrt(F.col("r2"))), 6
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    if not rerank:
        return scored.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= k
        )
    shortlist = (
        scored.withColumn("_adc_rank", F.row_number().over(w))
        .where(F.col("_adc_rank") <= rerank)
        .select("query_id", "neighbor_id")
    )
    vx = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("nv"),
    ).withColumn("nn", _norm(F.col("nv")))
    exact = (
        shortlist.join(vx, "neighbor_id")
        .join(F.broadcast(q.select("query_id", "qv", "qn")), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("nv"), F.col("qv")) / (F.col("nn") * F.col("qn")), 6
            ).alias("cosine"),
        )
    )
    return exact.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
