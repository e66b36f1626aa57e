"""Similarity search over an embedding column (training-data pipeline).

- brute-force cosine top-k: filtered cross join + JVM dot product
  (``F.aggregate``/``zip_with``) + rank window — the exact baseline, and
  the DuckDB-oracle-checkable path.
- LSH-bucketed top-k: deterministic random-hyperplane signs bucket the
  vectors; search compares only same-bucket (plus optional neighbor-
  bucket) rows — the 100-TB path (bucket join ≪ cross join).
- embedding near-dup: cosine ≥ threshold pairs within a bucketing key.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a: str, b: str):
    return F.aggregate(
        F.zip_with(F.col(a), F.col(b), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(c: str):
    return F.sqrt(
        F.aggregate(
            F.transform(F.col(c), lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism when
    the input has fewer partitions. A small corpus in one parquet row group
    otherwise funnels every downstream per-row expression into a single
    task; at scale the scan already has ≥ cores partitions and this is a
    no-op. Row-wise results are partitioning-invariant."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (brute force).

    Output: (query_id, vec_id, rank, cosine) — ties broken by vec_id;
    self-matches excluded."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    base = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("bv"),
    )
    pairs = q.crossJoin(base).filter(F.col("query_id") != F.col("vec_id"))
    cos = _dot("qv", "bv") / (_norm("qv") * _norm("bv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


# per-WORKER-PROCESS cache of the deserialized dense index (+ derived
# structures): PySpark re-unpickles Broadcast.value on every TASK, which
# at the 2M-row cap costs seconds per task and dominated the scan
# (measured, tools/dense_bench.py). Worker processes are reused across
# tasks (spark.python.worker.reuse default), so module state survives.
# Single-entry: a new invocation evicts the previous index.
_DENSE_IDX_CACHE: dict = {}
_DENSE_IDX_SEQ = __import__("itertools").count()


def dense_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    index_cap: int = 2_000_000,
    exclude_self: bool = True,
    repartition_queries: bool = True,
    _block_cells: int = 8_000_000,
    dispatch_threshold: int = 250_000,
) -> DataFrame:
    """Exact top-k by cosine via a broadcast dense index matrix + one BLAS
    GEMM per Arrow batch + argpartition — the flat-inner-product index
    analog of :func:`cosine_topk`, with the identical output contract
    ``(query_id, vec_id, rank, cosine)`` (rank by cosine desc, ties by
    vec_id asc, self-matches excluded when ``exclude_self``).

    ``exclude_self=False`` keeps index rows whose id equals the query id —
    the cross-table blocking form (reference blocking.py:176-191 searches
    a faiss index of INDEX objects with CAND queries, where the id
    equality IS the true match the PC@k metric looks for).

    Scale shape: the index (ids + L2-normalized float64 matrix) is
    collected ONCE on the driver (dispatch-capped at ``index_cap`` rows,
    the same pattern as ``knn_join_broadcast``) and broadcast to
    executors; each query partition runs a FAISS-style blocked flat
    scan — per 1024-query chunk the index matrix streams from DRAM
    exactly once in ~8M-cell GEMM blocks while a per-query top-m
    candidate pool accumulates, then one vectorized (-score, id) sort
    finishes the chunk — |Q|·|B|·d FLOPs inside BLAS instead of |Q|·|B|
    shuffled rows through a rank window, with an exact-tie fallback
    (full dgemv re-derivation) for rows whose kth score ties a block
    cut.

    Dispatch (round 5): past ``dispatch_threshold`` index rows the call
    routes to :func:`dense_cosine_topk_bigindex` (same output contract,
    broadcast side inverted, index never collected) whenever the query
    side fits its 200k batch cap — measured 1.6x faster at 500k index
    rows, 3-4x at 1-2M, and the only exact shape beyond ``index_cap``;
    flat wins below ~200k (BENCH.md round-5 A/B). The driver-collect
    kernel here remains the low-latency small-index path and the
    <=index_cap >200k-query fallback. When BOTH sides exceed their caps
    the dispatch hash-batches the queries through
    :func:`dense_cosine_topk_batched` — exact at any |Q| x |B|.

    Semantics note: zero-norm vectors get cosine 0.0 against everything
    (the crossJoin form yields NaN there); identical on any input
    without zero vectors. Malformed rows — null embeddings, or vectors
    whose length differs from the modal index dimensionality — are
    silently dropped on BOTH sides (the extract-stage convention: one
    bad document must never kill a whole Arrow batch).
    """
    import pandas as pd
    from pyspark.sql import types as T

    embeddings = embeddings.filter(F.col(vec_col).isNotNull())
    n_index = embeddings.count()
    if n_index > dispatch_threshold:
        # Round-5 dispatch policy (VERDICT r4 #3): past the measured
        # crossover the inverted-broadcast kernel is strictly faster even
        # though it costs one extra count on the query side — the A/B
        # (BENCH.md round 5) shows flat winning at <=200k index rows,
        # bigindex winning 1.6x at 500k and 3-4x at 1-2M (it skips the
        # 0.8-1.6 GB driver collect + per-worker broadcast
        # deserialization entirely), and bigindex is the ONLY exact path
        # past index_cap. Threshold 250k sits in the measured crossover
        # band (200k-500k). The driver-collect kernel below is kept for
        # the small-index regime where its lower latency wins.
        n_q = queries.filter(F.col(vec_col).isNotNull()).count()
        if n_q <= 200_000:
            return dense_cosine_topk_bigindex(
                embeddings,
                queries,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                exclude_self=exclude_self,
            )
        if n_index > index_cap:
            # both sides past their caps: hash-batched bigindex is the
            # only exact shape (one index scan per ~150k-query batch,
            # index never collected)
            return dense_cosine_topk_batched(
                embeddings,
                queries,
                k=k,
                id_col=id_col,
                vec_col=vec_col,
                exclude_self=exclude_self,
                n_queries=n_q,
            )
    if n_index > index_cap:
        raise ValueError(
            f"dense index has {n_index} rows > cap {index_cap}; use "
            "lsh_cosine_topk/ivf_cosine_topk or a sharded exact merge"
        )
    idx_pdf = embeddings.select(id_col, vec_col).toPandas()
    vals = idx_pdf[vec_col].to_numpy()
    lens = np.fromiter((len(v) for v in vals), dtype=np.int64, count=len(vals))
    d_modal = int(np.bincount(lens).argmax()) if len(lens) else 0
    ok = lens == d_modal
    ids_b = np.asarray(idx_pdf[id_col])[ok]
    # Arrow toPandas yields one ndarray per row — stack, don't tolist()
    # (tolist materializes |B|·d Python floats; measured seconds-to-
    # minutes at the 2M-row cap)
    M = (
        np.stack(vals[ok]).astype(np.float64, copy=False)
        if ok.any()
        else np.zeros((0, 1), dtype=np.float64)
    )
    nrm = np.linalg.norm(M, axis=1, keepdims=True)
    M = np.where(nrm > 0, M / np.where(nrm == 0, 1.0, nrm), 0.0)
    M = np.ascontiguousarray(M)  # (B, d) row-major; GEMM takes M[lo:hi].T
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((ids_b, M))

    q_id_type = queries.schema[id_col].dataType
    b_id_type = embeddings.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("query_id", q_id_type),
            T.StructField("vec_id", b_id_type),
            T.StructField("rank", T.IntegerType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    cache_key = next(_DENSE_IDX_SEQ)

    def gen(batches):
        cached = _DENSE_IDX_CACHE.get(cache_key)
        if cached is None:
            ids_arr, M_l = bc.value
            B = M_l.shape[0]
            # tie-break key: rank of each index id in ascending id order
            # — integer compares instead of repeated string compares
            id_rank = np.empty(B, dtype=np.int64)
            id_rank[np.argsort(ids_arr, kind="stable")] = np.arange(B)
            id_pos = (
                {v: i for i, v in enumerate(ids_arr)} if exclude_self else {}
            )
            _DENSE_IDX_CACHE.clear()
            _DENSE_IDX_CACHE[cache_key] = (ids_arr, M_l, id_rank, id_pos)
        else:
            ids_arr, M_l, id_rank, id_pos = cached
            B = M_l.shape[0]
        if B == 0:
            return
        m = min(B, k + 8)
        kk = min(k, m)
        d_idx = M_l.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            qvals = pdf[vec_col].to_numpy()
            qok = np.fromiter(
                (v is not None and len(v) == d_idx for v in qvals),
                dtype=bool,
                count=len(qvals),
            )
            if not qok.any():
                continue
            qids_all = np.asarray(pdf[id_col])[qok]
            Q = np.stack(qvals[qok]).astype(np.float64, copy=False)
            qn = np.linalg.norm(Q, axis=1, keepdims=True)
            Q = np.where(qn > 0, Q / np.where(qn == 0, 1.0, qn), 0.0)
            frames = []
            rows_per = 1024
            for lo in range(0, len(Q), rows_per):
                Qc = np.ascontiguousarray(Q[lo : lo + rows_per])
                R = len(Qc)
                qid_chunk = qids_all[lo : lo + R]
                if exclude_self:
                    pos = np.fromiter(
                        (id_pos.get(q, -1) for q in qid_chunk),
                        dtype=np.int64,
                        count=R,
                    )
                else:
                    pos = np.full(R, -1, dtype=np.int64)
                rsel = np.arange(R)
                # FAISS-style blocked flat scan: stream the index matrix
                # ONCE per query chunk in Bc-column blocks, keeping a
                # per-query running top-m candidate pool — DRAM traffic
                # is |M| per chunk instead of |M| per tiny GEMM slice
                Bc = max(m + 1, _block_cells // max(R, 1))
                pool_sc = None
                pool_idx = None
                thr = None  # per-query m-th-best so far (selection cut)
                cutmax = np.full(R, -np.inf)
                sbuf = np.empty((R, min(Bc, B)), dtype=np.float64)
                for b0 in range(0, B, Bc):
                    hi = min(B, b0 + Bc)
                    if hi - b0 == sbuf.shape[1]:
                        S_b = np.dot(Qc, M_l[b0:hi].T, out=sbuf)
                    else:
                        S_b = Qc @ M_l[b0:hi].T
                    inblk = (pos >= b0) & (pos < hi)
                    if inblk.any():
                        S_b[rsel[inblk], pos[inblk] - b0] = -np.inf
                    bc_n = hi - b0
                    if pool_sc is None:
                        # first block seeds the pool (and the threshold,
                        # when more blocks follow)
                        if bc_n > m:
                            sel = np.argpartition(
                                S_b, bc_n - m, axis=1
                            )[:, -m:]
                            pool_sc = np.take_along_axis(S_b, sel, axis=1)
                            pool_idx = sel + b0
                            thr = pool_sc.min(axis=1)
                            cutmax = np.maximum(cutmax, thr)
                        else:
                            pool_sc = S_b.copy()
                            pool_idx = np.broadcast_to(
                                np.arange(b0, hi), (R, bc_n)
                            ).copy()
                        continue
                    # later blocks: cheap row-max test against the
                    # running m-th-best threshold; only rows (and only
                    # elements) STRICTLY above it can change the top-m.
                    # Dropped elements are <= thr <= final thr, so the
                    # exact-tie fallback below covers cut boundary ties —
                    # the argpartition-per-block this replaces was ~6x
                    # the GEMM cost (tools/dense_bench.py)
                    bmax = S_b.max(axis=1)
                    for i in np.nonzero(bmax > thr)[0]:
                        cm = np.nonzero(S_b[i] > thr[i])[0]
                        cs = np.concatenate([pool_sc[i], S_b[i, cm]])
                        ci = np.concatenate([pool_idx[i], cm + b0])
                        if len(cs) > m:
                            sel = np.argpartition(cs, len(cs) - m)[-m:]
                            cs = cs[sel]
                            ci = ci[sel]
                        pool_sc[i] = cs
                        pool_idx[i] = ci
                        thr[i] = cs.min()
                    cutmax = np.maximum(cutmax, thr)
                # exact (-score, id asc) order: pre-sort the pool by id
                # rank, then a STABLE sort by -score keeps id-ascending
                # order among equal scores
                order = np.argsort(id_rank[pool_idx], axis=1, kind="stable")
                pool_idx = np.take_along_axis(pool_idx, order, axis=1)
                pool_sc = np.take_along_axis(pool_sc, order, axis=1)
                order = np.argsort(-pool_sc, axis=1, kind="stable")
                pool_idx = np.take_along_axis(pool_idx, order, axis=1)
                pool_sc = np.take_along_axis(pool_sc, order, axis=1)
                top_idx = np.ascontiguousarray(pool_idx[:, :kk])
                top_sc = np.ascontiguousarray(pool_sc[:, :kk])
                # exact tie boundary: a row whose kth kept score ties any
                # block/merge cut may have lost smaller-id ties to the
                # cut — re-derive from the full score vector (one dgemv;
                # rare outside adversarial all-tied inputs)
                if kk == k and B > m:
                    kth = top_sc[:, -1]
                    for i in np.nonzero((kth <= cutmax) & (kth > -np.inf))[
                        0
                    ]:
                        s = M_l @ Qc[i]
                        if pos[i] >= 0:
                            s[pos[i]] = -np.inf
                        cand = np.nonzero(s >= kth[i])[0]
                        cand = cand[np.argsort(id_rank[cand], kind="stable")]
                        cand = cand[np.argsort(-s[cand], kind="stable")][
                            :kk
                        ]
                        top_idx[i] = cand
                        top_sc[i] = s[cand]
                keep = top_sc > -np.inf
                counts = keep.sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": np.repeat(qid_chunk, counts),
                            "vec_id": ids_arr[top_idx[keep]],
                            "rank": pd.array(
                                np.tile(np.arange(1, kk + 1), (R, 1))[keep],
                                dtype="int32",
                            ),
                            "cosine": pd.array(
                                top_sc[keep], dtype="float64"
                            ),
                        }
                    )
                )
            if frames:
                yield pd.concat(frames, ignore_index=True)

    q = queries.select(id_col, vec_col)
    if repartition_queries:
        # per-query work is |B|·d FLOPs — orders of magnitude above the
        # cost of shuffling the query row — so spread queries across 2x
        # parallelism tasks regardless of how the caller's frame is
        # partitioned (a filtered range input can land every query in ONE
        # partition and serialize the whole scan; measured at |B|=1M,
        # tools/dense_bench.py). 2x parallelism: enough granularity to
        # smooth stragglers without multiplying per-task setup
        q = q.repartition(2 * spark.sparkContext.defaultParallelism)
    return q.mapInPandas(gen, out_schema)


def dense_cosine_topk_bigindex(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_cap: int = 200_000,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k with the broadcast side INVERTED: the bounded
    QUERY batch is collected and broadcast (``query_cap`` rows), and the
    index — arbitrarily large, never collected — streams through each of
    its partitions exactly once. Per partition the same threshold-
    filtered BLAS scan as :func:`dense_cosine_topk` keeps each query's
    local top-k under the exact (-cosine, id asc) total order; a final
    rank window merges the ≤ |Q|·k·n_partitions partial rows (Spark's
    WindowGroupLimit prunes each map side to k per query before the
    shuffle). This is the exact path PAST the 2M-row index cap of
    :func:`dense_cosine_topk`: the scan is embarrassingly parallel in
    index partitions, state per task is O(|Q|·k), and nothing grows with
    |B| except pure FLOPs. Reference analog: `blocking.py:176-191` runs
    faiss.IndexFlatIP single-node; this is the shape that survives a
    1000-executor corpus.

    Output contract identical to :func:`dense_cosine_topk`:
    ``(query_id, vec_id, rank, cosine)``, rank by cosine desc, ties by
    vec_id asc, self-matches excluded when ``exclude_self``; zero-norm
    vectors get cosine 0.0; malformed rows (null embeddings, or vectors
    whose length differs from the modal query dimensionality) are
    silently dropped on both sides.
    """
    import pandas as pd
    from pyspark.sql import types as T

    queries = queries.filter(F.col(vec_col).isNotNull())
    n_q = queries.count()
    if n_q > query_cap:
        raise ValueError(
            f"query batch has {n_q} rows > cap {query_cap}; split the "
            "query set into bounded batches"
        )
    q_pdf = queries.select(id_col, vec_col).toPandas()
    qvals = q_pdf[vec_col].to_numpy()
    qlens = np.fromiter(
        (len(v) for v in qvals), dtype=np.int64, count=len(qvals)
    )
    d_modal = int(np.bincount(qlens).argmax()) if len(qlens) else 0
    qok = qlens == d_modal
    qids_b = np.asarray(q_pdf[id_col])[qok]
    Qm = (
        np.stack(qvals[qok]).astype(np.float64, copy=False)
        if qok.any()
        else np.zeros((0, 1), dtype=np.float64)
    )
    qn = np.linalg.norm(Qm, axis=1, keepdims=True)
    Qm = np.where(qn > 0, Qm / np.where(qn == 0, 1.0, qn), 0.0)
    Qm = np.ascontiguousarray(Qm)
    spark = embeddings.sparkSession
    bc = spark.sparkContext.broadcast((qids_b, Qm))
    cache_key = next(_DENSE_IDX_SEQ)

    q_id_type = queries.schema[id_col].dataType
    b_id_type = embeddings.schema[id_col].dataType
    part_schema = T.StructType(
        [
            T.StructField("query_id", q_id_type),
            T.StructField("vec_id", b_id_type),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def gen(batches):
        cached = _DENSE_IDX_CACHE.get(cache_key)
        if cached is None:
            qids_l, Q = bc.value
            qpos = (
                {v: i for i, v in enumerate(qids_l)} if exclude_self else {}
            )
            _DENSE_IDX_CACHE.clear()
            _DENSE_IDX_CACHE[cache_key] = (qids_l, Q, qpos)
        else:
            qids_l, Q, qpos = cached
        Qn = len(qids_l)
        if Qn == 0 or Q.shape[1] == 0:
            return
        pool_sc = np.full((Qn, k), -np.inf)
        pool_id = np.empty((Qn, k), dtype=object)
        pool_key = np.empty((Qn, k), dtype=object)
        pool_cnt = np.zeros(Qn, dtype=np.int64)
        thr = np.full(Qn, -np.inf)  # kth-best so far (-inf until full)
        first = True
        d_q = Q.shape[1]
        for pdf in batches:
            if not len(pdf):
                continue
            bvals = pdf[vec_col].to_numpy()
            bok = np.fromiter(
                (v is not None and len(v) == d_q for v in bvals),
                dtype=bool,
                count=len(bvals),
            )
            if not bok.any():
                continue
            bids = np.asarray(pdf[id_col])[bok]
            # tie key in the column's NATURAL order (ints numeric,
            # strings lexicographic — matching ORDER BY vec_id)
            bkey = bids.astype(str) if bids.dtype == object else bids
            M_b = np.stack(bvals[bok]).astype(np.float64, copy=False)
            bn = np.linalg.norm(M_b, axis=1, keepdims=True)
            M_b = np.where(bn > 0, M_b / np.where(bn == 0, 1.0, bn), 0.0)
            bcn = len(bids)
            blanks = (
                [
                    (qpos[b], j)
                    for j, b in enumerate(bids)
                    if b in qpos
                ]
                if exclude_self
                else []
            )
            qchunk = max(1, 4_000_000 // max(bcn, 1))
            if first:
                col_order = np.argsort(bkey, kind="stable")
                ids_srt = bids[col_order]
                key_srt = bkey[col_order]
            for q0 in range(0, Qn, qchunk):
                hi = min(Qn, q0 + qchunk)
                S = Q[q0:hi] @ M_b.T
                for qi, j in blanks:
                    if q0 <= qi < hi:
                        S[qi - q0, j] = -np.inf
                if first:
                    # vectorized seed: columns pre-sorted by id, then a
                    # stable row sort by -score = exact total order
                    Ss = S[:, col_order]
                    sel = np.argsort(-Ss, axis=1, kind="stable")[:, :k]
                    kk = sel.shape[1]
                    pool_sc[q0:hi, :kk] = np.take_along_axis(Ss, sel, axis=1)
                    pool_id[q0:hi, :kk] = ids_srt[sel]
                    pool_key[q0:hi, :kk] = key_srt[sel]
                    pool_cnt[q0:hi] = kk
                    if kk == k:
                        thr[q0:hi] = pool_sc[q0:hi, k - 1]
                else:
                    bmax = S.max(axis=1)
                    for i in np.nonzero(bmax >= thr[q0:hi])[0]:
                        gi = q0 + i
                        s = S[i]
                        cand = np.nonzero(s >= thr[gi])[0]
                        if not len(cand):
                            continue
                        c = pool_cnt[gi]
                        sc = np.concatenate([pool_sc[gi, :c], s[cand]])
                        ky = np.concatenate(
                            [pool_key[gi, :c], bkey[cand]]
                        )
                        iv = np.concatenate(
                            [pool_id[gi, :c], bids[cand]]
                        )
                        order = np.lexsort((ky, -sc))[:k]
                        nn = len(order)
                        pool_sc[gi, :nn] = sc[order]
                        pool_id[gi, :nn] = iv[order]
                        pool_key[gi, :nn] = ky[order]
                        pool_cnt[gi] = nn
                        if nn == k:
                            thr[gi] = pool_sc[gi, k - 1]
            first = False
        keep = (np.arange(k)[None, :] < pool_cnt[:, None]) & (
            pool_sc > -np.inf
        )
        counts = keep.sum(axis=1)
        if counts.sum() == 0:
            return
        yield pd.DataFrame(
            {
                "query_id": np.repeat(np.asarray(qids_l), counts),
                "vec_id": pool_id[keep],
                "cosine": pd.array(pool_sc[keep], dtype="float64"),
            }
        )

    partial = embeddings.select(id_col, vec_col).mapInPandas(
        gen, part_schema
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id")
    )
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "rank", "cosine")
    )


def dense_cosine_topk_batched(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    batch_rows: int = 150_000,
    exclude_self: bool = True,
    n_queries: int | None = None,
) -> DataFrame:
    """Exact cosine top-k at ANY |Q| and ANY |B| (round 5): the query set
    is split into deterministic hash batches of ~``batch_rows`` rows and
    each batch runs :func:`dense_cosine_topk_bigindex` (bounded batch
    broadcast, index streamed, never collected). Per-query results are
    independent, so the union of batch outputs IS the exact answer — no
    cross-batch merge state. Cost model: one full index scan per batch
    (ceil(|Q|/batch_rows) passes) versus the flat kernel's one pass over
    the queries with the whole index resident per worker — the batched
    form is the only exact shape when BOTH sides outgrow their caps
    (e.g. sf1 geo_image_blocking: 600k queries x 600k index).

    The hash split uses xxhash64(id) pmod n_batches — deterministic,
    seedless, and balanced to ~|Q|/n_batches ± sqrt; ``batch_rows`` keeps
    a 25% margin under the 200k bigindex cap so hash variance can never
    trip it."""
    import math as _math

    queries = queries.filter(F.col(vec_col).isNotNull())
    n_q = queries.count() if n_queries is None else n_queries
    n_batches = max(1, _math.ceil(n_q / batch_rows))
    if n_batches == 1:
        return dense_cosine_topk_bigindex(
            embeddings, queries, k=k, id_col=id_col, vec_col=vec_col,
            exclude_self=exclude_self,
        )
    out = None
    bucket = F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_batches))
    for b in range(n_batches):
        part = dense_cosine_topk_bigindex(
            embeddings,
            queries.filter(bucket == b),
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            exclude_self=exclude_self,
        )
        out = part if out is None else out.unionByName(part)
    return out


def _projection_matrix(dim: int, n_planes: int, seed: int) -> list[list[float]]:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.normal(0.0, 1.0, (n_planes, dim)).tolist()


def lsh_bucket(
    embeddings: DataFrame,
    n_planes: int = 8,
    seed: int = 7,
    vec_col: str = "embedding",
) -> DataFrame:
    """Random-hyperplane LSH bucket id as a JVM expression: sign bits of
    fixed projections packed into a long. Deterministic (seeded planes
    are literals baked into the plan)."""
    dim = len(embeddings.select(vec_col).first()[0])
    planes = _projection_matrix(dim, n_planes, seed)
    v = F.col(vec_col).cast("array<double>")
    bucket = F.lit(0).cast("long")
    for i, plane in enumerate(planes):
        arr = F.array(*[F.lit(float(x)) for x in plane])
        dot = F.aggregate(
            F.zip_with(v, arr, lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return embeddings.withColumn("bucket", bucket)


def lsh_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: compare only same-LSH-bucket rows. The bucket
    equi-join replaces the cross join — at scale this is the difference
    between |Q|·|B| and |Q|·|B|/2^planes comparisons."""
    base = lsh_bucket(embeddings, n_planes, seed, vec_col).select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("bv"),
        "bucket",
    )
    q = lsh_bucket(queries, n_planes, seed, vec_col).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        "bucket",
    )
    pairs = q.join(base, "bucket").filter(F.col("query_id") != F.col("vec_id"))
    cos = _dot("qv", "bv") / (_norm("qv") * _norm("bv"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    bucket_col: str | None = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cosine ≥ threshold pairs; the bucket column (a cluster/label/LSH
    key) turns the quadratic self-join into a per-bucket equi-join."""
    lhs = embeddings.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).cast("array<double>").alias("va"),
        *( [F.col(bucket_col).alias("bk")] if bucket_col else [] ),
    )
    rhs = embeddings.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).cast("array<double>").alias("vb"),
        *( [F.col(bucket_col).alias("bk")] if bucket_col else [] ),
    )
    on = ["bk"] if bucket_col else []
    pairs = (
        lhs.join(rhs, on) if on else lhs.crossJoin(rhs)
    ).filter(F.col("id_a") < F.col("id_b"))
    cos = _dot("va", "vb") / (_norm("va") * _norm("vb"))
    out = pairs.select("id_a", "id_b", cos.alias("cosine")).filter(
        F.col("cosine") >= threshold
    )
    return out


# --------------------------------------------------------------------------
# IVF (coarse-quantizer) ANN — the k-means analog of the LSH scale path
# --------------------------------------------------------------------------


def ivf_kmeans_centroids(
    X: np.ndarray,
    n_centroids: int,
    n_iters: int = 8,
    seed: int = 7,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer — the IVF SPEC
    shared with the test oracle (tools/gen_expected.py reimplements it
    from this docstring, like the LSH plane spec):

    - rows of ``X`` are L2-normalized first (zero rows stay zero);
    - init: ``Generator(PCG64(seed)).choice(len(X), n_centroids,
      replace=False)`` row indices;
    - ``n_iters`` Lloyd rounds: assign = argmax dot (first max wins),
      centroid = mean of assigned rows re-normalized (empty cluster keeps
      its previous centroid), then ROUNDED to 9 decimals — the rounding is
      part of the spec so independent reimplementations cannot drift by
      ulps across iterations.
    """
    X = np.asarray(X, dtype=np.float64)
    nrm = np.linalg.norm(X, axis=1, keepdims=True)
    X = np.where(nrm > 0, X / np.where(nrm == 0, 1.0, nrm), 0.0)
    rng = np.random.Generator(np.random.PCG64(seed))
    idx = rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)
    C = np.round(X[idx].copy(), 9)
    for _ in range(n_iters):
        assign = np.argmax(X @ C.T, axis=1)
        for c in range(len(C)):
            m = assign == c
            if m.any():
                v = X[m].mean(axis=0)
                vn = np.linalg.norm(v)
                if vn > 0:
                    C[c] = v / vn
        C = np.round(C, 9)
    return C


def _centroid_dot_sql(vec_sql: str, centroid: np.ndarray) -> str:
    """SQL text for the centroid dot product fold. Same expression tree as
    the former Column-API construction (zip_with product + left-fold sum
    over double literals — ``repr`` round-trips every float64 exactly),
    but ONE py4j round-trip per centroid instead of one per component:
    building 16 centroids x 64 ``F.lit`` Columns cost ~1 s of driver time
    per plan construction (measured sf1)."""
    arr = ",".join(f"{float(x)!r}D" for x in centroid)
    return (
        f"aggregate(zip_with({vec_sql}, array({arr}), (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def ivf_assign(
    embeddings: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "cid",
) -> DataFrame:
    """Nearest-centroid id as a pure JVM expression: argmax over the
    per-centroid dot products (first max wins, matching np.argmax).
    Centroids are unit vectors, so argmax dot == argmax cosine — no
    normalization of the row vector needed."""
    v = f"cast({vec_col} as array<double>)"
    dots = F.expr(
        "array(" + ",".join(_centroid_dot_sql(v, c) for c in centroids) + ")"
    )
    return embeddings.withColumn(
        out_col, (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    )


def ivf_probes(
    queries: DataFrame,
    centroids: np.ndarray,
    n_probe: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-``n_probe`` centroid ids per query (dot desc, cid asc on ties)
    as JVM expressions: structs of (-dot, cid) array-sorted ascending,
    sliced, exploded."""
    v = f"cast({vec_col} as array<double>)"
    arr = F.expr(
        "array("
        + ",".join(
            f"struct(-({_centroid_dot_sql(v, c)}) as nd, {i} as c)"
            for i, c in enumerate(centroids)
        )
        + ")"
    )
    probes = F.slice(F.array_sort(arr), 1, n_probe)
    return queries.withColumn("_p", F.explode(probes)).withColumn(
        "cid", F.col("_p.c").cast("int")
    ).drop("_p")


def ivf_cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    n_iters: int = 8,
    seed: int = 7,
    train_cap: int = 10_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF approximate top-k by cosine: a driver-fit coarse quantizer
    (BOUNDED deterministic sample: first ``train_cap`` rows by id) buckets
    the index by nearest centroid; each query probes its ``n_probe``
    nearest centroids and ranks only those buckets' rows.

    The scale shape: comparisons drop from |Q|·|B| (cross join) to
    ~|Q|·n_probe·|B|/n_centroids through ONE equi-join on cid — same
    join plan as the LSH path, but with data-adaptive buckets (k-means
    balances occupancy where hyperplanes cannot). All per-row math is
    JVM expressions (centroid literals); the only Python is the
    driver-side k-means on a capped sample."""
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(train_cap)
        .collect()
    )
    C = ivf_kmeans_centroids(
        np.array([r[1] for r in sample], dtype=np.float64),
        n_centroids,
        n_iters=n_iters,
        seed=seed,
    )
    base = ivf_assign(
        _spread(
            embeddings.select(
                F.col(id_col).alias("vec_id"),
                F.col(vec_col).cast("array<double>").alias("bv"),
            )
        ),
        C,
        vec_col="bv",
    )
    # per-row norm computed ONCE on the index/query side instead of once
    # per joined pair (the higher-order-function fold is interpreted
    # per-element — same expression, same value, ~|pairs|/|rows| fewer
    # evaluations)
    base = base.withColumn("_bnrm", _norm("bv"))
    q = ivf_probes(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).cast("array<double>").alias("qv"),
        ),
        C,
        n_probe,
        vec_col="qv",
    )
    q = q.withColumn("_qnrm", _norm("qv"))
    # each index vector lives in exactly one cid and probe cids are
    # distinct, so a (query, vec) pair appears at most once — no dedup
    pairs = q.join(base, "cid").filter(F.col("query_id") != F.col("vec_id"))
    cos = _dot("qv", "bv") / (F.col("_qnrm") * F.col("_bnrm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        pairs.select("query_id", "vec_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
