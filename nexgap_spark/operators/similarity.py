"""Embedding similarity search (scale extension): brute-force cosine top-k as
the exact baseline, IVF (coarse-quantizer cluster routing) as the scale path,
and blocked near-duplicate detection.

Dot products are flat codegen'd expression chains with strict left-to-right
addition (bit-stable, engine-comparable — see `dot`); norms are precomputed
per vector before any pair join; scan sides are repartitioned so single-file
parquet inputs don't serialize the pairwise stages. No Python in the loop;
the quadratic stages are explicitly bounded (query subset × corpus, or
within-cluster only).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from nexgap_spark.session import fan_out_python_stage


DEFAULT_DIM = 64

# Hard ceiling on any "small side by contract" collect. 200k rows × 64-dim
# float64 ≈ 100 MB on the driver / in a broadcast — the practical broadcast
# limit. Past it, the caller should pre-cluster or batch the query set;
# silently collecting an unbounded side is how a driver OOMs at 100 TB.
SMALL_SIDE_MAX_ROWS = 200_000


def _collect_small_side(df: DataFrame, cols: list, what: str, cap: int | None = None):
    """Enforce the small-side contract instead of assuming it: collect via
    limit(cap+1) so an oversized side costs one extra row, not an OOM."""
    cap = SMALL_SIDE_MAX_ROWS if cap is None else cap
    pdf = df.select(*cols).limit(cap + 1).toPandas()
    if len(pdf) > cap:
        raise ValueError(
            f"{what} exceeds the small-side contract ({cap} rows): "
            "batch the queries or pre-reduce (e.g. cluster) before top-k"
        )
    return pdf


def dot(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    """Σ aᵢ·bᵢ as double, strict left-to-right addition.

    Expanded into a flat expression chain rather than F.aggregate/zip_with:
    Spark's array higher-order functions are interpreted per element (no
    whole-stage codegen), which made them the bottleneck of every pairwise
    stage. The chain keeps the exact sequential add order, so results stay
    bit-identical to the ordered-fold DuckDB oracle."""
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(dim)
    ]
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def dot_any_dim(a: Column, b: Column) -> Column:
    """Dimension-agnostic fallback (interpreted HOF fold) for vectors whose
    length isn't statically known. Same value, ~100× slower per pair."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column, dim: int = DEFAULT_DIM) -> Column:
    return F.sqrt(dot(a, a, dim))


def cosine(a: Column, b: Column, dim: int = DEFAULT_DIM) -> Column:
    return dot(a, b, dim) / (norm(a, dim) * norm(b, dim))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine.

    Distributed design: the query matrix is collected (small side by
    contract) and broadcast as a dense float64 block; the corpus streams
    partition-parallel through a vectorized Arrow stage that computes the
    |Q|×batch score block and keeps only a per-partition partial top-k per
    query; a final window merges the partials. Shuffle volume is
    O(|Q| · k · partitions), never O(|Q|·|C|).

    Float discipline: the score block accumulates SEQUENTIALLY over
    dimensions (one vectorized add per dim), so every cosine is bit-identical
    to the ordered left-to-right fold the DuckDB oracle computes — numpy's
    pairwise-summing dot() would not be.
    """
    q_pd = _collect_small_side(queries, [F.col(id_col), F.col(vec_col)], "query side")
    q_ids_arr = q_pd[id_col].to_numpy()
    q_mat = np.stack(q_pd[vec_col].to_numpy()).astype(np.float64)

    # shared bit-stability helpers (one definition of the sequential fold —
    # an inline copy here would silently drift from the oracle contract if
    # the float discipline is ever tweaked)
    q_norms = _seq_sqrt_norms(q_mat)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids_arr, q_mat, q_norms))

    def score(batches):
        q_ids, qm, qn = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            n_ids = pdf[id_col].to_numpy()
            cos = _seq_score_block(qm, cm) / (qn[:, None] * _seq_sqrt_norms(cm)[None, :])
            rows_q, rows_n, rows_c = [], [], []
            for qi in range(len(q_ids)):
                row = cos[qi]
                mask = n_ids == q_ids[qi]  # exclude self before the cut
                if mask.any():
                    row = row.copy()
                    row[mask] = -np.inf
                order = np.lexsort((n_ids, -row))[:k]
                keep = order[np.isfinite(row[order])]
                rows_q.extend([q_ids[qi]] * len(keep))
                rows_n.extend(n_ids[keep])
                rows_c.extend(row[keep])
            yield pd.DataFrame({"q_id": rows_q, "n_id": rows_n, "cos": rows_c})

    # derive id field types from the actual schemas (same pattern as
    # ivf_topk_indexed): hard-coding long would coerce/fail string or int
    # ids that id_col= legitimately allows
    q_id_type = queries.schema[id_col].dataType.simpleString()
    n_id_type = corpus.schema[id_col].dataType.simpleString()
    partials = fan_out_python_stage(corpus).mapInPandas(
        score, schema=f"q_id {q_id_type}, n_id {n_id_type}, cos double"
    )
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    return (
        partials.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "n_id", "cos", "rk")
    )


def assign_clusters(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dim: int = DEFAULT_DIM,
    engine: str = "sql",
) -> DataFrame:
    """IVF coarse quantization: route each vector to its nearest centroid
    (max cosine; deterministic tiebreak on centroid id). Centroids broadcast;
    one pass over the corpus.

    Plan shape (``engine="sql"``): argmax-per-vector is a ``max_by``
    AGGREGATE, not a row_number window — the broadcast join keeps a
    vector's k centroid rows on their map partition, so the partial
    aggregate collapses them to ONE row per vector before the exchange.
    The window alternative shuffles |V|·k rows each carrying two embedding
    arrays; this shuffles |V| rows carrying one payload struct.

    ``engine="arrow"`` routes through the shared ``_np_assign`` kernel
    (mapInPandas, centroids broadcast as a matrix) — bit-identical cosines
    via the sequential fold, same lowest-id tiebreak, same output columns.
    The SQL plan evaluates |V|·K codegen'd dot chains element-at-a-time,
    which is fine at the q35/q80 K≈16 scale but dominates at K≈√N index
    builds (measured: K=448 on 200k×64f — 305 s SQL vs ~6 s Arrow);
    build_ivf_index therefore defaults to the Arrow engine. Embeddings
    must be non-null under the Arrow engine (np.stack rejects None rows
    loudly); the SQL engine tolerates them with NULL similarity."""
    if engine not in ("sql", "arrow"):
        # a typo must not silently select the 50x-slower SQL path with
        # different null handling (r14 review)
        raise ValueError(f"engine must be 'sql' or 'arrow', got {engine!r}")
    if engine == "arrow":
        return _assign_clusters_arrow(
            vectors,
            centroids,
            id_col=id_col,
            vec_col=vec_col,
            centroid_id_col=centroid_id_col,
        )
    cent = F.broadcast(
        centroids.select(
            F.col(centroid_id_col).alias("_c_id"),
            F.col(vec_col).alias("_c_vec"),
            norm(F.col(vec_col), dim).alias("_c_norm"),
        )
    )
    scored = (
        fan_out_python_stage(vectors)
        .withColumn("_v_norm", norm(F.col(vec_col), dim))
        .join(cent)
        .withColumn(
            "_sim",
            dot(F.col(vec_col), F.col("_c_vec"), dim) / (F.col("_v_norm") * F.col("_c_norm")),
        )
    )
    payload_cols = [c for c in vectors.columns if c != id_col]
    best = scored.groupBy(id_col).agg(
        F.min_by(
            F.struct(*[F.col(c) for c in payload_cols], F.col("_c_id")),
            # min over (-sim, id) = max similarity, then LOWEST centroid id
            # on ties. The negation goes on _sim (always double) rather than
            # the id: negating the id breaks non-numeric centroid ids
            # (analysis error under ANSI, NULL tiebreak otherwise).
            F.struct((-F.col("_sim")).alias("_neg_sim"), F.col("_c_id")),
        ).alias("_best")
    )
    return best.select(
        id_col,
        *[F.col(f"_best.{c}").alias(c) for c in payload_cols],
        F.col("_best._c_id").alias(centroid_id_col),
    )


def _assign_clusters_arrow(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    centroid_id_col: str,
) -> DataFrame:
    """Arrow twin of the SQL assign plan: same `_np_assign` kernel as
    ivf_topk/kmeans (sequential-fold cosines, lowest-id tiebreak), output
    columns identical to the SQL path ([id, payload..., centroid_id])."""
    from pyspark.sql.types import StructField, StructType

    cent_pd = _collect_small_side(
        centroids,
        [F.col(centroid_id_col).alias("_c_id"), F.col(vec_col).alias("_c_vec")],
        "centroid side",
    )
    cent_ids = cent_pd["_c_id"].to_numpy()
    cent_mat = np.stack(cent_pd["_c_vec"].to_numpy()).astype(np.float64)
    sc = vectors.sparkSession.sparkContext
    b = sc.broadcast((cent_ids, cent_mat))
    payload_cols = [c for c in vectors.columns if c != id_col]
    in_fields = {f.name: f for f in vectors.schema.fields}
    cent_id_type = centroids.schema[centroid_id_col].dataType
    out_schema = StructType(
        [in_fields[id_col]]
        + [in_fields[c] for c in payload_cols]
        + [StructField(centroid_id_col, cent_id_type)]
    )
    out_cols = [id_col] + payload_cols + [centroid_id_col]

    def fn(batches):
        c_ids, c_mat = b.value
        for pdf in batches:
            pdf = pdf.copy()
            if len(pdf):
                m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
                pdf[centroid_id_col] = _np_assign(m, c_ids, c_mat)
            else:
                pdf[centroid_id_col] = pd.Series([], dtype=object)
            yield pdf[out_cols]

    return fan_out_python_stage(vectors).mapInPandas(fn, out_schema)


def _seq_sqrt_norms(m: np.ndarray) -> np.ndarray:
    """sqrt(Σ x²) accumulated sequentially over dimensions (oracle order)."""
    acc = m[:, 0] * m[:, 0]
    for i in range(1, m.shape[1]):
        acc = acc + m[:, i] * m[:, i]
    return np.sqrt(acc)


def _seq_score_block(qm: np.ndarray, cm: np.ndarray) -> np.ndarray:
    """|Q|×|C| dot-product block, one vectorized add per dimension —
    bit-identical per pair to the ordered left-to-right fold.

    In-place accumulation into preallocated buffers (r16): the naive
    ``acc = acc + q*c`` shape allocates two |Q|×|C| temporaries per
    dimension — at 1000 queries × 31k rows × 768 dims that is ~576 GB of
    allocator traffic per partition, which made the high-dim ground-truth
    pass allocation-bound. ``np.multiply(..., out=)`` + ``+=`` keeps the
    same additions in the same order (bit-identical results; the parity
    tests pin this) at ~2x the throughput."""
    acc = qm[:, 0][:, None] * cm[:, 0][None, :]
    tmp = np.empty_like(acc)
    for i in range(1, qm.shape[1]):
        np.multiply(qm[:, i][:, None], cm[:, i][None, :], out=tmp)
        acc += tmp
    return acc


def _np_assign(mat: np.ndarray, cent_ids: np.ndarray, cent_mat: np.ndarray) -> np.ndarray:
    """Nearest-centroid ids by max cosine, ties → lowest centroid id
    (matches ROW_NUMBER ... ORDER BY cos DESC, c_id)."""
    cos = _seq_score_block(mat, cent_mat) / (
        _seq_sqrt_norms(mat)[:, None] * _seq_sqrt_norms(cent_mat)[None, :]
    )
    out = np.empty(len(mat), dtype=cent_ids.dtype)
    for r in range(len(mat)):
        order = np.lexsort((cent_ids, -cos[r]))
        out[r] = cent_ids[order[0]]
    return out


def _np_assign_topm(
    mat: np.ndarray, cent_ids: np.ndarray, cent_mat: np.ndarray, m: int
) -> list[np.ndarray]:
    """Per row: the ids of its ``m`` nearest centroids (max cosine, ties →
    lowest id), nearest first — the query-side routing for nprobe > 1."""
    cos = _seq_score_block(mat, cent_mat) / (
        _seq_sqrt_norms(mat)[:, None] * _seq_sqrt_norms(cent_mat)[None, :]
    )
    out = []
    for r in range(len(mat)):
        order = np.lexsort((cent_ids, -cos[r]))
        out.append(cent_ids[order[:m]])
    return out


# ---------------------------------------------------------------------------
# The IVF probe loop. Every probe (transient ivf_topk, the float/int8 indexed
# probes, pq.ivf_topk_indexed_pq) runs the same skeleton: route the queries
# to centroids, score each probed centroid group with a pluggable scorer,
# keep a per-partition partial top-k, merge the partials by window.
# ---------------------------------------------------------------------------


def _key(v):
    """Plain-Python centroid key: numpy scalars via .item(), strings as is
    (centroid ids keep the caller's id type — string ids are legal)."""
    return v.item() if hasattr(v, "item") else v


class _Routing(NamedTuple):
    cent_ids: np.ndarray
    cent_mat: np.ndarray
    q_ids: np.ndarray
    q_mat: np.ndarray
    q_norms: np.ndarray
    q_id_type: str
    # centroid key -> (query ids, query matrix, query norms) of the queries
    # that probe it
    q_by_cent: dict

    def prune(self, corpus: DataFrame) -> DataFrame:
        """Partition pruning: the scan skips every unprobed cluster's files."""
        return corpus.filter(F.col("centroid_id").isin(sorted(self.q_by_cent)))


def _route_queries(
    queries: DataFrame, centroids: DataFrame, *, id_col: str, vec_col: str, nprobe: int
) -> _Routing:
    """Collect the centroid and query sides and route each query to its
    ``nprobe`` nearest centroids. With nprobe > 1 a query lands in several
    per-centroid blocks and the final top-k window merges its partials (no
    neighbor duplicates: each corpus row belongs to ONE cluster).
    _np_assign_topm returns the probed centroids' IDs, not positions — they
    are used verbatim; indexing cent_ids with them would silently probe the
    wrong cluster whenever ids aren't 0..n-1 in collect order."""
    cent_col = (
        F.col("centroid_id")
        if "centroid_id" in centroids.columns
        else F.col(id_col).alias("centroid_id")
    )
    cent_pd = _collect_small_side(centroids, [cent_col, F.col(vec_col)], "centroid side")
    cent_ids = cent_pd["centroid_id"].to_numpy()
    cent_mat = np.stack(cent_pd[vec_col].to_numpy()).astype(np.float64)
    q_pd = _collect_small_side(queries, [F.col(id_col), F.col(vec_col)], "query side")
    q_ids = q_pd[id_col].to_numpy()
    q_mat = np.stack(q_pd[vec_col].to_numpy()).astype(np.float64)
    q_norms = _seq_sqrt_norms(q_mat)
    members: dict = {}
    for qi, probed in enumerate(_np_assign_topm(q_mat, cent_ids, cent_mat, max(1, nprobe))):
        for c in probed:
            members.setdefault(_key(c), []).append(qi)
    q_by_cent = {
        c: (q_ids[idx], q_mat[idx], q_norms[idx])
        for c, idx in ((c, np.array(v)) for c, v in members.items())
    }
    q_id_type = queries.schema[id_col].dataType.simpleString()
    return _Routing(cent_ids, cent_mat, q_ids, q_mat, q_norms, q_id_type, q_by_cent)


def _probe_topk(
    scan: DataFrame,
    routing: _Routing,
    *,
    id_col: str,
    take: int,
    groups,
    score,
    ctx=None,
) -> DataFrame:
    """Per-partition partial top-``take`` (q_id, n_id, cos) over ``scan``,
    one vectorized Arrow stage. ``groups(pdf, ctx)`` splits a batch into
    (centroid key, rows) groups; ``score(grp, key, qm, qn, ctx)`` turns one
    group into the cosine block of the queries probing that centroid.
    ``ctx`` ships in the same broadcast as the query blocks. Total score
    work = Σ_cluster |Q_probing_c|·|C_c| — the IVF saving is real.

    Self-matches are excluded before the cut (same contract as
    brute_force_topk); non-finite scores (a zero norm gives 0/0 = NaN) are
    dropped after it. The id field types come from the actual schemas:
    hard-coding long would coerce/fail the string or int ids that id_col=
    legitimately allows."""
    bq = scan.sparkSession.sparkContext.broadcast((routing.q_by_cent, ctx))

    def search(batches):
        q_by, ctx_v = bq.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            rows_q, rows_n, rows_c = [], [], []
            for key, grp in groups(pdf, ctx_v):
                qc = q_by.get(key)
                if qc is None:
                    continue
                sub_q_ids, sub_qm, sub_qn = qc
                cos = score(grp, key, sub_qm, sub_qn, ctx_v)
                sub_nids = grp[id_col].to_numpy()
                for qi in range(len(sub_q_ids)):
                    row = cos[qi]
                    mask = sub_nids == sub_q_ids[qi]
                    if mask.any():
                        row = row.copy()
                        row[mask] = -np.inf
                    order = np.lexsort((sub_nids, -row))[:take]
                    keep = order[np.isfinite(row[order])]
                    rows_q.extend([sub_q_ids[qi]] * len(keep))
                    rows_n.extend(sub_nids[keep])
                    rows_c.extend(row[keep])
            yield pd.DataFrame({"q_id": rows_q, "n_id": rows_n, "cos": rows_c})

    n_id_type = scan.schema[id_col].dataType.simpleString()
    return fan_out_python_stage(scan).mapInPandas(
        search, schema=f"q_id {routing.q_id_type}, n_id {n_id_type}, cos double"
    )


def _merge_topk(
    partials: DataFrame, k: int, *, rank_col: str = "rank", digits: int | None = 6
) -> DataFrame:
    """Global top-k per query from the partials: row_number over
    (cos DESC, n_id), cos rounded to ``digits`` (None keeps it exact)."""
    w = W.partitionBy("q_id").orderBy(F.col("cos").desc(), F.col("n_id"))
    cos = F.col("cos") if digits is None else F.round("cos", digits).alias("cos")
    return (
        partials.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(F.col("q_id"), F.col("n_id"), cos, F.col("_rn").alias(rank_col))
    )


def _centroid_groups(pdf: pd.DataFrame, ctx):
    """Indexed probes: the stored centroid_id column groups the batch."""
    for cent, grp in pdf.groupby("centroid_id"):
        yield _key(cent), grp


def _assigned_groups(vec_col: str):
    """Transient probe: assign the batch's rows to their nearest centroid
    (``ctx`` = (centroid ids, centroid matrix)) and group on that."""

    def groups(pdf: pd.DataFrame, ctx):
        cm = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        assigned = _np_assign(cm, *ctx)
        for cent in np.unique(assigned):
            yield _key(cent), pdf[assigned == cent]

    return groups


def _float_scorer(vec_col: str):
    """Exact cosine from the stored float vectors (ordered-fold dots)."""

    def score(grp: pd.DataFrame, key, qm: np.ndarray, qn: np.ndarray, ctx) -> np.ndarray:
        cm = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
        return _seq_score_block(qm, cm) / (qn[:, None] * _seq_sqrt_norms(cm)[None, :])

    return score


def _approx_cos(
    qm: np.ndarray, qn: np.ndarray, cm: np.ndarray, cn: np.ndarray, scale=None
) -> np.ndarray:
    """Cosine block against quantized candidates: ordered-fold dots of
    ``qm`` with ``cm`` (times ``scale`` per candidate, when given) over
    |Q|·``cn``. A zero ``cn`` reads as ∞, so a zero-norm candidate scores 0,
    not NaN. The ordered fold (not BLAS matmul) breaks candidate ties
    identically across engines, which the q120/q122 SQL oracles depend on,
    and keeps scores bit-comparable with DuckDB's left-to-right list fold."""
    dots = _seq_score_block(qm, cm)
    if scale is not None:
        dots = dots * scale[None, :]
    return dots / (qn[:, None] * np.where(cn == 0.0, np.inf, cn)[None, :])


def _int8_score(grp: pd.DataFrame, key, qm: np.ndarray, qn: np.ndarray, ctx) -> np.ndarray:
    """int8 approximate cosine: x ≈ qscale·q, so cos(Q, x) ≈ (Q·q)·qscale /
    (|Q|·l2n) with l2n the stored FLOAT norm."""
    q8 = np.stack(grp["qvec"].to_numpy()).astype(np.float64)
    return _approx_cos(qm, qn, q8, grp["l2n"].to_numpy(), grp["qscale"].to_numpy())


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: route queries and corpus to centroids, then search
    only within each query's ``nprobe`` nearest clusters. Recall trades
    against the |Q|·|C| blow-up — the standard IVF bargain: nprobe=1 is the
    fastest/lowest-recall point, nprobe = n_centroids degenerates to exact
    brute force (every corpus row lives in exactly one cluster, so the
    probed union covers the corpus with no duplicates).

    Physical plan: centroids and the (small) per-cluster query blocks
    broadcast; the corpus streams once through a vectorized assign+search
    stage partitioned on centroid, emitting per-partition partial top-k; a
    final window merges. Total score work = Σ_cluster |Q_probing_c|·|C_c| —
    the IVF saving is real, not simulated, and scales down linearly in
    nprobe/n_centroids.

    SIZING RULE (measured, recall_bench.py / SCALE.md round-14): train
    K ≈ √N centroids (a few Lloyd steps; per-probe cost then ≈ N/K ≈ √N
    rows) and pick ``nprobe`` off the measured recall curve for YOUR
    corpus — recall-per-probe is a property of the data's intrinsic
    cluster structure, not of the index. On a planted-clusters ×100 corpus
    (200k×64f, K=448): separable clusters → recall@10 = 1.0 at nprobe=1,
    0.21× the exact cost; heavily overlapping clusters (noise ≈ 0.9× the
    center norm) → 0.93 at nprobe=32 (0.31×). On ISOTROPIC vectors (the
    driver's synthetic embeddings: neighbor-label agreement at chance)
    recall ≈ the scanned corpus fraction no matter how K is chosen — the
    information-theoretic floor for coarse quantization; use the exact
    kernel there. Per-call corpus assignment makes the TRANSIENT form
    uneconomical at K ≈ √N — use build_ivf_index + ivf_topk_indexed, which
    pay assignment once at build."""
    r = _route_queries(queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe)
    partials = _probe_topk(
        corpus,
        r,
        id_col=id_col,
        take=k,
        groups=_assigned_groups(vec_col),
        score=_float_scorer(vec_col),
        ctx=(r.cent_ids, r.cent_mat),
    )
    return _merge_topk(partials, k, rank_col="rk", digits=None)


def blocked_near_dup_arrow(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str = "label",
    threshold: float = 0.8,
    anchor_chunk: int = 2048,
) -> DataFrame:
    """Arrow/BLAS twin of the relational blocked near-dup plan (a self-join
    on the block column; kept as ``blocked_near_dup`` in
    tests/test_dedup_ops.py as this kernel's reference): same pair set, same
    bit-identical cosines, ~25× the throughput at sf1.0 (q36 100.7 s →
    ~4 s — the per-pair flat expression chain costs ~36 µs/pair where the
    per-block Gram accumulation costs ~1 µs/pair).

    Plan shape: ONE shuffle of (id, vec, block) keyed by block —
    applyInPandas builds each block's score matrix via the SHARED
    sequential-fold helpers (_seq_score_block/_seq_sqrt_norms), so every
    cosine stays bit-identical to the relational path and the DuckDB
    ordered-fold oracle. The join formulation shuffles BOTH sides and
    materializes pair rows through the exchange; here pairs exist only
    inside the kernel. ``anchor_chunk`` bounds kernel memory to
    O(chunk × block) doubles, so a mega-block degrades to more chunks,
    not an OOM. Blocking still bounds the quadratic term — this twin
    changes the constant, not the asymptotics (the boundary declaration
    on q36 stands; the sub-quadratic paths remain q45/q102).

    NULL blocks are dropped, matching the relational path's equi-join.
    """
    import pandas as pd

    id_t = vectors.schema[id_col].dataType.simpleString()
    blk_t = vectors.schema[block_col].dataType.simpleString()

    def kernel(pdf: "pd.DataFrame") -> "pd.DataFrame":
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"a": [], "b": [], "cos": [], "blk": []})
        x = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        ids = pdf[id_col].to_numpy()
        blk = pdf[block_col].iloc[0]
        norms = _seq_sqrt_norms(x)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n - 1, anchor_chunk):
            hi = min(lo + anchor_chunk, n - 1)
            # score anchors [lo:hi) against the full block, keep j > i
            cos = _seq_score_block(x[lo:hi], x) / (
                norms[lo:hi, None] * norms[None, :]
            )
            ii, jj = np.nonzero(
                np.triu(np.ones((hi - lo, n), dtype=bool), k=lo + 1)
            )
            c = cos[ii, jj]
            if threshold > -1.0:
                keep = c >= threshold
                ii, jj, c = ii[keep], jj[keep], c[keep]
            ai, bi = ids[ii + lo], ids[jj]
            # the relational a < b is STRICT: duplicate-id rows never pair
            neq = ai != bi
            if not neq.all():
                ai, bi, c, ii = ai[neq], bi[neq], c[neq], ii[neq]
            # a < b by ID (the relational filter's ordering), not by index
            swap = ai > bi
            if swap.any():
                ai = np.where(swap, bi, ai)
                bi = np.where(swap, ids[ii + lo], bi)
            out_a.append(ai)
            out_b.append(bi)
            out_c.append(c)
        return pd.DataFrame(
            {
                "a": np.concatenate(out_a),
                "b": np.concatenate(out_b),
                "cos": np.concatenate(out_c),
                "blk": blk,
            }
        )

    from nexgap_spark.session import adaptive_width

    # input-size-derived width (r18): same keyed exchange, fewer
    # micro-tasks on toy inputs, = core count at scale
    par = adaptive_width(vectors)
    return (
        vectors.where(F.col(block_col).isNotNull())
        .select(id_col, vec_col, block_col)
        .repartition(par, block_col)
        .groupBy(block_col)
        .applyInPandas(kernel, schema=f"a {id_t}, b {id_t}, cos double, blk {blk_t}")
        .filter(F.col("cos") >= F.lit(threshold))
    )


# ---------------------------------------------------------------------------
# Random-hyperplane (sign) LSH — the bucketed near-dup / ANN scale path.
# ---------------------------------------------------------------------------

# Deterministic integer hyperplanes shared verbatim with the DuckDB oracle:
# plane[j][i] = ((i+1)*A_j + B_j) mod 17 - 8, A/B successive primes. The
# table extends past the base 8 so `n_planes` can scale with corpus size —
# bits ≈ log2(N / target_bucket_size) keeps the expected bucket occupancy
# (and therefore pair count per bucket) constant across decades instead of
# letting candidates grow ~N²/2^bits (VERDICT r9 item 5).
_HYPERPLANE_AB = [
    (3, 1), (5, 2), (7, 3), (11, 5), (13, 7), (17, 11), (19, 13), (23, 17),
    (29, 19), (31, 23), (37, 29), (41, 31), (43, 37), (47, 41), (53, 43),
    (59, 47), (61, 53), (67, 59), (71, 61), (73, 67), (79, 71), (83, 73),
]


def hyperplanes(n: int) -> list[list[int]]:
    """First ``n`` deterministic hyperplanes (2^n sign buckets)."""
    if n > len(_HYPERPLANE_AB):
        raise ValueError(
            f"n_planes={n} exceeds the deterministic A/B table "
            f"({len(_HYPERPLANE_AB)}) — extend _HYPERPLANE_AB"
        )
    return [
        [((i + 1) * a + b) % 17 - 8 for i in range(DEFAULT_DIM)]
        for a, b in _HYPERPLANE_AB[:n]
    ]


HYPERPLANES: list[list[int]] = hyperplanes(8)


def centroid_outliers(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Per-label centroid, then each vector's Euclidean distance to its own
    centroid; returns the k farthest (mislabeled/outlier candidates).

    posexplode → groupBy(label, pos) keeps everything JVM-side; the centroid
    table is |labels|×dim rows (tiny) so the join back broadcasts. The
    explode multiplies rows ×dim before the first shuffle, but both groupBys
    partial-aggregate map-side, so the exchanges carry one row per
    (label,pos) and per (id,label) respectively — not the exploded rows.
    The final top-k is a TakeOrderedAndProject, never a global sort."""
    ex = vectors.select(
        id_col, label_col, F.posexplode(vec_col).alias("pos", "val")
    ).withColumn("val", F.col("val").cast("double"))
    cent = ex.groupBy(label_col, "pos").agg(F.avg("val").alias("c"))
    diff = F.col("val") - F.col("c")
    d = (
        ex.join(F.broadcast(cent), [label_col, "pos"])
        .groupBy(id_col, label_col)
        .agg(F.sqrt(F.sum(diff * diff)).alias("dist"))
    )
    return d.orderBy(F.col("dist").desc(), F.col(id_col)).limit(k)


def hyperplane_bucket(vec: Column, *, dim: int = DEFAULT_DIM) -> Column:
    """Sign-LSH bucket id: bit j = [vec · plane_j >= 0]; 8 planes → 256
    buckets. The dot products are flat codegen'd chains with strict
    left-to-right addition (same float discipline as `dot`), so bucket
    assignment is bit-identical to the DuckDB oracle's ordered fold."""
    bucket = F.lit(0)
    for j, plane in enumerate(HYPERPLANES):
        terms = [
            F.element_at(vec, i + 1).cast("double") * F.lit(float(plane[i]))
            for i in range(dim)
        ]
        acc = terms[0]
        for t in terms[1:]:
            acc = acc + t
        bucket = bucket + F.when(acc >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def hyperplane_lsh_pairs(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    max_bucket_size: int | None = 10_000,
    oversized: str = "salt",
    n_planes: int = 8,
) -> DataFrame:
    """Candidate pairs = same-bucket pairs (a < b) with exact cosine attached.

    One shuffle on the bucket id; candidate count is Σ_bucket |b|² / 2
    instead of |V|²/2 — with balanced buckets a 2^planes reduction, which is
    what makes all-pairs similarity tractable at corpus scale. Cosine-close
    vectors agree on most sign bits, so recall concentrates where it
    matters; raise recall by unioning rotated plane sets.

    Two Arrow stages instead of a self-join with per-pair expression chains:
    (1) mapInPandas assigns buckets, (2) groupBy(bucket).applyInPandas emits
    each bucket's upper-triangle pairs as an n×n float64 matrix accumulation.
    The expression-chain form (8×64-term bucket on both join sides + 192-term
    cosine per pair) cost 3-5 s of driver-side analysis + codegen per fresh
    plan; the numpy form keeps the plan tiny and the quadratic work
    BLAS-shaped. Accumulation is strict left-to-right over dimensions in
    float64, so cosines stay bit-identical to `dot`/`hyperplane_bucket` and
    the ordered-fold DuckDB oracle.

    ``max_bucket_size`` is the same mega-bucket guard as
    ``dedup.lsh_candidate_pairs``: a boilerplate/near-constant embedding
    cluster lands every row in ONE bucket, whose n×n pair matrix then runs
    on a single task — the genuine 100 TB blow-up for sign-LSH. Buckets
    over the cap are either ``"salt"``-split (default here, unlike minhash's
    drop: sign buckets are coarse, so whole-bucket drop loses far more
    recall) into ceil(size/cap) hash sub-buckets — pair output bounded by
    size·cap, work per task bounded by cap² — or ``"drop"``ped outright.
    Neither is silent: a ``hyperplane_bucket_cap`` observed metric carries
    affected row / approx bucket counts. ``None`` disables the guard."""
    from pyspark.sql import Window
    from pyspark.sql import types as T

    from nexgap_spark.operators.dedup import _OBSERVE_SEQ

    planes_full = np.asarray(hyperplanes(n_planes), dtype=np.float64)
    if dim > planes_full.shape[1]:
        raise ValueError(
            f"dim={dim} exceeds the built-in hyperplane width "
            f"{planes_full.shape[1]} — extend HYPERPLANES for wider vectors"
        )
    planes = planes_full[:, :dim]

    in_schema = vectors.select(id_col, vec_col).schema
    bucketed_schema = T.StructType(
        list(in_schema.fields) + [T.StructField("bucket", T.IntegerType())]
    )

    def _bucketize(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            # array<float> cells arrive as float32 numpy arrays; widen to
            # float64 first — same as element_at(vec, i).cast("double").
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            buckets = np.zeros(len(pdf), dtype=np.int64)
            for j in range(n_planes):
                acc = np.zeros(len(pdf), dtype=np.float64)
                for k in range(dim):
                    acc = acc + V[:, k] * planes[j, k]
                buckets |= (acc >= 0).astype(np.int64) << j
            out = pdf[[id_col, vec_col]].copy()
            out["bucket"] = buckets.astype(np.int32)
            yield out

    empty = pd.DataFrame(
        {
            "a": pd.Series(dtype="int64"),
            "b": pd.Series(dtype="int64"),
            "cos": pd.Series(dtype="float64"),
        }
    )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return empty
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        # honor the dim contract: bucket AND cosine both restrict to the
        # first `dim` components (full-width cosine would disagree with the
        # dot(…, dim) expression and any dim-aware oracle)
        V = np.stack(pdf[vec_col].to_numpy()[order]).astype(np.float64)[:, :dim]
        # D[i,j] accumulates v_i[k]*v_j[k] for k = 0..dim-1 IN ORDER — the
        # same sequential add order as the codegen'd chain / oracle fold.
        D = np.zeros((n, n), dtype=np.float64)
        sq = np.zeros(n, dtype=np.float64)
        for k in range(V.shape[1]):
            c = V[:, k]
            D += np.outer(c, c)
            sq += c * c
        nrm = np.sqrt(sq)
        cos = D / np.outer(nrm, nrm)
        iu, ju = np.triu_indices(n, 1)  # ids ascending → a < b
        return pd.DataFrame({"a": ids[iu], "b": ids[ju], "cos": cos[iu, ju]})

    if oversized not in ("drop", "salt"):
        raise ValueError(f"oversized must be 'drop' or 'salt', got {oversized!r}")
    bucketed = vectors.select(id_col, vec_col).mapInPandas(
        _bucketize, schema=bucketed_schema
    )
    group_keys = ["bucket"]
    if max_bucket_size is not None:
        w = Window.partitionBy("bucket")
        sized = bucketed.withColumn("_bsz", F.count(F.lit(1)).over(w))
        over = F.col("_bsz") > max_bucket_size
        affected = "dropped" if oversized == "drop" else "salted"
        sized = sized.observe(
            f"hyperplane_bucket_cap_{next(_OBSERVE_SEQ)}",
            F.sum(over.cast("long")).alias(f"{affected}_rows"),
            F.approx_count_distinct(F.when(over, F.col("bucket"))).alias(
                f"{affected}_buckets"
            ),
        )
        if oversized == "drop":
            bucketed = sized.filter(~over).drop("_bsz")
        else:
            n_sub = F.greatest(
                F.ceil(F.col("_bsz") / F.lit(max_bucket_size)), F.lit(1)
            )
            bucketed = sized.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(id_col)), n_sub).cast("int")
            ).drop("_bsz")
            group_keys = ["bucket", "_salt"]
    # pair ids inherit the input id type (see brute_force_topk): hard-coded
    # bigint silently coerced string/int ids passed via id_col=
    pair_id_type = vectors.schema[id_col].dataType.simpleString()
    # keyed repartition (r17): it satisfies the groupBy's required
    # clustering (ONE exchange either way), but its REPARTITION_BY_NUM
    # origin is exempt from AQE coalescing — the stock ENSURE_REQUIREMENTS
    # exchange looks tiny in bytes and AQE folded all 2^planes groups onto
    # ONE task, serializing the per-group Arrow/pandas overhead that
    # dominates small buckets (measured: q45 pair stage 1.08 s → parallel
    # across cores). At scale buckets are large, AQE would not coalesce,
    # and the plan is byte-identical. Width (r18): input-size-derived
    # instead of raw core count — identical at scale, fewer micro-tasks on
    # toy inputs.
    from nexgap_spark.session import adaptive_width

    par = adaptive_width(vectors)
    return (
        bucketed.repartition(par, *[F.col(k) for k in group_keys])
        .groupBy(*group_keys)
        .applyInPandas(
            _pairs, schema=f"a {pair_id_type}, b {pair_id_type}, cos double"
        )
    )


def quantize_int8_digest(
    vectors: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector L2 norm + int8 scalar-quantization digest (the storage
    prep step before shipping an embedding corpus to an ANN index):
    q_i = floor(127 * x_i / max|x| + 0.5), reported as (sum, min, max,
    saturation count) so the result is hashable scalars, not arrays.

    Arrow-batched numpy stage, partition-parallel, no shuffle. Float
    discipline: squares accumulate sequentially over dimensions so the norm
    is bit-identical to the DuckDB oracle's left-to-right list fold;
    quantized values are integers, so their aggregates are order-free.
    """

    def digest(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            nrm = _seq_sqrt_norms(m)  # shared sequential fold, oracle order
            maxabs = np.abs(m).max(axis=1)
            safe = np.where(maxabs == 0.0, 1.0, maxabs)
            q = np.floor(127.0 * m / safe[:, None] + 0.5)
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "l2_norm": np.round(nrm, 6),
                    "q_sum": q.sum(axis=1).astype(np.int64),
                    "q_min": q.min(axis=1).astype(np.int64),
                    "q_max": q.max(axis=1).astype(np.int64),
                    "n_saturated": (np.abs(q) >= 127).sum(axis=1).astype(np.int64),
                }
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        digest,
        schema="vec_id long, l2_norm double, q_sum long, q_min long, q_max long, n_saturated long",
    )


def kmeans_update(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    dim: int = DEFAULT_DIM,
) -> DataFrame:
    """One Lloyd iteration of k-means, distributed: centroids (small by
    contract) are collected once and shipped in a broadcast; a single Arrow
    stage streams the corpus partition-parallel, routes each batch to its
    nearest centroid (max cosine, ties → lowest id — `_np_assign`, the same
    bit-faithful scorer IVF uses) and accumulates per-centroid per-dimension
    PARTIAL sums map-side. The only shuffle carries k×dim partial rows per
    partition — never the corpus, never an exploded member table.

    Returns (centroid_id, pos, n_members, dim_sum): callers divide
    dim_sum/n_members for the new centroid. Exact reproducibility: member
    dims are rounded to 9dp and accumulated as SCALED int64 (x·1e9 — exact
    for float32-origin values, whose ·1e9 product fits a double mantissa),
    so partial sums are integer arithmetic and order-independent; the final
    agg divides once. Float summation would drift with shuffle order.
    """
    cent_pd = _collect_small_side(
        centroids, [F.col(centroid_id_col), F.col(vec_col)], "centroid side"
    )
    order = np.argsort(cent_pd[centroid_id_col].to_numpy(), kind="stable")
    cent_ids = cent_pd[centroid_id_col].to_numpy()[order]
    cent_mat = np.stack(cent_pd[vec_col].to_numpy()[order]).astype(np.float64)[:, :dim]
    k = len(cent_ids)

    sc = vectors.sparkSession.sparkContext
    bc = sc.broadcast((cent_ids, cent_mat))

    def partials(batches):
        c_ids, c_mat = bc.value
        counts = np.zeros(k, dtype=np.int64)
        sums = np.zeros((k, dim), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)[:, :dim]
            assigned = _np_assign(V, c_ids, c_mat)
            Vi = np.rint(V * 1e9).astype(np.int64)
            for ci in range(k):
                sel = assigned == c_ids[ci]
                n = int(sel.sum())
                if n:
                    counts[ci] += n
                    sums[ci] += Vi[sel].sum(axis=0)
        live = np.nonzero(counts)[0]
        if len(live) == 0:
            return
        yield pd.DataFrame(
            {
                "centroid_id": np.repeat(cent_ids[live], dim),
                "pos": np.tile(np.arange(dim, dtype=np.int32), len(live)),
                "n": np.repeat(counts[live], dim),
                "isum": sums[live].ravel(),
            }
        )

    part = vectors.select(id_col, vec_col).mapInPandas(
        partials, schema="centroid_id long, pos int, n long, isum long"
    )
    return (
        part.groupBy(F.col("centroid_id").alias(centroid_id_col), "pos")
        .agg(
            F.sum("n").cast("long").alias("n_members"),
            F.round(F.sum("isum") / F.lit(1e9), 6).alias("dim_sum"),
        )
    )


# ---------------------------------------------------------------------------
# IVF index persistence (round 6): build once, query many. The serving-side
# pattern a 100 TB corpus actually needs — assignment cost is paid at build
# time, and a query run reads ONLY the probed clusters' files.
# ---------------------------------------------------------------------------


def build_ivf_index(
    corpus: DataFrame,
    centroids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    engine: str = "arrow",
    quantize: bool = False,
    pq_codebooks: DataFrame | None = None,
) -> None:
    """Persist an IVF index: the corpus with its coarse-quantization
    assignment, written as parquet PARTITIONED BY centroid_id — so a
    query-time filter on probed centroids becomes partition PRUNING (the
    scan literally skips the unprobed clusters' files) — plus the centroid
    table alongside. Build cost = one assign_clusters pass + one
    centroid-keyed shuffle + one write. The shuffle matters at large K:
    without it every scan task writes a file into EVERY centroid dir
    (tasks × K small files — measured 354 s at K=448 from 32 tasks);
    repartitioning on centroid_id first writes one file per cluster.
    Assignment runs on the Arrow engine (bit-identical to the SQL plan;
    the codegen'd dot chains dominate build cost at K≈√N — see
    assign_clusters). Measured at K=448 / 200k×64f: 305 s → 17 s.

    SIZING RULE: K ≈ √N centroids (see ivf_topk's docstring for the full
    measured recall/nprobe/structure rule); the persisted probe then scans
    ~nprobe·√N rows via partition pruning, and recall@10 ≥ 0.9 costs
    ≤ 1/4 of exact search whenever the corpus has real cluster structure
    (recall_bench.py rows in SCALE.md round-14).

    ``quantize=True`` additionally stores an int8 scalar quantization per
    vector (qvec tinyint[dim] + qscale + l2n; q = floor(127·x/max|x|+0.5),
    x ≈ qscale·q — the same formula as quantize_int8_digest). The probe
    side (ivf_topk_indexed_int8) then reads ONLY the int8 columns — ~4×
    less probe IO/memory per dim at 100 TB, since parquet prunes the float
    column out of the scan — and reranks the approximate top-c in float.
    Storage grows ~1.25× (int8 + float retained for rerank/exactness);
    the memory-bound resource is the PROBE working set, which shrinks 4×.
    Measured recall/cost rows: recall_bench.py with RECALL_INT8=1
    (SCALE.md round-15).

    ``pq_codebooks`` (a (subspace, code, codeword) DataFrame from
    operators.pq) additionally stores an m-BYTE product-quantization code
    per vector (``pqcodes`` binary) and persists the codebooks alongside
    (``{path}/pq_codebooks``) — the bytes-floor probe shape
    (ivf_topk_indexed_pq reads m bytes/row where int8 reads dim and float
    reads 4·dim). Composable with ``quantize=True``: a production index
    stores all tiers and each probe's column pruning pays only for the
    tier it reads."""
    # engine="sql" is the NULL-tolerant escape hatch for dirty corpora at
    # initial build time, mirroring append_ivf_index's parameter (ADVICE
    # r14: a corpus with NULL embeddings fails inside the Arrow kernel's
    # np.stack with no override otherwise). The tolerance covers the
    # ASSIGNMENT stage only: quantize=True always requires non-NULL
    # embeddings — _quantize_stage rejects NULL rows with an actionable
    # error instead of np.stack's shape crash (ADVICE r15).
    assigned = assign_clusters(
        corpus, centroids, id_col=id_col, vec_col=vec_col, dim=dim, engine=engine
    )
    if quantize:
        assigned = _quantize_stage(assigned, vec_col=vec_col)
    if pq_codebooks is not None:
        from nexgap_spark.operators import pq as _pq

        assigned = _pq.pq_encode_stage(
            assigned, pq_codebooks, vec_col=vec_col, centroids=centroids
        )
        pq_codebooks.write.mode("overwrite").parquet(
            f"{path.rstrip('/')}/pq_codebooks"
        )
    assigned.repartition(F.col("centroid_id")).write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{path.rstrip('/')}/corpus")
    centroids.write.mode("overwrite").parquet(f"{path.rstrip('/')}/centroids")


def _quantize_stage(df: DataFrame, *, vec_col: str = "embedding") -> DataFrame:
    """Append int8 scalar-quantization columns (qvec, qscale, l2n) in one
    Arrow stage — same kernel math as quantize_int8_digest, kept off the
    HOF/codegen path for the same reason as _np_assign (the 305→17 s
    index-build lesson: per-element interpreted lambdas lose to matrix
    kernels by >10× at K≈√N scale)."""
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", qvec array<tinyint>, qscale double, l2n double"

    def run(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # quantize=True requires non-NULL embeddings regardless of the
            # assignment engine: engine="sql" tolerates NULLs at ASSIGNMENT
            # (NULL similarity), but a NULL row reaching np.stack here would
            # crash with an opaque shape error — and silently dropping rows
            # from an index would be worse. Fail with the fix spelled out
            # (r15 review).
            nulls = pdf[vec_col].isna()
            if nulls.any():
                raise ValueError(
                    f"quantize=True requires non-NULL {vec_col!r} values: "
                    f"{int(nulls.sum())} NULL embedding row(s) reached the "
                    "quantization stage. Filter NULL embeddings before "
                    "build_ivf_index/append_ivf_index, or build the index "
                    "with quantize=False."
                )
            m = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            maxabs = np.abs(m).max(axis=1)
            safe = np.where(maxabs == 0.0, 1.0, maxabs)
            q = np.floor(127.0 * m / safe[:, None] + 0.5).astype(np.int8)
            pdf = pdf.copy()
            pdf["qvec"] = list(q)
            pdf["qscale"] = safe / 127.0
            pdf["l2n"] = _seq_sqrt_norms(m)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


def load_ivf_index(spark, path: str) -> tuple[DataFrame, DataFrame]:
    """(assigned corpus, centroids) back from build_ivf_index's layout."""
    root = path.rstrip("/")
    return spark.read.parquet(f"{root}/corpus"), spark.read.parquet(f"{root}/centroids")


def append_ivf_index(
    new_vectors: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = DEFAULT_DIM,
    engine: str = "arrow",
) -> None:
    """Incremental index growth — the continuous-ingest twin of
    build_ivf_index (same family as the incremental dedup ledgers): route
    ONLY the new batch to the EXISTING centroids and append its rows into
    the partitioned corpus layout. Per-batch cost ∝ batch size; the
    resident corpus is never re-read or re-written, and queries see the
    union immediately (the partition-pruned scan picks up the new files).
    Centroids stay fixed between rebuilds — standard IVF serving practice;
    recall drifts only as the new data's distribution leaves the trained
    quantizer, which is a rebuild trigger, not an append concern.

    Same two scale fixes as build_ivf_index (r14 review): Arrow-engine
    assignment (the SQL dot chains dominate at K≈√N) and a centroid-keyed
    repartition before the write (without it every append task drops a
    file into every centroid dir — tasks×K small files per batch,
    progressively shredding the pruned layout). The Arrow engine rejects
    NULL embeddings loudly (np.stack); pass ``engine="sql"`` to keep the
    old tolerate-NULL-similarity behavior for dirty batches — at the
    ASSIGNMENT stage only. Appending into a quantize=True index forces
    quantization of the batch (below), and the quantize stage rejects NULL
    embeddings with an actionable error under either engine (ADVICE r15):
    filter NULLs first when appending dirty batches to a quantized index."""
    spark = new_vectors.sparkSession
    root = path.rstrip("/")
    centroids = spark.read.parquet(f"{root}/centroids")
    assigned = assign_clusters(
        new_vectors, centroids, id_col=id_col, vec_col=vec_col, dim=dim,
        engine=engine,
    )
    # a quantize=True index must STAY quantized: appending rows without
    # qvec/qscale/l2n would NULL those columns on the new files and crash
    # (or mislead) the next int8 probe (r15 review)
    existing_cols = spark.read.parquet(f"{root}/corpus").columns
    if "qvec" in existing_cols:
        assigned = _quantize_stage(assigned, vec_col=vec_col)
    # the same staying-power contract for PQ codes: the batch is encoded
    # against the index's PERSISTED codebooks (codebooks stay fixed between
    # rebuilds, exactly like the centroids — the recall-drift/rebuild note
    # above covers both quantizers)
    if "pqcodes" in existing_cols:
        from nexgap_spark.operators import pq as _pq

        assigned = _pq.pq_encode_stage(
            assigned,
            spark.read.parquet(f"{root}/pq_codebooks"),
            vec_col=vec_col,
            centroids=centroids,
        )
    assigned.repartition(F.col("centroid_id")).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(f"{root}/corpus")


def ivf_topk_indexed(
    queries: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k against a PERSISTED index: route each query to its
    ``nprobe`` nearest centroids (driver-side over the small centroid
    table), filter the partitioned corpus to the probed centroid ids —
    partition pruning, the real IO saving — then stream the pruned scan
    once through the same vectorized (BLAS-shaped) search stage ivf_topk
    uses, emitting per-partition partial top-k that a final window merges.

    The scoring deliberately does NOT run as a broadcast join with
    codegen'd 64-term dot expressions: at emb ×100 that plan evaluated
    ~200 M pair dots element-at-a-time in the JVM (242 s); the Arrow stage
    does the identical ordered-fold arithmetic as matrix blocks (3 s).

    Same semantics as ivf_topk at equal (centroids, nprobe); at
    nprobe = n_centroids it degenerates to exact brute force."""
    corpus, centroids = load_ivf_index(queries.sparkSession, index_path)
    r = _route_queries(queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe)
    partials = _probe_topk(
        r.prune(corpus),
        r,
        id_col=id_col,
        take=k,
        groups=_centroid_groups,
        score=_float_scorer(vec_col),
    )
    return _merge_topk(partials, k)


def ivf_topk_indexed_int8(
    queries: DataFrame,
    index_path: str,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 3,
    nprobe: int = 1,
    rerank_factor: int = 4,
) -> DataFrame:
    """Memory-bound ANN probe against a quantize=True index: the probed
    partitions are scanned reading ONLY (id, qvec, qscale, l2n) — parquet
    column pruning drops the float vectors, so the probe working set is
    ~4x smaller per dimension — candidates are ranked by int8 approximate
    cosine, the global top rerank_factor*k per query are RERANKED with the
    float vectors (a second, candidate-filtered read of the probed
    partitions), and the exact-scored top-k is emitted.

    MEASURED BYTES RULE (round 16, JVM-rchar bytes-read deltas on the
    1M x 768d clustered corpus — RECALL_INT8_HIGHDIM_r16.json, SCALE.md
    round-16 table): in a pure-parquet deployment the rerank's
    candidate-filtered float read still SCANS the float column of every
    probed partition (the id filter evaluates after page decode; candidate
    ids are scattered, so row-group stats can't prune), so rerank_factor>=1
    reads 1.0-1.15x the FLOAT probe's bytes — it buys exact final scores,
    not IO. Pass ``rerank_factor=0`` for the real saving: rank by the int8
    approximate cosine alone, never touching the float column (plan-audited
    in tests) — measured 3.4-4.7x fewer bytes AND 1.25-1.6x faster wall
    than the float probe at every nprobe at 768 dims, where the probe is
    scan/decode-bound. That is the crossover's far side: at 64 dims
    (CPU-bound kernel, r15) int8 paid ~1.5x wall for the same recall; at
    768 dims it wins both axes. Recall: int8+rerank is IDENTICAL to the
    float probe at every nprobe in every measured regime; int8-only
    ranking gives up <=1.8 recall points (0.9723 -> 0.9546 at nprobe=4).
    At 100 TB: serve the int8 index hot with rerank_factor=0; add the
    rerank only where floats live in a point-lookup store (not a parquet
    scan) or score exactness is contractual.

    int8 approximation: x ~ qscale*q, so cos(Q, x) ~ (Q.q)*qscale /
    (|Q|*l2n) with l2n the stored FLOAT norm — scale cancellation keeps
    ranking error to the quantization noise of the dot product only.
    Contract: at nprobe = n_centroids and rerank_factor*k >= corpus size,
    the output equals brute_force_topk exactly (the rerank is exact float
    arithmetic via the shared _seq_score_block kernel); tests pin this.
    """
    spark = queries.sparkSession
    corpus, centroids = load_ivf_index(spark, index_path)
    if "qvec" not in corpus.columns:
        raise ValueError(
            "index has no int8 columns; build with build_ivf_index(..., "
            "quantize=True)"
        )
    r = _route_queries(queries, centroids, id_col=id_col, vec_col=vec_col, nprobe=nprobe)
    c_take = max(k, rerank_factor * k)

    # ---- int8 candidate scan: float column NEVER read here ----------------
    partials = _probe_topk(
        r.prune(corpus).select(id_col, "centroid_id", "qvec", "qscale", "l2n"),
        r,
        id_col=id_col,
        take=c_take,
        groups=_centroid_groups,
        score=_int8_score,
    )
    if rerank_factor == 0:
        # int8-only ranking: the float column is NEVER read — the measured
        # 4x-bytes serving shape (docstring rule). cos is the int8
        # APPROXIMATE cosine; ids carry the same recall as the float probe
        # on every measured regime.
        return _merge_topk(partials, k)
    cand = _merge_topk(partials, c_take).select("q_id", "n_id")

    # ---- float rerank: only the candidates' vectors are read --------------
    pruned_f = r.prune(corpus).select(F.col(id_col).alias("n_id"), vec_col)
    cand_vec = cand.join(pruned_f, "n_id")
    q_lookup = {qid: (r.q_mat[i], r.q_norms[i]) for i, qid in enumerate(r.q_ids)}
    bql = spark.sparkContext.broadcast(q_lookup)

    def rerank(batches):
        lookup = bql.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            outs = []
            # block per query: one (1,d)@(d,n) kernel per group instead of
            # a per-row Python loop of 1x1 matmuls (r15 review — the same
            # interpreted-vs-kernel lesson _quantize_stage cites); the
            # left-to-right dimension fold is identical, so scores stay
            # bit-equal to brute_force_topk
            for qid, grp in pdf.groupby("q_id", sort=False):
                qv, qn = lookup[qid]
                cm = np.stack(grp[vec_col].to_numpy()).astype(np.float64)
                cn = _seq_sqrt_norms(cm)
                dots = _seq_score_block(qv[None, :], cm)[0]
                denom = qn * cn
                with np.errstate(divide="ignore", invalid="ignore"):
                    cos = np.where(denom > 0, dots / denom, np.nan)
                res = grp[["q_id", "n_id"]].copy()
                res["cos"] = cos
                outs.append(res[np.isfinite(cos)])
            if outs:
                yield pd.concat(outs, ignore_index=True)

    n_id_type = corpus.schema[id_col].dataType.simpleString()
    rescored = cand_vec.mapInPandas(
        rerank, schema=f"q_id {r.q_id_type}, n_id {n_id_type}, cos double"
    )
    return _merge_topk(rescored, k)


def semantic_dedup(
    vectors: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = DEFAULT_DIM,
    max_cluster_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: route every vector to its
    nearest centroid (assign_clusters — broadcast, one corpus pass), then
    compare pairs ONLY within a cluster and drop the higher id of any pair
    at/over ``threshold`` cosine. The clustering is the scale trick: the
    quadratic pair scan runs per cluster (Σ|c|² work, parallel across
    clusters), never over the corpus — with k chosen so clusters are
    ~|V|/k, the cost is |V|²/k instead of |V|². Keeps min-id-survives
    determinism (the same one-pass rule as incremental_minhash; the
    transitive end-product is dup_groups' job).

    ``max_cluster_size`` guards the mega-cluster failure mode (an
    embedding-collapsed boilerplate flood routes to ONE centroid): clusters
    above the cap are salt-split into hash sub-clusters, bounding per-task
    pairs by size·cap at the cost of cross-sub-cluster recall (same
    treatment as lsh_candidate_pairs' salt mode, observed metric included).
    Zero-norm vectors produce NaN cosine and are never dropped (explicitly
    filtered — Spark would otherwise order NaN above every threshold).

    Returns the kept rows of ``vectors``. Reference scope note: the
    reference has no embedding pipeline; this is a scale extension
    (SemDeDup, Abbas et al. 2023) built from assign_clusters +
    the bit-stable cosine used across the similarity stack."""
    from nexgap_spark.operators.dedup import cap_partition_size

    # routing via the Arrow/numpy twin of assign_clusters (_np_assign —
    # same max-cos / lowest-id tiebreak, same sequential fold): the
    # centroid table is small by contract (IVF pattern, _collect_small_side
    # enforces it), and a vectorized |batch|×k score block beats the
    # broadcast-join 64-term expression chains ~5× measured at sf0.1
    cent_pd = _collect_small_side(
        centroids, [F.col("centroid_id"), F.col(vec_col)], "centroid side"
    )
    cent_pd = cent_pd[
        cent_pd[vec_col].map(lambda v: v is not None and len(v) >= dim)
    ]
    if len(cent_pd) == 0:
        # no usable centroids → nothing clusters → nothing can be dropped
        # (the old join form produced an empty join; keep that contract)
        return vectors
    cent_ids = cent_pd["centroid_id"].to_numpy()
    cent_mat = np.array(
        [np.asarray(v, dtype=np.float64)[:dim] for v in cent_pd[vec_col]]
    )
    # Closure capture, NOT sparkContext.broadcast: an explicit broadcast
    # would need a matching unpersist after the (lazy) result materializes
    # or it accumulates blocks across calls in a long-lived driver; the
    # centroid side is small by contract (_collect_small_side cap), so
    # shipping it inside the serialized task closure — like every other
    # mapInPandas helper in this module — has the same per-stage cost with
    # no lifetime to manage.
    id_type = dict(vectors.dtypes)[id_col]
    vec_type = dict(vectors.dtypes)[vec_col]
    cid_type = dict(centroids.dtypes)["centroid_id"]

    def _mat(vals) -> np.ndarray:
        # per-row slice-then-array: tolerant of ragged lengths ≥ dim where
        # np.stack would raise on the whole batch
        return np.array([np.asarray(v, dtype=np.float64)[:dim] for v in vals])

    def route(batches):
        c_ids, c_mat = cent_ids, cent_mat
        for pdf in batches:
            # NULL/short embeddings can't be clustered, so they can't be
            # dropped: leaving them out of the assignment keeps them in the
            # final anti-join output — the old NULL-cosine contract, and a
            # crash here would fail the whole dedup for one bad row
            ok = pdf[vec_col].map(lambda v: v is not None and len(v) >= dim)
            pdf = pdf[ok]
            if len(pdf) == 0:
                continue
            V = _mat(pdf[vec_col])
            pdf = pdf[[id_col, vec_col]].copy()
            pdf["centroid_id"] = _np_assign(V, c_ids, c_mat)
            yield pdf

    assigned = fan_out_python_stage(vectors.select(id_col, vec_col)).mapInPandas(
        route,
        schema=f"{id_col} {id_type}, {vec_col} {vec_type}, centroid_id {cid_type}",
    )
    assigned, part_keys = cap_partition_size(
        assigned,
        ["centroid_id"],
        max_cluster_size,
        mode="salt",
        metric_prefix="semantic_dedup_cluster_cap",
        id_col=id_col,
    )
    # The within-cluster pair scan is ONE Arrow stage per cluster (the
    # brute_force_topk design): a vectorized score block beats the per-pair
    # 64-term expression-chain join by ~6× measured at sf0.1 (8.3 s →
    # ~1.4 s), and the sequential-fold helpers keep every cosine
    # bit-identical to the ordered-fold SQL oracle. Each 512-row block only
    # scores against V[i0:] (the lower triangle is never read), so the
    # block matrix tops out at 512·cap·8 B ≈ 40 MB at the 10k default cap
    # and the flop count is the triangle, not the square.

    def cluster_drops(ids: np.ndarray, vecs: np.ndarray) -> list:
        # one cluster's triangular scan: identical math/order to the r17
        # per-group kernel (sorted ids, 512-row blocks, upper triangle)
        if len(ids) < 2:
            return []
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        V = _mat(vecs[order])
        norms = _seq_sqrt_norms(V)
        dropped: set = set()
        for i0 in range(0, len(ids), 512):
            blk = V[i0 : i0 + 512]
            cos = _seq_score_block(blk, V[i0:]) / (
                norms[i0 : i0 + 512, None] * norms[None, i0:]
            )
            for r in range(blk.shape[0]):
                row = cos[r, r + 1 :]  # j > i in sorted-id order → drop j
                # ~isnan (not isfinite): +inf compares ≥ threshold in both
                # engines' `isnan(cos) = false AND cos >= t` — match it
                hits = np.nonzero(~np.isnan(row) & (row >= threshold))[0]
                dropped.update(ids[i0 + r + 1 + hits])
        return sorted(dropped)

    # Partition-level batched kernel (r18, guide §4.1): the r17 shape was
    # groupBy(part_keys).applyInPandas — ONE Arrow batch + Python call per
    # CLUSTER, so at k ≫ cores the per-group Arrow round-trip dominated
    # (the r17 verdict's named open item). Clusters are now hash-clustered
    # and sorted within partitions, and ONE mapInPandas kernel walks each
    # partition's clusters off contiguous runs — same per-cluster
    # triangular scan, but the Arrow boundary is paid per ~10k-row batch
    # instead of per cluster. A cluster can span Arrow batches, so the
    # trailing (possibly incomplete) run is carried into the next batch;
    # the cluster-size cap bounds the carry. Same exchange count as
    # before (one keyed shuffle); width is input-size-derived.
    from nexgap_spark.session import adaptive_width

    packed = (
        assigned.select(*part_keys, id_col, vec_col)
        .repartition(adaptive_width(vectors), *[F.col(k) for k in part_keys])
        .sortWithinPartitions(*part_keys)
    )

    def partition_drops(batches):
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            # sorted input → the last cluster is the contiguous tail whose
            # keys equal the last row's; it may continue in the next batch
            tail = np.ones(len(pdf), dtype=bool)
            for k in part_keys:
                col = pdf[k].to_numpy()
                tail &= col == col[-1]
            carry = pdf.iloc[len(pdf) - int(tail[::-1].cumprod().sum()) :]
            head = pdf.iloc[: len(pdf) - len(carry)]
            if len(head) == 0:
                continue
            out: list = []
            for _, grp in head.groupby(list(part_keys), sort=False):
                out.extend(
                    cluster_drops(
                        grp[id_col].to_numpy(), grp[vec_col].to_numpy()
                    )
                )
            if out:
                yield pd.DataFrame({id_col: out})
        if carry is not None and len(carry):
            out = cluster_drops(
                carry[id_col].to_numpy(), carry[vec_col].to_numpy()
            )
            if out:
                yield pd.DataFrame({id_col: out})

    dropped = packed.mapInPandas(partition_drops, schema=f"{id_col} {id_type}")
    return vectors.join(dropped.distinct(), id_col, "left_anti")
