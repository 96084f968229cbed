"""Similarity search over embedding columns: exact top-k + LSH scale path.

Complements :mod:`sssom_curator_spark.operators.embedding` (the reference's
J4 broadcast cosine join). Two regimes:

- ``cosine_topk_exact``: brute-force cosine top-k. Pure column algebra
  (``zip_with`` dot product inside codegen) when both sides join-able, or
  the broadcast-matmul pandas UDF from ``embedding_similarity_join`` when
  the corpus side is broadcastable. The JVM variant is the DuckDB-oracle
  baseline.
- ``cosine_topk_lsh``: random-hyperplane LSH — deterministic planes seeded
  from md5, signature = sign-bit string, candidates share a band prefix,
  rerank candidates exactly. At 100 TB the bucket join shuffles only
  (corpus × bands) rows and never materializes the n² pair space.
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sssom_curator_spark import fan_out

__all__ = [
    "cosine_sim_col",
    "cosine_topk_exact",
    "cosine_topk_lsh",
    "cosine_topk_ivf",
    "cosine_near_duplicates",
]


def cosine_sim_col(a: Column, b: Column, *, decimals: int = 4) -> Column:
    """JVM-side cosine similarity of two array<numeric> columns.

    ``zip_with`` + ``aggregate`` keep the whole expression in codegen —
    no Python. Rounded for cross-engine comparability.
    """
    da = F.transform(a, lambda x: x.cast("double"))
    db = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(da, db, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(da, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(db, F.lit(0.0), lambda s, x: s + x * x))
    denom = na * nb
    sim = F.when(denom > 0, dot / denom).otherwise(F.lit(0.0))
    return F.round(sim, decimals)


def cosine_topk_exact(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: query × corpus join, windowed rank.

    Output ``(query_id, neighbor_id, cosine, rank)``; ties broken by
    neighbor id for full determinism. The crossJoin is explicit and
    intentional (the exact baseline); the LSH variant is the scale path.
    """
    # either side may be the streamed one of the nested-loop join
    q = fan_out(queries, id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = fan_out(corpus, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("_cv")
    )
    scored = (
        q.crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_sim_col(F.col("_qv"), F.col("_cv")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


@lru_cache(maxsize=8)
def _hyperplanes(dim: int, n_planes: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes: component (p, d) from
    md5(p|d) mapped to [-1, 1]. No RNG state, identical on every executor
    (rebuilt worker-side from the seed rule, cached per process).

    Construction is batched: one incremental-md5 prefix per plane row is
    ``copy()``-ed per component (the hash of ``"p|"`` is shared across the
    row), the first 4 digest bytes read as a big-endian uint32 (== the
    first 8 hex chars), and the [-1, 1] mapping applied as one vectorized
    expression — so first-batch latency at production dims (4096-d × 16
    planes ≈ 65k components) is negligible. Values are bit-identical to
    the original per-element ``int(md5(f"{p}|{d}").hexdigest()[:8], 16)``
    rule (pinned by tests/test_embedding.py::test_hyperplane_seed_rule).
    """
    suffixes = [str(d).encode() for d in range(dim)]
    rows = []
    for p in range(n_planes):
        prefix = hashlib.md5(f"{p}|".encode())
        row = [
            int.from_bytes(_upd(prefix.copy(), s).digest()[:4], "big")
            for s in suffixes
        ]
        rows.append(row)
    return np.asarray(rows, dtype=np.float64) / 0x7FFFFFFF - 1.0


def _upd(h, data: bytes):
    h.update(data)
    return h


def _signature_udf(n_planes: int, counter=None):
    """Arrow-batched scalar UDF: embedding → ``n_planes``-char sign-bit
    string (``"1"`` where ``vec · plane_p ≥ 0``).

    Scale design: the plane matrix NEVER enters the Catalyst plan — at
    production dims (768–4096) embedding it as column literals would put
    n_planes×dim expression nodes into analysis/codegen (plan-size blowup,
    methods too large to JIT). Instead each python worker rebuilds the
    deterministic matrix once (lru_cache above) and every Arrow batch does
    ONE ``(batch × dim) @ (dim × n_planes)`` matmul; the bit-string
    assembly is vectorized (byte matrix → fixed-width S-string view), so
    there is no per-row Python anywhere. Plan size is O(1) in dim.

    The dimension is inferred from the data batch-side, so empty inputs
    flow through as empty results with no driver-side ``first()`` probe.

    ``counter`` is a test hook: an optional Spark accumulator incremented
    by the number of vectors each batch signs — used to pin that the
    signature stage executes exactly once per corpus row (the persisted
    banded frame in the near-dup self-join must not recompute it).
    """

    @F.pandas_udf(T.StringType())
    def sig(vs: pd.Series) -> pd.Series:
        if counter is not None:
            counter.add(len(vs))
        if vs.empty:
            return pd.Series([], dtype=object)
        if vs.isna().any():
            raise ValueError(
                "LSH signature input contains a null embedding vector; "
                "filter nulls before cosine_topk_lsh/cosine_near_duplicates"
            )
        mat = np.array(vs.tolist(), dtype=np.float64)
        planes = _hyperplanes(mat.shape[1], n_planes)
        bits = (mat @ planes.T) >= 0  # (batch, n_planes)
        chars = np.where(bits, np.uint8(ord("1")), np.uint8(ord("0")))
        packed = np.frombuffer(
            np.ascontiguousarray(chars).tobytes(), dtype=f"S{n_planes}"
        )
        return pd.Series(packed).str.decode("ascii")

    return sig


def _banded(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    n_planes: int,
    bands: int,
    id_alias: str,
    counter=None,
) -> DataFrame:
    """``(id_alias, band, key)`` rows: one row per (vector, band), key =
    that band's slice of the sign-bit signature. The exploded frame carries
    only the id and a ≤n_planes-char string — the embedding itself never
    rides through the bucket join or the candidate distinct."""
    rows_per_band = n_planes // bands
    with_sig = df.select(
        F.col(id_col).alias(id_alias),
        _signature_udf(n_planes, counter)(F.col(vec_col)).alias("_sig"),
    )
    bandcols = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("_sig", b * rows_per_band + 1, rows_per_band).alias("key"),
        )
        for b in range(bands)
    ]
    return with_sig.select(
        id_alias, F.explode(F.array(*bandcols)).alias("bk")
    ).select(id_alias, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


def _rerank_pairs(
    pairs: DataFrame,
    left: DataFrame,
    right: DataFrame,
    *,
    left_key: str,
    right_key: str,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact-cosine rerank of an id-pair candidate frame with per-VECTOR
    precomputed double-casts and norms: candidate sets are orders of
    magnitude larger than the corpus (every pair re-reads two vectors), so
    folding the cast and both norm aggregations into the side frames cuts
    the per-pair higher-order-function work to ONE dot product. The
    doubles and their sequential summation order are exactly those of
    :func:`cosine_sim_col`, so scores are bit-identical to the per-pair
    formulation (and to the DuckDB oracle replays)."""
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(dvec, F.lit(0.0), lambda s, x: s + x * x))
    lv = left.select(F.col(id_col).alias(left_key), dvec.alias("_lv"), norm.alias("_ln"))
    rv = right.select(F.col(id_col).alias(right_key), dvec.alias("_rv"), norm.alias("_rn"))
    dot = F.aggregate(
        F.zip_with(F.col("_lv"), F.col("_rv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    denom = F.col("_ln") * F.col("_rn")
    sim = F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 4)
    return (
        pairs.join(lv, on=left_key)
        .join(rv, on=right_key)
        .select(left_key, right_key, sim.alias("cosine"))
    )


def cosine_topk_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "embedding",
    n_planes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH bucketing.

    Signature = ``n_planes`` sign bits, split into ``bands`` prefixes; a
    corpus row is a candidate for a query iff they share any band value.
    Candidates rerank with the exact JVM cosine. Recall is tunable via
    (n_planes, bands); the shuffle is per-band bucket-sized.

    Scale shape: signatures come from one Arrow-batch matmul per batch
    (plan size O(1) in dim — see :func:`_signature_udf`); the bucket join
    and the candidate ``distinct`` carry ONLY id pairs (never embedding
    payloads — at 768-d that would be ~6 KB of shuffle per candidate row);
    vectors re-attach afterwards by joining back to the embedding frames,
    exactly as the DuckDB oracle replays it.
    """
    qb = _banded(
        queries, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, bands=bands, id_alias="query_id",
    )
    cb = _banded(
        corpus, id_col=id_col, vec_col=vec_col,
        n_planes=n_planes, bands=bands, id_alias="neighbor_id",
    )
    cand = (
        qb.join(cb, on=["band", "key"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    scored = _rerank_pairs(
        cand, queries, corpus,
        left_key="query_id", right_key="neighbor_id",
        id_col=id_col, vec_col=vec_col,
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 10,
    id_col: str = "id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """Approximate cosine top-k via IVF (inverted-file) partitioning — the
    second ANN scale path beside :func:`cosine_topk_lsh`.

    Index build: ``n_centroids`` deterministic seed centroids (the corpus
    vectors with the smallest ``md5(id)`` — no RNG, replayable in SQL);
    every corpus vector is assigned to its nearest centroid (one Arrow
    matmul per batch against the broadcast centroid matrix — ties broken
    by centroid id). Search: each query probes its ``n_probe`` nearest
    centroids and reranks only the vectors in those cells exactly.

    Scale shape: the centroid matrix is centroid-count-sized (collected +
    broadcast once); assignment is embarrassingly parallel; the only
    shuffle is the (cell-id → candidates) equi-join, sized at
    ``|corpus| × n_probe / n_centroids`` rows per query — never n². No
    candidate ``distinct`` is needed at all: a corpus row lives in exactly
    one cell and a query probes distinct cells, so pairs are unique by
    construction. Assignment scores are rounded to 6 decimals before the
    argmax so engine/oracle float-summation-order differences cannot flip
    near-tied cells.

    Output ``(query_id, neighbor_id, cosine, rank)`` like the other top-k
    variants; recall is tunable via (n_centroids, n_probe).
    """
    spark = corpus.sparkSession
    seed_rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.md5(F.col(id_col).cast("string").cast("binary")), F.col(id_col))
        .limit(n_centroids)
        .collect()
    )
    if not seed_rows:
        id_type = dict(zip(queries.schema.names, queries.schema.fields))[id_col].dataType
        return spark.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField("query_id", id_type),
                    T.StructField("neighbor_id", id_type),
                    T.StructField("cosine", T.DoubleType()),
                    T.StructField("rank", T.IntegerType()),
                ]
            ),
        )
    cent_ids = [str(r[id_col]) for r in seed_rows]
    cent_mat = np.array([r[vec_col] for r in seed_rows], dtype=np.float64)
    norms = np.linalg.norm(cent_mat, axis=1)
    norms[norms == 0] = 1.0
    cent_mat = (cent_mat.T / norms).T
    # centroid columns ordered by id so a stable argsort breaks score ties
    # by centroid id ascending — deterministic and SQL-replayable
    order = np.argsort(np.array(cent_ids, dtype=object))
    cent_ids = [cent_ids[i] for i in order]
    cent_mat = cent_mat[order]
    bc = spark.sparkContext.broadcast((cent_ids, cent_mat))

    def _cell_scores(vs: pd.Series) -> np.ndarray:
        _, mat = bc.value
        v = np.array(vs.tolist(), dtype=np.float64)
        vn = np.linalg.norm(v, axis=1)
        vn[vn == 0] = 1.0
        v = (v.T / vn).T
        return np.round(v @ mat.T, 6)  # (batch, n_centroids)

    @F.pandas_udf(T.StringType())
    def assign_cell(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype=object)
        ids, _ = bc.value
        scores = _cell_scores(vs)
        best = np.argmax(scores, axis=1)  # first max = smallest centroid id
        return pd.Series([ids[i] for i in best])

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def probe_cells(vs: pd.Series) -> pd.Series:
        if vs.empty:
            return pd.Series([], dtype=object)
        ids, _ = bc.value
        scores = _cell_scores(vs)
        # stable argsort of -scores: ties fall back to column order = id asc
        top = np.argsort(-scores, axis=1, kind="stable")[:, :n_probe]
        return pd.Series([[ids[j] for j in row] for row in top])

    # cast + norm computed once per VECTOR before the cell join (the join
    # fans each vector out to every probe match — per-pair norms would
    # redo both aggregations per candidate); doubles and summation order
    # match cosine_sim_col exactly, so scores are bit-identical.
    dvec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    vnorm = F.sqrt(F.aggregate(dvec, F.lit(0.0), lambda s, x: s + x * x))
    assigned = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        dvec.alias("_cv"),
        vnorm.alias("_cn"),
        assign_cell(F.col(vec_col)).alias("cell"),
    )
    probed = queries.select(
        F.col(id_col).alias("query_id"),
        dvec.alias("_qv"),
        vnorm.alias("_qn"),
        F.explode(probe_cells(F.col(vec_col))).alias("cell"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), F.col("_cv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    denom = F.col("_qn") * F.col("_cn")
    sim = F.round(F.when(denom > 0, dot / denom).otherwise(F.lit(0.0)), 4)
    scored = (
        probed.join(assigned, on="cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", sim.alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_near_duplicates(
    df: DataFrame,
    *,
    id_col: str = "id",
    vec_col: str = "embedding",
    cutoff: float = 0.9,
    n_planes: int = 16,
    bands: int = 4,
    _sig_counter=None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: ``(doc_a, doc_b, cosine)``
    with ``doc_a < doc_b`` and cosine ≥ ``cutoff`` — the embedding member
    of the dedup family (exact/MinHash/SimHash/Jaccard siblings in
    :mod:`sssom_curator_spark.operators.dedup`).

    Candidates come from the same md5-seeded random-hyperplane banding as
    :func:`cosine_topk_lsh`: one Arrow-batch signature pass (plan size
    O(1) in dim), then one ``applyInPandas`` per (band, key) bucket that
    receives the bucket's (id, vector) rows — the only shuffle — and
    scores every in-bucket pair there (a matmul pre-filter, then an exact
    sequential rescore), returning only pairs near the cutoff. No
    candidate pair crosses an exchange and no vector is re-attached by a
    join. The authoritative ``round(cosine, 4) >= cutoff`` filter and the
    cross-band dedup run in the JVM. Recall is tunable via (n_planes,
    bands); near-duplicates (cosine → 1) collide in every band by
    construction.
    """
    # Plan shape (r06 rewrite — guide §2.3/§4.2): the old form
    # materialized the FULL candidate id-pair space through a JVM
    # self-join + distinct + localCheckpoint (46.6M rows at sf1.0), then
    # re-attached both vectors per pair and evaluated the dot product
    # with interpreted higher-order functions — 85-110 s at sf1.0, ~40 s
    # of which was shuffling/materializing pairs that exist only to be
    # scored and discarded. Candidate pairs within one LSH bucket need
    # nothing outside that bucket, so the pair generation + exact rerank
    # now run INSIDE one ``applyInPandas`` per (band, key) group: each
    # bucket ships its (id, vector) rows once (the only shuffle), scores
    # all in-bucket pairs with vectorized numpy, and returns only pairs
    # at the cutoff — the quadratic pair stream never crosses an
    # exchange, never hits Python row-at-a-time, and never materializes.
    #
    # Bit-exactness (the DuckDB oracle replays the JVM arithmetic): dots
    # and norms use ``np.cumsum`` along the vector axis — sequential
    # left-to-right float64 addition, the exact summation order of
    # ``F.aggregate``'s fold in :func:`cosine_sim_col` — and the Python
    # side filters at ``cutoff - 5.1e-5`` (a HALF_UP round to 4 dp can
    # raise a value by at most 5e-5), while the authoritative
    # ``round(sim, 4) >= cutoff`` filter and the cross-band dedup stay in
    # the JVM. The signature UDF still runs exactly once per corpus row
    # (single-consumer chain, no self-join clone) — pinned by
    # tests/test_embedding.py::test_cosine_neardup_single_signature_scan.
    rows_per_band = n_planes // bands
    with_sig = df.select(
        F.col(id_col).alias("_bid"),
        F.col(vec_col).alias("_vec"),
        _signature_udf(n_planes, _sig_counter)(F.col(vec_col)).alias("_sig"),
    )
    bandcols = [
        F.struct(
            F.lit(b).alias("band"),
            F.substring("_sig", b * rows_per_band + 1, rows_per_band).alias("key"),
        )
        for b in range(bands)
    ]
    banded = with_sig.select(
        "_bid", "_vec", F.explode(F.array(*bandcols)).alias("bk")
    ).select(
        "_bid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"), "_vec"
    )

    id_type = df.schema[id_col].dataType
    out_schema = T.StructType(
        [
            T.StructField("doc_a", id_type),
            T.StructField("doc_b", id_type),
            T.StructField("_sim", T.DoubleType()),
        ]
    )
    margin = cutoff - 5.1e-5

    def bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"doc_a": [], "doc_b": [], "_sim": []})
        n_rows = len(pdf)
        if n_rows < 2:
            return empty
        ids = pdf["_bid"].to_numpy()
        # pair orientation must match the JVM's ``l._bid < r._bid``:
        # numeric ids compare numerically; strings lexicographically
        # (numpy object-array sort = Python str <, which equals Spark's
        # UTF8 byte order — UTF-8 is code-point order preserving)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        mat = np.array(pdf["_vec"].to_numpy()[order].tolist(), dtype=np.float64)
        # sequential-sum norms: cumsum == the fold's left-to-right adds
        norms = np.sqrt(np.cumsum(mat * mat, axis=1)[:, -1])
        out_a, out_b, out_s = [], [], []
        dim = mat.shape[1]
        # Two-phase scoring, exact by construction:
        # 1. a BLAS matmul computes every pairwise dot FAST but in an
        #    unspecified summation order; |matmul − sequential| is bounded
        #    by dim·ulp·Σ|aᵢbᵢ| ≤ dim·2⁻⁵²·‖a‖‖b‖ (≈1e-14 of the
        #    denominator), so pairs at least 1e-6 UNDER the margin can be
        #    discarded without ever affecting the result;
        # 2. survivors (output-rate-sized, not bucket²) are rescored with
        #    the exact sequential cumsum — the value that is emitted.
        # This keeps huge buckets tractable: the quadratic phase runs at
        # matmul speed, the exact phase scales with the near-dup rate.
        blk = max(16, int(1e7 / max(n_rows, 1)))
        for s in range(0, n_rows - 1, blk):
            e = min(s + blk, n_rows)
            right = mat[s + 1 :]  # only j > s can pair with this block
            dots_fast = mat[s:e] @ right.T
            denom = norms[s:e, None] * norms[None, s + 1 :]
            with np.errstate(divide="ignore", invalid="ignore"):
                sims_fast = np.where(denom > 0, dots_fast / denom, 0.0)
            # global j must exceed global i, and equal ids never pair
            gi = np.arange(s, e)[:, None]
            gj = np.arange(s + 1, n_rows)[None, :]
            keep = (sims_fast >= margin - 1e-6) & (gj > gi) & (
                ids[gj] != ids[gi]
            )
            ii, jj = np.nonzero(keep)
            if not len(ii):
                continue
            # exact sequential rescore of the surviving pairs, chunked so
            # the (chunk, dim) temporaries stay tens of MB
            gi_f = ii + s
            gj_f = jj + s + 1
            for c0 in range(0, len(gi_f), 100_000):
                c1 = min(c0 + 100_000, len(gi_f))
                ci, cj = gi_f[c0:c1], gj_f[c0:c1]
                dots = np.cumsum(mat[ci] * mat[cj], axis=1)[:, -1]
                dn = norms[ci] * norms[cj]
                with np.errstate(divide="ignore", invalid="ignore"):
                    sims = np.where(dn > 0, dots / dn, 0.0)
                k = sims >= margin
                if k.any():
                    out_a.append(ids[ci[k]])
                    out_b.append(ids[cj[k]])
                    out_s.append(sims[k])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "_sim": np.concatenate(out_s),
            }
        )

    pairs = banded.groupBy("band", "key").applyInPandas(bucket_pairs, out_schema)
    return (
        pairs.select("doc_a", "doc_b", F.round(F.col("_sim"), 4).alias("cosine"))
        .filter(F.col("cosine") >= cutoff)
        .distinct()
    )
