"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, oracle-checkable, and the right
answer for a broadcast-able query set (queries × corpus is a broadcast
nested-loop the optimizer handles; corpus never self-joins).

Scale path: sign-bit LSH bucketing — each vector gets a b-bit signature from
deterministic md5-derived hyperplanes; candidates only join within a bucket,
so the shuffle is O(corpus), not O(corpus²). An IVF variant would swap the
hyperplanes for k-means centroids; the plan shape is identical.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(v):
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors per query (query ≠ neighbor).

    Scale shape (the round-2 version's two named defects, both fixed here):

      * scoring is ONE numpy matmul per Arrow batch (`C @ Q.T` inside
        mapInPandas), not D interpreted higher-order-function calls per pair
        — the 100× kernel for dim-D vectors;
      * the per-query top-k is two-phase: each corpus batch emits only its
        own top-k rows per query (≤ k·|Q| rows per batch leave the kernel),
        and the final window re-ranks the ≤ k·n_batches survivors per query
        — no per-query window ever sees the full corpus (the same
        per-partition-top-k + re-rank shape as politeness.per_host_topk).

    The query set is collected to the driver and shipped as a broadcast
    numpy matrix — queries are the small side of an ANN search by contract
    (for query sets too big to broadcast, use ivf_topk / lsh_bucket_neighbors:
    same answer shape, bucketed join instead of a dense matmul).

    Zero-norm convention (round-3 advice): cosine is undefined for a zero
    vector, and NaN ordering DIFFERS between numpy lexsort (NaN last) and
    Spark's F.desc (NaN first) — so zero-norm rows are masked out explicitly
    on BOTH sides: zero-norm corpus vectors are never candidates, zero-norm
    queries return no rows. The retired-contract DuckDB twin pins the same
    rule (list_dot_product(e, e) > 0 guards).
    """
    spark = corpus.sparkSession
    qid_t = dict(queries.dtypes)[id_col]
    nid_t = dict(corpus.dtypes)[id_col]
    qrows = queries.select(id_col, vec_col).collect()
    qrows = [
        r for r in qrows if np.linalg.norm(np.asarray(r[1], dtype=np.float64)) > 0
    ]
    if not qrows:
        return spark.createDataFrame(
            [], f"query_id {qid_t}, nbr_id {nid_t}, cosine double, rk int"
        )
    qids = [r[0] for r in qrows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)
    bc = spark.sparkContext.broadcast((qids, qmat, qnorm))

    out_schema = f"query_id {qid_t}, nbr_id {nid_t}, cosine double"

    def _score(batches):
        b_qids, b_q, b_qn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()]
            )
            cnorm = np.linalg.norm(cmat, axis=1)
            den = np.outer(cnorm, b_qn)
            sims = np.divide(cmat @ b_q.T, den, out=np.zeros((len(cmat), len(b_qn))), where=den > 0)  # B × |Q|
            nbr = pdf[id_col].to_numpy()
            parts = []
            for j, qid in enumerate(b_qids):
                col = sims[:, j]
                mask = (nbr != qid) & (cnorm > 0)  # query ≠ neighbor, no zero-norm candidates
                cand_idx = np.flatnonzero(mask)
                if cand_idx.size == 0:
                    continue
                # batch-local top-k by (cosine desc, nbr_id asc) — the exact
                # global top-k is a monotone function of these survivors
                order = np.lexsort((nbr[cand_idx], -col[cand_idx]))[:k]
                keep = cand_idx[order]
                parts.append(
                    pd.DataFrame(
                        {"query_id": qid, "nbr_id": nbr[keep], "cosine": col[keep]}
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    survivors = corpus.select(id_col, vec_col).mapInPandas(_score, out_schema)
    # re-rank: ≤ k rows per (query, batch) survive, so this window's
    # partitions are O(k · n_batches), never the corpus
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "nbr_id", F.round("cosine", 6).alias("cosine"), F.col("rk").cast("int").alias("rk"))
    )


def _hyperplanes_np(n_bits: int, dim: int) -> "np.ndarray":
    """The LSH hyperplane matrix, built driver-side: h[i][j] = +1 if
    hash60(f"{i}|{j}") is odd else -1, with hash60 = int(md5[:15 hex], 16) —
    bit-identical to text.hash60 and to the DuckDB oracle's derivation."""
    import hashlib

    h = np.empty((n_bits, dim), dtype=np.float64)
    for i in range(n_bits):
        for j in range(dim):
            v = int(hashlib.md5(f"{i}|{j}".encode()).hexdigest()[:15], 16)
            h[i, j] = 1.0 if v % 2 == 1 else -1.0
    return h


def lsh_signature_np(n_bits: int = 8, dim: int = 16):
    """b-bit sign signature as an Arrow-batched pandas UDF: bit i =
    sign(v · h_i) over the deterministic ±1 hyperplanes of _hyperplanes_np —
    reproducible anywhere (including the DuckDB oracle). ONE matmul (batch ×
    hyperplanes) per batch instead of n_bits × dim interpreted
    higher-order-function ops per row (A/B in BENCH/BASELINE.md §7). The
    projection is rounded to 6 dp before the > 0 test so cross-engine float
    summation order can't flip a bit."""
    hmat = _hyperplanes_np(n_bits, dim)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    @F.pandas_udf("long")
    def _sig(vs: pd.Series) -> pd.Series:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs.to_numpy()])
        proj = mat @ hmat.T  # B × n_bits
        bits = np.round(proj, 6) > 0
        return pd.Series((bits * weights).sum(axis=1))

    return _sig


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate nearest neighbors: partition the corpus into
    `n_cells` cells by nearest centroid, probe the query's `n_probe` nearest
    cells, exact top-k inside the probed candidates.

    Centroids are sampled-k-means trained (kmeans_codebook; deterministic —
    swapping in differently-trained centroids changes ONLY the centroid
    matrix; the plan shape is the canonical IVF one: a broadcast argmax
    assignment, a cell-key equi-join, and a per-query window over the probed
    subset — O(corpus) shuffle instead of queries × corpus). Cell ids are
    centroid indices 0..n_cells-1.

    Numpy kernels: the argmax assignment is one matmul per Arrow batch
    against the broadcast centroid matrix, probe selection is driver-side
    (queries are the small side), and pair scoring after the cell join is a
    row-wise numpy kernel. Assignment is rounded to 9 dp with the DuckDB
    oracle's tie-breaks.
    """
    spark = corpus.sparkSession
    cmat = kmeans_codebook(corpus, n_cells, id_col, vec_col)
    cent_ids = np.arange(n_cells, dtype=np.int64)
    cnorm = np.linalg.norm(cmat, axis=1)
    nid_t = dict(corpus.dtypes)[id_col]
    qid_t = dict(queries.dtypes)[id_col]
    bc = spark.sparkContext.broadcast((cent_ids, cmat, cnorm))

    def _assign(batches):
        b_ids, b_c, b_cn = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            xn = np.linalg.norm(x, axis=1)
            cos = np.round((x @ b_c.T) / np.outer(xn, b_cn), 9)
            # argmax picks the FIRST max → lowest centroid index; centroids
            # are sorted by id, so ties break to the lowest cent_id (the
            # max_by (cos, -cent_id) convention of the DuckDB oracle)
            cell = b_ids[cos.argmax(axis=1)]
            yield pd.DataFrame(
                {"nbr_id": pdf[id_col].to_numpy(), "v": pdf[vec_col].to_numpy(), "cell": cell}
            )

    assigned = corpus.select(id_col, vec_col).mapInPandas(
        _assign, f"nbr_id {nid_t}, v array<double>, cell long"
    )

    # probe selection driver-side: queries are the collected small side
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"query_id {qid_t}, nbr_id {nid_t}, cosine double, rk int"
        )
    probe_rows = []
    for r in qrows:
        q = np.asarray(r[1], dtype=np.float64)
        qn = np.linalg.norm(q)
        cos = np.round((cmat @ q) / (cnorm * qn), 9)
        order = np.lexsort((cent_ids, -cos))[:n_probe]
        for ci in order:
            probe_rows.append((r[0], list(map(float, q)), cent_ids[ci].item()))
    probes = spark.createDataFrame(
        probe_rows, f"query_id {qid_t}, qv array<double>, cell long"
    )

    @F.pandas_udf("double")
    def _cos_pair(qv: pd.Series, cv: pd.Series) -> pd.Series:
        a = np.stack([np.asarray(v, dtype=np.float64) for v in qv.to_numpy()])
        b = np.stack([np.asarray(v, dtype=np.float64) for v in cv.to_numpy()])
        num = np.einsum("ij,ij->i", a, b)
        den = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
        return pd.Series(num / den)

    scored = (
        F.broadcast(probes).join(assigned, "cell")
        .filter(F.col("query_id") != F.col("nbr_id"))
        .withColumn("cosine", _cos_pair(F.col("qv"), F.col("v")))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("nbr_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "query_id", "nbr_id",
            F.round("cosine", 6).alias("cosine"),
            F.col("rk").cast("int").alias("rk"),
        )
    )


def quantize_int8(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage/ANN compression
    step of an embedding pipeline: scale = max|x|/127, q_i = round-half-up
    (floor(x/scale + 0.5)), reconstruction x̂ = q·scale.

    Row-local (zero shuffle); rounding is pinned to floor(+0.5) in BOTH
    engines because SQL round() half-rule differs between Spark (HALF_UP)
    and others (banker's). Returns integral checksums of q plus the
    reconstruction error so the contract is hash-comparable.

    One Arrow-batched pandas UDF does the whole row's math as numpy array
    ops — Catalyst higher-order-function lambdas are interpreted per
    ELEMENT, ~5·dim interpreted calls per row (measured A/B at sf0.1 in
    BENCH/BASELINE.md).
    """

    @F.pandas_udf("struct<sum_q:int,max_q:int,min_q:int,recon_err:double>")
    def _quant(vs: pd.Series) -> pd.DataFrame:
        mat = np.stack([np.asarray(v, dtype=np.float64) for v in vs.to_numpy()])
        amax = np.abs(mat).max(axis=1)
        nz = amax > 0
        scale = np.where(nz, amax / 127.0, 1.0)
        q = np.floor(mat / scale[:, None] + 0.5).astype(np.int64)
        q[~nz] = 0
        err2 = ((mat - q * scale[:, None]) ** 2).sum(axis=1)
        return pd.DataFrame(
            {
                "sum_q": q.sum(axis=1).astype("int32"),
                "max_q": q.max(axis=1).astype("int32"),
                "min_q": q.min(axis=1).astype("int32"),
                "recon_err": np.round(np.sqrt(err2), 6),
            }
        )

    s = _quant(F.col(vec_col))
    return emb.select(
        F.col(id_col).alias("vec_id"),
        s.getField("sum_q").alias("sum_q"),
        s.getField("max_q").alias("max_q"),
        s.getField("min_q").alias("min_q"),
        s.getField("recon_err").alias("recon_err"),
    )


def kmeans_codebook(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_mod: int = 4,
    iters: int = 1,
) -> "np.ndarray":
    """Sampled k-means codebook for IVF/PQ — round 4, replacing the
    first-n-rows-by-id convention whose cells skew badly on an id-correlated
    corpus (round-3 verdict #5).

    Fully deterministic and mirrored step-for-step by the DuckDB twins
    (no RNG, no collect-order dependence):

      1. SAMPLE: rows where hash60(md5(str(id))) % sample_mod == 0 — a
         uniform pseudo-random slice reproducible in any engine. Training on
         a bounded sample is the standard ANN-codebook protocol (FAISS
         train); at 10^10 vectors raise sample_mod so the sample stays
         driver-sized — the codebook itself is only K × D floats.
      2. INIT: the k sample vectors with the smallest md5(str(id)) hex —
         a hash-random draw, which is what kills the id-correlation skew.
         (Deliberately NOT k-means++: its sequential D²-weighted sampling
         has no declarative twin; hash-random init + Lloyd reaches the same
         balance goal, asserted by tests/test_pq.py's cell-balance pin.)
      3. LLOYD (iters×): assign every sample vector to the argmin of the
         9-dp-ROUNDED squared L2 (ties → lowest centroid index), then move
         each centroid to the 6-dp-ROUNDED elementwise mean of its cell;
         an empty cell keeps its previous centroid. The rounding at both
         steps is what lets DuckDB's avg() and numpy's mean() agree.

    Returns a k × D float64 matrix; row index == cell/centroid id (cidx).
    """
    import hashlib

    sample_key = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string")), 1, 15), 16, 10
    ).cast("long")
    rows = (
        corpus.filter(F.pmod(sample_key, F.lit(sample_mod)) == 0)
        .select(id_col, vec_col)
        .collect()
    )
    if len(rows) < k and sample_mod > 1:
        # tiny-corpus fallback: train on everything. The contract-scale
        # embeddings table (≥500 rows, K ≤ 16) never takes this branch, so
        # the DuckDB twin pins sample_mod=4 unconditionally.
        rows = corpus.select(id_col, vec_col).collect()
    rows.sort(key=lambda r: (hashlib.md5(str(r[0]).encode()).hexdigest(), r[0]))
    x = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    if len(x) < k:
        raise ValueError(f"corpus of {len(x)} rows cannot seed {k} centroids")
    cents = x[:k].copy()
    for _ in range(iters):
        # N × K distances, one centroid at a time (no N×K×D intermediate)
        d2 = np.stack(
            [np.round(((x - cents[c]) ** 2).sum(axis=1), 9) for c in range(k)], axis=1
        )
        asg = d2.argmin(axis=1)  # first min → lowest cidx (oracle tie rule)
        for c in range(k):
            members = asg == c
            if members.any():
                cents[c] = np.round(x[members].mean(axis=0), 6)
    return cents


def _pq_codebook(corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str):
    """PQ codebook = sampled-k-means centroids (kmeans_codebook; round 4 —
    previously the n_centroids lowest-id vectors, which skew on an
    id-correlated corpus). Returns a K × D float64 matrix; subspace m uses
    columns [m·d, (m+1)·d) of the full-vector centroids — one shared
    k-means sliced per subspace, the convention the DuckDB twin reproduces."""
    return kmeans_codebook(corpus, n_centroids, id_col, vec_col)


def _pq_dist2(x_sub: "np.ndarray", c_sub: "np.ndarray") -> "np.ndarray":
    """Per-subspace squared L2 (B × K), rounded to 9 dp — BOTH engines round
    each subspace distance before any comparison or summation, so cross-
    engine float-order differences cannot flip an argmin or a ranking."""
    d2 = ((x_sub[:, None, :] - c_sub[None, :, :]) ** 2).sum(axis=-1)
    return np.round(d2, 9)


def pq_encode(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebook: "np.ndarray | None" = None,
) -> DataFrame:
    """Product-quantization encoding — the compressed-vector storage format
    of an IVF-PQ ANN index: each dim-D vector becomes n_sub uint8 codes
    (argmin squared-L2 centroid per subspace; ties → lowest centroid index)
    plus the reconstruction error. D must divide evenly by n_sub.

    Scale shape: the codebook is a broadcast K × D matrix; encoding is one
    numpy kernel per Arrow batch (row-local, zero shuffle) — 10^10 vectors
    encode embarrassingly parallel, and downstream ADC search touches only
    the n_sub-byte codes, never the raw vectors. DuckDB-oracled
    (`pq_encode` contract query): identical centroid convention, identical
    per-subspace 9-dp rounding.
    """
    # `codebook` lets a caller that already trained the k-means (pq_adc_topk)
    # reuse it — round 6: the query path used to train the identical codebook
    # twice, paying a second sample scan + collect inside the timed region
    cmat = (
        codebook
        if codebook is not None
        else _pq_codebook(corpus, n_centroids, id_col, vec_col)
    )
    _k, dim = cmat.shape
    if dim % n_sub:
        raise ValueError(f"dim {dim} not divisible by n_sub {n_sub}")
    d = dim // n_sub
    id_t = dict(corpus.dtypes)[id_col]
    bc = corpus.sparkSession.sparkContext.broadcast(cmat)

    def _enc(batches):
        cb = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col].to_numpy()])
            codes = np.empty((len(x), n_sub), dtype=np.int64)
            for m in range(n_sub):
                d2 = _pq_dist2(x[:, m * d:(m + 1) * d], cb[:, m * d:(m + 1) * d])
                codes[:, m] = d2.argmin(axis=1)  # first min → lowest index
            recon = np.concatenate(
                [cb[codes[:, m], m * d:(m + 1) * d] for m in range(n_sub)], axis=1
            )
            err = np.sqrt(((x - recon) ** 2).sum(axis=1))
            yield pd.DataFrame(
                {
                    "vec_id": pdf[id_col].to_numpy(),
                    "codes": list(codes.astype("int32")),
                    "recon_err": np.round(err, 6),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        _enc, f"vec_id {id_t}, codes array<int>, recon_err double"
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_sub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over PQ codes — the query path of an IVF-PQ
    index: each query precomputes an n_sub × K table of squared distances to
    every centroid, and a candidate's approximate distance is n_sub table
    lookups summed — no raw corpus vectors touched.

    The tables are quantized to INTEGER NANOS (round(d2·1e9) as int64) and
    summed in integer space; adc_dist = nanos/1e9. Summing floats and then
    rounding is cross-engine-unstable here: sums of 9-dp-rounded doubles
    land on exact 6-dp half-boundaries at ~1e-3 rate, where numpy
    (half-to-even) and DuckDB (half-away-from-zero) disagree — integer sums
    are order-independent and bit-identical in both engines.

    Same two-phase shape as cosine_topk: per-batch top-k inside the kernel
    (≤ k·|Q| rows leave each batch), tiny re-rank window after. Ties break
    (adc_dist asc, nbr_id asc)."""
    spark = corpus.sparkSession
    cmat = _pq_codebook(corpus, n_centroids, id_col, vec_col)
    _kk, dim = cmat.shape
    d = dim // n_sub
    qid_t = dict(queries.dtypes)[id_col]
    nid_t = dict(corpus.dtypes)[id_col]
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], f"query_id {qid_t}, nbr_id {nid_t}, adc_dist double, rk int"
        )
    qids = [r[0] for r in qrows]
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    # per-query distance tables: |Q| × n_sub × K in integer nanos
    tables = np.rint(
        np.stack(
            [
                np.stack(
                    [
                        ((q[None, m * d:(m + 1) * d] - cmat[:, m * d:(m + 1) * d]) ** 2).sum(axis=-1)
                        for m in range(n_sub)
                    ]
                )
                for q in qmat
            ]
        )
        * 1e9
    ).astype(np.int64)
    bc = spark.sparkContext.broadcast((qids, tables))
    codes = pq_encode(corpus, n_centroids, n_sub, id_col, vec_col, codebook=cmat)

    def _score(batches):
        b_qids, b_tables = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            cmat_codes = np.stack(pdf["codes"].to_numpy())  # B × n_sub
            nbr = pdf["vec_id"].to_numpy()
            parts = []
            for qi, qid in enumerate(b_qids):
                t = b_tables[qi]  # n_sub × K, integer nanos
                nanos = t[np.arange(n_sub), cmat_codes].sum(axis=1)
                mask = nbr != qid
                cand = np.flatnonzero(mask)
                if cand.size == 0:
                    continue
                order = np.lexsort((nbr[cand], nanos[cand]))[:k]
                keep = cand[order]
                parts.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "nbr_id": nbr[keep],
                            "adc_dist": nanos[keep] / 1e9,
                        }
                    )
                )
            if parts:
                yield pd.concat(parts, ignore_index=True)

    survivors = codes.mapInPandas(
        _score, f"query_id {qid_t}, nbr_id {nid_t}, adc_dist double"
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"), F.asc("nbr_id"))
    return (
        survivors.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "nbr_id", "adc_dist", F.col("rk").cast("int").alias("rk"))
    )


def lsh_bucket_neighbors(
    corpus: DataFrame,
    n_bits: int = 8,
    dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed candidate pairs with exact cosine, computed only inside
    buckets — the O(n) shuffle scale path for all-pairs similarity.
    Signatures come from the matmul kernel (lsh_signature_np)."""
    bucket = lsh_signature_np(n_bits, dim)(F.col(vec_col))
    sig = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        bucket.alias("bucket"),
    )
    a = sig.select(F.col("id").alias("vec_a"), F.col("v").alias("va"), "bucket")
    b = sig.select(F.col("id").alias("vec_b"), F.col("v").alias("vb"), "bucket")
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")) / (_norm(F.col("va")) * _norm(F.col("vb"))))
        .select("vec_a", "vec_b", "bucket", F.round("cosine", 6).alias("cosine"))
    )
