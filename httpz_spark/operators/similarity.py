"""Similarity search over embedding columns (array<float>).

* :func:`cosine_topk` — brute-force baseline: broadcast the (small) query
  set, cosine via native ``zip_with``/``aggregate`` arithmetic (JVM
  codegen, no Python), per-query top-k via window.  Exact; cost O(n·q).
* :func:`lsh_ann_topk` — the scale path: random-hyperplane signatures
  bucket the corpus; each query probes only its bucket (equi-join instead
  of a cross join), then exact cosine re-ranks within the bucket.
  Approximate; recall tunable via ``planes`` (fewer planes = bigger
  buckets = higher recall, more compute).

Both shapes survive 100×: brute force scales with a broadcast (queries are
small by construction); ANN turns the cross join into a hash-partitioned
equi-join on the signature.
"""

from __future__ import annotations

import numpy as np
import pandas as pd  # noqa: F401 — pandas_udf type hints resolve against module globals
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def dot_expr(a: Column, b: Column) -> Column:
    """Native dot product: fold left in element order (deterministic float
    summation — matches a sequential loop bit-for-bit)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm_expr(a: Column) -> Column:
    return F.sqrt(dot_expr(a, a))


def cosine_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (norm_expr(a) * norm_expr(b))


def _topk_window(scored: DataFrame, score_col: str, k: int) -> DataFrame:
    """Per-query top-k of (query_id, neighbor_id, score) rows by (score
    desc, neighbor_id asc), numbered in ``rank``."""
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_col).desc(), F.col("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query (queries broadcast).  Ties broken by
    neighbor id for full determinism."""
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
        )
    )
    scored = corpus.crossJoin(q).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("_qv")).alias("cos_sim"),
    )
    return _topk_window(scored, "cos_sim", k)


def _hyperplanes(planes: int, dim: int, seed: int) -> np.ndarray:
    rng = np.random.Generator(np.random.PCG64(seed))
    return rng.standard_normal((planes, dim))


def hyperplane_signature(
    df: DataFrame, vec_col: str = "embedding", planes: int = 16,
    seed: int = 42, dim: int = 64,
) -> DataFrame:
    """Adds ``sig long``: random-hyperplane sign bits packed into an int.
    The planes are literal arrays, so the signature is pure native
    arithmetic (codegen) — no UDF, no shuffle."""
    H = _hyperplanes(planes, dim, seed)
    sig = F.lit(0).cast("long")
    for j in range(planes):
        plane = F.array(*[F.lit(float(v)) for v in H[j]])
        bit = (dot_expr(F.col(vec_col), plane) > 0).cast("long")
        sig = sig + bit * F.lit(2**j).cast("long")
    return df.withColumn("sig", sig)


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    dim: int = 64,
    multi_probe: bool = False,
) -> DataFrame:
    """Approximate top-k: bucket corpus + queries by hyperplane signature,
    equi-join on the bucket, exact cosine re-rank inside.

    ``multi_probe=True`` additionally probes every signature at hamming
    distance 1 from the query's (flip each plane bit once) — the standard
    multi-probe LSH recall boost: x(planes+1) candidate buckets per query
    for the SAME corpus layout (no extra corpus passes or index size).
    Tested to strictly dominate single-probe recall vs the exact top-k."""
    c = hyperplane_signature(corpus, vec_col, planes, seed, dim)
    q = hyperplane_signature(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        "_qv", planes, seed, dim,
    )
    if multi_probe:
        probes = F.array(
            F.col("sig"), *[F.col("sig").bitwiseXOR(F.lit(1 << j)) for j in range(planes)]
        )
        q = q.withColumn("sig", F.explode(probes))
    scored = c.join(F.broadcast(q), "sig").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("_qv")).alias("cos_sim"),
    )
    if multi_probe:
        # a corpus vector can match several probe buckets of one query
        scored = scored.dropDuplicates(["query_id", "neighbor_id"])
    return _topk_window(scored, "cos_sim", k)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN — the second scale path beside LSH
# ---------------------------------------------------------------------------

def _centroid_arrays(corpus, id_col, vec_col, n_centroids):
    """Deterministic coarse quantizer: the embeddings of the n_centroids
    smallest ids serve as fixed centroids (no iterative training — float
    reduction order in a trained k-means is nondeterministic across
    partitions, which would break bit-exact oracles; fixed 'sampled'
    centroids keep the IVF *plan shape* while staying reproducible)."""
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_centroids)
        .collect()
    )
    return [list(r[vec_col]) for r in rows]


def train_centroids(
    corpus: DataFrame,
    n_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_per_centroid: int = 32,
    iters: int = 10,
    seed: int = 42,
) -> list:
    """Deterministic spherical k-means coarse quantizer (the FAISS IVF
    training shape: train on a bounded sample, not the corpus).

    Scale story: the TRAINING sample is ``n_centroids * sample_per_centroid``
    rows pulled to the driver — independent of corpus size (FAISS defaults
    to 39-256 points/centroid); iteration then runs as driver-side numpy,
    so no per-iteration Spark jobs.  Determinism: the sample is the
    smallest ids by ``TABLESAMPLE``-free deterministic rank (hash-ordered,
    not orderBy-on-floats), init is seeded, and all reductions happen in a
    single numpy process with fixed operand order — same inputs, same
    centroids, every run (the oracle requirement that rules out
    distributed k-means with its partition-order float reductions).

    Empty-cell rule: a centroid that captures no points keeps its previous
    position (standard k-means practice; deterministic)."""
    n_sample = n_centroids * sample_per_centroid
    rows = (
        corpus.select(id_col, vec_col)
        # deterministic pseudo-random sample: order by a seeded hash of the
        # id (uniform over the corpus, reproducible, no float ordering)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_sample)
        .collect()
    )
    X = _unit_rows(np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64))
    rng = np.random.Generator(np.random.PCG64(seed))
    C = X[rng.choice(len(X), size=min(n_centroids, len(X)), replace=False)]
    for _ in range(iters):
        Cn = _unit_rows(C)
        assign = np.argmax(X @ Cn.T, axis=1)
        newC = C.copy()
        for j in range(len(C)):
            pts = X[assign == j]
            if len(pts):
                newC[j] = pts.mean(axis=0)
        if np.allclose(newC, C):
            break
        C = newC
    return [list(map(float, c)) for c in _unit_rows(C)]


def _cos_to_centroids(vec_col: str, centroids: list):
    return F.array(*[
        cosine_expr(
            F.col(vec_col),
            F.array(*[F.lit(float(x)) for x in c]),
        )
        for c in centroids
    ])


# above this many centroids the literal-expression plan stops being a win:
# n_centroids x dim literals bloat the plan (analysis/codegen cost grows
# linearly) and assignment is O(n_centroids) scalar expressions per row.
# The numpy path is one Arrow-batched matmul per batch instead.
IVF_LITERAL_MAX_CENTROIDS = 64


def _unit_rows(mat):
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    return mat / norms


def ivf_assign(df: DataFrame, centroids: list, vec_col: str = "embedding") -> DataFrame:
    """Adds ``cell int`` — nearest centroid by cosine (first index wins
    ties).

    Two physical strategies behind one logical op:

    * ``n <= IVF_LITERAL_MAX_CENTROIDS``: pure native expressions — the
      centroid list rides the plan as literals, one codegen'd projection,
      no Python.
    * larger: an Arrow-batched pandas UDF doing ONE numpy matmul per batch
      against the row-normalized centroid matrix (argmax of v·ĉ ==
      argmax of cosine, since |v| > 0 is constant per row; np.argmax takes
      the first max — the same tie rule as the literal path).  The matrix
      rides the closure (a few MB even at 4096x1024), so realistic
      centroid counts neither explode the plan nor shuffle anything."""
    if len(centroids) <= IVF_LITERAL_MAX_CENTROIDS:
        coss = _cos_to_centroids(vec_col, centroids)
        return df.withColumn(
            "cell", (F.array_position(coss, F.array_max(coss)) - 1).cast("int")
        )

    from pyspark.sql.functions import pandas_udf

    Cn = _unit_rows(np.asarray(centroids, dtype=np.float64))

    @pandas_udf("int")
    def assign(s: pd.Series) -> pd.Series:
        if len(s) == 0:
            return pd.Series([], dtype="int32")
        V = np.asarray(s.tolist(), dtype=np.float64)
        return pd.Series(np.argmax(V @ Cn.T, axis=1).astype(np.int32))

    return df.withColumn("cell", assign(F.col(vec_col)))


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    centroids: list | None = None,
    train: bool = False,
) -> DataFrame:
    """IVF ANN: coarse-quantize the corpus into ``n_centroids`` cells
    (one native projection), probe each query's ``nprobe`` nearest cells,
    exact cosine re-rank inside the probed cells.

    ``train=True`` fits the quantizer with deterministic driver-side
    spherical k-means on a bounded sample (:func:`train_centroids`) —
    better cell balance than the fixed first-N-ids quantizer, still
    bit-reproducible.

    Scale shape: the corpus scan + cell assignment is embarrassingly
    parallel; candidate generation is an equi-join on ``cell`` (the probe
    side is queries x nprobe — broadcast); re-ranking touches only
    ~nprobe/n_centroids of the corpus per query instead of all of it."""
    if centroids is None:
        if train:
            centroids = train_centroids(corpus, n_centroids, id_col, vec_col)
        else:
            centroids = _centroid_arrays(corpus, id_col, vec_col, n_centroids)
    c = ivf_assign(corpus, centroids, vec_col)

    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    if len(centroids) <= IVF_LITERAL_MAX_CENTROIDS:
        coss = _cos_to_centroids("_qv", centroids)
        idx = F.sequence(F.lit(0), F.lit(len(centroids) - 1))
        # nprobe nearest cells: struct(-cos, cell) sorts naturally (lexicographic)
        q = q.withColumn("_coss", coss)
        ranked_cells = F.slice(
            F.array_sort(F.transform(
                idx,
                lambda i: F.struct(
                    (-F.element_at(F.col("_coss"), i + 1)).alias("negcos"),
                    i.alias("cell"),
                ),
            )),
            1, nprobe,
        )
        q = q.withColumn(
            "cell",
            F.explode(F.transform(ranked_cells, lambda s: s.getField("cell").cast("int"))),
        ).drop("_coss")
    else:
        # numpy probe ranking: stable argsort of -v·ĉ == (-cos, cell)
        # lexicographic order (same tie rule as the literal path)
        from pyspark.sql.functions import pandas_udf

        Cn = _unit_rows(np.asarray(centroids, dtype=np.float64))
        np_ = nprobe

        @pandas_udf("array<int>")
        def probe_cells(s: pd.Series) -> pd.Series:
            if len(s) == 0:
                return pd.Series([], dtype="object")
            V = np.asarray(s.tolist(), dtype=np.float64)
            order = np.argsort(-(V @ Cn.T), axis=1, kind="stable")[:, :np_]
            return pd.Series(list(order.astype(np.int32)))

        q = q.withColumn("cell", F.explode(probe_cells(F.col("_qv"))))

    scored = c.join(F.broadcast(q), "cell").select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        cosine_expr(F.col(vec_col), F.col("_qv")).alias("cos_sim"),
    )
    return _topk_window(scored, "cos_sim", k)


# ---------------------------------------------------------------------------
# PQ (product quantization) ANN — the compressed-domain scale path
# (Jegou/Douze/Schmid, "Product Quantization for Nearest Neighbor Search",
# TPAMI 2011: split each vector into m subvectors, vector-quantize each
# subspace with a kc-entry codebook, score queries against the CODES via
# per-subspace lookup tables — asymmetric distance computation).
#
# Why it matters at 100 TB: a 64-dim float32 embedding is 256 bytes; its
# PQ code (m=8, kc=16) is 8 SMALL INTS — the whole corpus index fits in a
# fraction of the memory/IO, and a scan of the codes does m table lookups
# + adds per row instead of d multiplies.  IVF composes on top (this
# module's ivf_ann_topk provides the coarse stage) exactly as in FAISS's
# IVFPQ.
#
# Determinism discipline (the golden-oracle requirement): encoding
# accumulates distances dim-by-dim in explicit order (numpy elementwise
# ops == the same IEEE sequence as a scalar loop), the ADC lookup tables
# are built with numpy in that same per-dim scalar order, and executor
# scoring gathers + adds them in fixed subspace order — so an independent
# pure-python reimplementation reproduces every bit (argmin ties -> first
# index on both sides).
# ---------------------------------------------------------------------------

def pq_codebooks_fixed(corpus: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", m: int = 8,
                       kc: int = 16) -> list:
    """Deterministic untrained codebooks: the subvectors of the ``kc``
    smallest-id embeddings (the same fixed-quantizer convention as the IVF
    literal path — reproducible with zero float-order concerns)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(kc).collect()
    vecs = [list(map(float, r[vec_col])) for r in rows]
    d = len(vecs[0])
    if d % m:  # silent truncation of d % m trailing dims skews approx_cos
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    sub = d // m
    return [[v[mi * sub:(mi + 1) * sub] for v in vecs] for mi in range(m)]


def train_pq_codebooks(corpus: DataFrame, id_col: str = "vec_id",
                       vec_col: str = "embedding", m: int = 8, kc: int = 16,
                       sample_per_code: int = 32, iters: int = 10,
                       seed: int = 42) -> list:
    """Per-subspace L2 k-means codebooks on a bounded deterministic sample
    (same sampling/driver-numpy discipline as :func:`train_centroids`;
    plain L2 k-means because PQ quantizes subvectors, not directions)."""
    n_sample = kc * sample_per_code
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_sample)
        .collect()
    )
    X = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:  # misconfigured m must fail loudly, never skew approx_cos
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    sub = d // m
    books = []
    rng = np.random.Generator(np.random.PCG64(seed))
    for mi in range(m):
        S = X[:, mi * sub:(mi + 1) * sub]
        C = S[rng.choice(len(S), size=min(kc, len(S)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            newC = C.copy()
            for j in range(len(C)):
                pts = S[assign == j]
                if len(pts):
                    newC[j] = pts.mean(axis=0)
            if np.allclose(newC, C):
                break
            C = newC
        books.append([list(map(float, c)) for c in C])
    return books


def _pq_encode_rows(X: "np.ndarray", codebooks: list) -> "np.ndarray":
    """codes[n, m] — argmin L2 per subspace, distances accumulated
    dim-by-dim in explicit order (bit-reproducible by a scalar loop)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if X.shape[1] != m * sub:  # trailing-dim truncation must fail loudly
        raise ValueError(
            f"embedding dim {X.shape[1]} != m*sub = {m}*{sub} of the codebooks"
        )
    n = X.shape[0]
    codes = np.zeros((n, m), dtype=np.int32)
    for mi in range(m):
        kc = len(codebooks[mi])
        dists = np.empty((n, kc), dtype=np.float64)
        for ki in range(kc):
            acc = np.zeros(n, dtype=np.float64)
            for j in range(sub):
                diff = X[:, mi * sub + j] - codebooks[mi][ki][j]
                acc = acc + diff * diff
            dists[:, ki] = acc
        codes[:, mi] = np.argmin(dists, axis=1)  # first-min, like scalar <
    return codes


def pq_encode(corpus: DataFrame, codebooks: list, id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes array<int>) — one Arrow-batched numpy pass, codebooks in
    the closure (no shuffle, no join)."""
    import pandas as pd

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
            codes = _pq_encode_rows(X, codebooks)
            yield pd.DataFrame({
                "id": pdf[id_col].to_numpy(),
                "codes": [list(map(int, c)) for c in codes],
            })

    return corpus.select(id_col, vec_col).mapInPandas(
        enc, schema="id long, codes array<int>"
    ).withColumnRenamed("id", id_col)


def pq_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                m: int = 8, kc: int = 16, codebooks: list | None = None,
                train: bool = False, id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """Approximate top-k per query by ADC over PQ codes.

    ``approx_cos`` estimates cosine as ``ip(q, x̂) / (|q|·|x̂|)`` where x̂
    is the code's reconstruction; ``|x̂|²`` is the sum of per-subspace
    centroid norms (subspaces are an orthogonal decomposition).  Lookup
    tables are built per query with numpy in scalar float order (queries
    are the bounded broadcast set, as in the other top-k operators);
    executors do m gathers + adds per (row, query) — no per-row vector
    math, and each task pre-reduces to its local top-k before the final
    tiny per-query window (see :func:`pq_adc_topk`)."""
    if codebooks is None:
        codebooks = (train_pq_codebooks(corpus, id_col, vec_col, m, kc)
                     if train else
                     pq_codebooks_fixed(corpus, id_col, vec_col, m, kc))
    codes = pq_encode(corpus, codebooks, id_col, vec_col)
    return pq_adc_topk(codes, codebooks, queries, k, id_col, vec_col,
                       query_id_col)


def _adc_normsq(codebooks: list) -> list:
    """Per-code squared reconstruction norms, pure-python sequential order
    (one ``(kc,)`` float64 array per subspace)."""
    sub = len(codebooks[0][0])
    return [
        np.asarray([sum(c[j] * c[j] for j in range(sub)) for c in book],
                   dtype=np.float64)
        for book in codebooks
    ]


def _np_query_luts(Qm: "np.ndarray", codebooks: list):
    """``(qnorm (q,), ip [m x (q, kc)])`` — the per-query ADC lookup
    tables, vectorized ACROSS queries but with the exact accumulation
    order of a scalar per-query loop (left-to-right adds per dim, one
    ``** 0.5``), so an independent pure-python model reproduces every
    bit.  Rows are per-query independent: a slice of queries yields
    exactly that slice of the full tables."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    if Qm.shape[1] != m * sub:  # trailing-dim truncation must fail loudly
        raise ValueError(
            f"query dim {Qm.shape[1]} != m*sub = {m}*{sub} of the codebooks"
        )
    q = Qm.shape[0]
    qsq = np.zeros(q, dtype=np.float64)
    for j in range(m * sub):
        qsq = qsq + Qm[:, j] * Qm[:, j]
    qnorm = qsq ** 0.5
    ip = []
    for mi in range(m):
        kc = len(codebooks[mi])
        # vectorized over BOTH q and kc (sub elementwise passes, not
        # kc*sub) — each (qi, ki) cell still accumulates its sub terms
        # left-to-right on a float64, so bit-equality with the scalar
        # model is preserved while the build drops from O(kc*sub)
        # numpy dispatches to O(sub) (measured 5.0 -> 0.05 s at Q=10^4,
        # kc=256)
        B = np.asarray(codebooks[mi], dtype=np.float64)  # (kc, sub)
        t = np.zeros((q, kc), dtype=np.float64)
        tmp = np.empty((q, kc), dtype=np.float64)
        # Blocked over queries so the accumulator slice (block x kc
        # doubles, ~1 MB at the default block) stays cache-resident
        # across the sub j-passes: the unblocked form streamed the full
        # (q, kc) buffer through DRAM 3*sub times per subspace (~5 GB at
        # Q=10^4).  The per-cell accumulation order is unchanged
        # (left-to-right over j), so bit-equality is preserved.
        blk = max(1, (1 << 17) // max(kc, 1))
        for lo in range(0, q, blk):
            hi = min(lo + blk, q)
            tb, pb = t[lo:hi], tmp[: hi - lo]
            for j in range(sub):
                np.multiply(Qm[lo:hi, mi * sub + j][:, None], B[None, :, j],
                            out=pb)
                tb += pb
        ip.append(t)
    return qnorm, ip


# Per-worker replication budget of the ADC dispatch, in bytes: the query
# lookup tables are broadcast to every worker when they fit it, else the
# (id, codes) matrix when that fits, else the tables regardless; the tasks
# split the other operand.  2.5 MiB is 65,536 rows of (int64 id, m=8
# int32 codes).
ADC_REPLICATION_BUDGET = 65_536 * (8 + 4 * 8)

_ADC_SCHEMA = "query_id long, neighbor_id long, approx_cos double"


def _select_topk(qrows: "np.ndarray", ids: "np.ndarray",
                 scores: "np.ndarray", k: int):
    """Exact per-query top-k by (score desc, id asc) over ragged
    candidate triples — fully vectorized (lexsort + first-occurrence
    rank), no per-query python loop."""
    order = np.lexsort((ids, -scores, qrows))
    qr, iD, sc_ = qrows[order], ids[order], scores[order]
    first = np.searchsorted(qr, qr, side="left")
    keep = (np.arange(len(qr)) - first) < k
    return qr[keep], iD[keep], sc_[keep]


def _merge_topk(parts: list, k: int):
    """Exact top-k of the union of ``(qrows, ids, scores)`` partials."""
    return _select_topk(*(np.concatenate([p[i] for p in parts])
                          for i in range(3)), k)


def _matrix_topk(S: "np.ndarray", ids: "np.ndarray", k: int):
    """Exact per-row top-k over a dense (Q x n) score matrix: prune each
    row to its candidates with ``np.partition`` (everything >= the k-th
    largest — a superset of the true top-k, ties included), then resolve
    (score desc, id asc) exactly with :func:`_select_topk` over the
    ~Q*k survivors.  Replaces lexsorting all Q*n triples, which at
    Q=10^4 was one 4M-element 3-key sort PER CHUNK and dominated the
    ADC task profile.  NaN scores (zero-norm rows) are excluded from
    candidacy, matching the old sort order that placed them last."""
    q, n = S.shape
    if n <= k:
        qrows = np.repeat(np.arange(q, dtype=np.int64), n)
        return _select_topk(qrows, np.tile(ids, q), S.ravel(), k)
    Sm = np.where(np.isnan(S), -np.inf, S)
    kth = np.partition(Sm, n - k, axis=1)[:, n - k]
    mask = Sm >= kth[:, None]
    qrows, cols = np.nonzero(mask)
    return _select_topk(qrows.astype(np.int64, copy=False), ids[cols],
                        S[mask], k)


def _code_sum(tables: list, C: "np.ndarray", rows=Ellipsis, init=None):
    """``init + Σ_mi tables[mi][rows, C[:, mi]]``, added left to right in
    subspace order — the one gather-add behind every ADC norm and score.
    ``rows=Ellipsis`` gathers a 1-d table per code, or every row of a
    (Q, kc) table (a (Q, n) result); an index array pairs one table row
    with each code."""
    s = init
    for mi, t in enumerate(tables):
        g = t[rows, C[:, mi]]
        s = g if s is None else s + g
    return s


def _adc_block_topk(C: "np.ndarray", ids: "np.ndarray", qn: "np.ndarray",
                    ip: list, normsq: list, k: int):
    """THE ADC scoring kernel: every query row of the lookup tables
    ``(qn, ip)`` against one block of codes ``C`` -> the block's exact
    top-k per query by (score desc, id asc), as ``(qrows, ids, scores)``
    with ``qrows`` indexing ``qn``.  The (Q x chunk) score matrix is
    built ~32 MB at a time."""
    rnorm = np.sqrt(_code_sum(normsq, C))
    chunk = max(1, (1 << 22) // max(len(qn), 1))
    parts = []
    for lo in range(0, len(ids), chunk):
        hi = min(lo + chunk, len(ids))
        S = _code_sum(ip, C[lo:hi]) / (qn[:, None] * rnorm[None, lo:hi])
        parts.append(_matrix_topk(S, ids[lo:hi], k))
    return _merge_topk(parts, k)


def _adc_frame(query_ids, neighbor_ids, scores) -> pd.DataFrame:
    return pd.DataFrame({"query_id": query_ids, "neighbor_id": neighbor_ids,
                         "approx_cos": scores})


def _codes_matrix(codes: pd.Series, m: int) -> "np.ndarray":
    return np.asarray([list(c) for c in codes],
                      dtype=np.int64).reshape(len(codes), m)


def _collect_queries(queries: DataFrame, query_id_col: str, vec_col: str,
                     dim: int):
    """One Arrow transfer of the query frame -> (ids int64 ascending,
    Qm float64 (Q, dim)).  Every ADC call starts here: the driver builds
    the lookup tables from Qm (or the query axis broadcasts Qm itself —
    8*Q*d bytes, so a 10^6 x 64-d query set is ~0.5 GB, the practical
    ceiling).  A query dimension other than ``dim`` (= m*sub of the
    codebooks) raises here, before any scoring job."""
    qpdf = queries.select(query_id_col, vec_col).orderBy(query_id_col).toPandas()
    qids = qpdf[query_id_col].to_numpy(dtype=np.int64)
    Qm = (np.asarray([list(map(float, v)) for v in qpdf[vec_col]],
                     dtype=np.float64)
          if len(qpdf) else np.zeros((0, dim), dtype=np.float64))
    if Qm.shape[1] != dim:  # trailing-dim truncation must fail loudly
        raise ValueError(f"query dim {Qm.shape[1]} != m*sub = {dim} of the codebooks")
    return qids, Qm


def pq_adc_topk(codes: DataFrame, codebooks: list, queries: DataFrame,
                k: int = 3, id_col: str = "vec_id",
                vec_col: str = "embedding",
                query_id_col: str = "query_id") -> DataFrame:
    """ADC scoring over an EXISTING codes frame — the query-time half of
    :func:`pq_ann_topk`, usable directly against a persisted index
    (:mod:`httpz_spark.operators.simindex`): the corpus embeddings are
    never touched, only the m-small-ints codes.

    One scoring kernel (:func:`_adc_block_topk`) on one of two
    distribution axes, chosen by bytes against
    ``ADC_REPLICATION_BUDGET`` — whichever operand fits is broadcast:

    * **codes axis** when the lookup tables (8·Q·m·kc bytes) fit: the
      driver builds them once (:func:`_np_query_luts`) and broadcasts
      them; tasks own code partitions and pre-reduce to their exact
      local top-k per query, so the shuffle into the final window is
      tasks·Q·k rows, never Q·N.  No probe job runs.
    * **query axis** when they do not: one bounded collect of at most
      ``budget // (8 + 4·m)`` + 1 codes rows.  If the codes fit, they
      are broadcast and tasks own disjoint query slices, each building
      only its slice of the tables — one table build in total, no
      replication, and each query is fully scored in one task.
    * codes axis again when neither fits (large Q against a large
      corpus): every worker then holds the full tables.

    Both axes produce identical output: same tables, same kernel, and
    exact (score desc, id asc) top-k at every reduction."""
    m = len(codebooks)
    qids, Qm = _collect_queries(queries, query_id_col, vec_col,
                                m * len(codebooks[0][0]))
    normsq = _adc_normsq(codebooks)
    if 8 * len(qids) * sum(map(len, codebooks)) > ADC_REPLICATION_BUDGET:
        rows = ADC_REPLICATION_BUDGET // (8 + 4 * m)
        cpdf = codes.select(id_col, "codes").limit(rows + 1).toPandas()
        if len(cpdf) <= rows:
            return _adc_query_axis(
                codes.sparkSession, codebooks, normsq, qids, Qm,
                cpdf[id_col].to_numpy(dtype=np.int64),
                _codes_matrix(cpdf["codes"], m), k)
    qn, ip = _np_query_luts(Qm, codebooks)
    return _adc_codes_axis(codes, normsq, qids, qn, ip, k, id_col)


def _adc_codes_axis(codes: DataFrame, normsq: list, qids: "np.ndarray",
                    qn: "np.ndarray", ip: list, k: int,
                    id_col: str) -> DataFrame:
    """Tasks own code partitions and score them against the broadcast
    lookup tables, folding each Arrow batch into one task-local top-k."""
    m = len(normsq)
    bl = codes.sparkSession.sparkContext.broadcast((qids, qn, ip))

    def score(batches):
        b_qids, b_qn, b_ip = bl.value
        best = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            blk = _adc_block_topk(_codes_matrix(pdf["codes"], m),
                                  pdf[id_col].to_numpy(dtype=np.int64),
                                  b_qn, b_ip, normsq, k)
            best = blk if best is None else _merge_topk([best, blk], k)
        if best is not None:
            yield _adc_frame(b_qids[best[0]], best[1], best[2])

    scored = codes.select(id_col, "codes").mapInPandas(score, _ADC_SCHEMA)
    return _topk_window(scored, "approx_cos", k)


def _adc_query_axis(spark, codebooks: list, normsq: list,
                    qids: "np.ndarray", Qm: "np.ndarray", ids: "np.ndarray",
                    C: "np.ndarray", k: int) -> DataFrame:
    """Tasks own disjoint query slices, build that slice of the lookup
    tables, and score it against the broadcast (id, codes) matrix."""
    sc = spark.sparkContext
    bq = sc.broadcast((qids, Qm))
    bcorpus = sc.broadcast((ids, C))
    Q = len(qids)
    # ~256 queries per slice floor keeps per-task numpy batches vectorized;
    # cap at defaultParallelism so one wave of tasks covers the stage
    n_slices = max(1, min(sc.defaultParallelism, (Q + 255) // 256))

    def score(batches):
        b_qids, b_Qm = bq.value
        b_ids, b_C = bcorpus.value
        for pdf in batches:
            for s in pdf["id"]:
                lo, hi = s * Q // n_slices, (s + 1) * Q // n_slices
                if lo >= hi or len(b_ids) == 0:
                    continue
                qn, ip = _np_query_luts(b_Qm[lo:hi], codebooks)
                qr, iD, sc_ = _adc_block_topk(b_C, b_ids, qn, ip, normsq, k)
                yield _adc_frame(b_qids[lo + qr], iD, sc_)

    scored = spark.range(0, n_slices, 1, n_slices).mapInPandas(
        score, _ADC_SCHEMA)
    return _topk_window(scored, "approx_cos", k)


def _seq_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _np_assign_cells(X: "np.ndarray", centroids: list) -> "np.ndarray":
    """Driver-side nearest-centroid-by-cosine assignment (first max wins)
    — the numpy analogue of :func:`ivf_assign`'s batch path, used where a
    bounded sample needs cells without a Spark job (residual codebook
    derivation)."""
    Cn = _unit_rows(np.asarray(centroids, dtype=np.float64))
    return np.argmax(X @ Cn.T, axis=1)


def residual_codebooks_fixed(corpus: DataFrame, centroids: list,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding", m: int = 8,
                             kc: int = 16) -> list:
    """Untrained residual codebooks: the (v - centroid) residuals of the
    ``kc`` smallest-id embeddings, split per subspace (the residual
    analogue of :func:`pq_codebooks_fixed`; deterministic)."""
    rows = corpus.select(id_col, vec_col).orderBy(id_col).limit(kc).collect()
    X = np.asarray([list(map(float, r[vec_col])) for r in rows],
                   dtype=np.float64)
    d = X.shape[1]
    if d % m:  # silent truncation of d % m trailing dims skews approx_cos
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    C = np.asarray(centroids, dtype=np.float64)
    R = X - C[_np_assign_cells(X, centroids)]
    sub = d // m
    return [[[float(x) for x in R[vi, mi * sub:(mi + 1) * sub]]
             for vi in range(len(R))] for mi in range(m)]


def train_residual_pq_codebooks(corpus: DataFrame, centroids: list,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding", m: int = 8,
                                kc: int = 16, sample_per_code: int = 32,
                                iters: int = 10, seed: int = 42) -> list:
    """Per-subspace k-means over RESIDUALS (v - nearest centroid) — the
    FAISS IVFPQ training rule: the codebooks model what's left after the
    coarse quantizer, so the same (m, kc) budget spends its resolution on
    a much tighter distribution.  Same bounded-deterministic-sample +
    driver-numpy discipline as :func:`train_pq_codebooks`."""
    n_sample = kc * sample_per_code
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(n_sample)
        .collect()
    )
    X = np.asarray([list(r[vec_col]) for r in rows], dtype=np.float64)
    d = X.shape[1]
    if d % m:  # misconfigured m must fail loudly, never skew approx_cos
        raise ValueError(f"embedding dim {d} not divisible by m={m} subspaces")
    C = np.asarray(centroids, dtype=np.float64)
    R = X - C[_np_assign_cells(X, centroids)]
    sub = d // m
    books = []
    rng = np.random.Generator(np.random.PCG64(seed))
    for mi in range(m):
        S = R[:, mi * sub:(mi + 1) * sub]
        B = S[rng.choice(len(S), size=min(kc, len(S)), replace=False)].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - B[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            newB = B.copy()
            for j in range(len(B)):
                pts = S[assign == j]
                if len(pts):
                    newB[j] = pts.mean(axis=0)
            if np.allclose(newB, B):
                break
            B = newB
        books.append([list(map(float, c)) for c in B])
    return books


def ivfpq_encode(corpus: DataFrame, centroids: list, codebooks: list,
                 residual: bool = False, id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    """``(id, cell, codes)`` index rows in one pass: cell assignment
    (native or numpy batch), then PQ codes of either the raw vector or —
    ``residual=True``, the FAISS IVFPQ rule — of ``v - centroid[cell]``
    (both subtractions and the encode accumulate per dim in scalar order,
    so an independent scalar model reproduces every code)."""
    import pandas as pd

    cells = ivf_assign(corpus.select(id_col, vec_col), centroids, vec_col)
    if not residual:
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
        return cells.select(id_col, "cell").join(codes, id_col)

    C = np.asarray(centroids, dtype=np.float64)

    def enc(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.asarray([list(v) for v in pdf[vec_col]], dtype=np.float64)
            cell = pdf["cell"].to_numpy(dtype=np.int64)
            codes = _pq_encode_rows(X - C[cell], codebooks)
            yield pd.DataFrame({
                "id": pdf[id_col].to_numpy(),
                "cell": cell.astype(np.int32),
                "codes": [list(map(int, c)) for c in codes],
            })

    return cells.select(id_col, vec_col, "cell").mapInPandas(
        enc, schema="id long, cell int, codes array<int>"
    ).withColumnRenamed("id", id_col)


def ivfpq_ann_topk(corpus: DataFrame, queries: DataFrame, k: int = 3,
                   n_centroids: int = 16, nprobe: int = 4, m: int = 8,
                   kc: int = 16, centroids: list | None = None,
                   codebooks: list | None = None, train: bool = False,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   residual: bool = False) -> DataFrame:
    """FAISS-IVFPQ composition: the coarse quantizer prunes the corpus to
    each query's ``nprobe`` nearest cells, and ADC over PQ codes scores
    ONLY those candidates — the two approximations multiply, and so do the
    savings: ~nprobe/n_centroids of the corpus is touched, at m lookups +
    adds per touched row over 8-int codes.

    Plan shape: corpus -> cell assignment (native or numpy batch, no
    shuffle) + PQ encode (numpy batch, no shuffle) -> equi-join with the
    broadcast (query_id, cell) probe pairs -> per-row LUT scoring keyed by
    query_id -> tiny per-query top-k window.  The probe ranking and lookup
    tables are built once on the driver with numpy in scalar float order
    (queries are the bounded broadcast set), keeping the whole operator
    bit-reproducible by an independent scalar reimplementation."""
    if centroids is None:
        centroids = (train_centroids(corpus, n_centroids, id_col, vec_col)
                     if train else
                     _centroid_arrays(corpus, id_col, vec_col, n_centroids))
    if codebooks is None:
        if residual:
            codebooks = (
                train_residual_pq_codebooks(corpus, centroids, id_col,
                                            vec_col, m, kc)
                if train else
                residual_codebooks_fixed(corpus, centroids, id_col, vec_col,
                                         m, kc))
        else:
            codebooks = (train_pq_codebooks(corpus, id_col, vec_col, m, kc)
                         if train else
                         pq_codebooks_fixed(corpus, id_col, vec_col, m, kc))
    indexed = ivfpq_encode(corpus, centroids, codebooks, residual,
                           id_col, vec_col)
    return ivfpq_adc_topk(indexed, centroids, codebooks, queries, k, nprobe,
                          id_col, vec_col, query_id_col, residual=residual)


def _np_query_cent_dots(Qm: "np.ndarray", centroids: list) -> "np.ndarray":
    """``(Q, n_centroids)`` inner products, vectorized ACROSS queries but
    accumulating per dim left-to-right — bit-identical to a scalar
    ``_seq_dot(qv, c)`` per query.  Shared by probe ranking and
    the residual ``<q, centroid>`` score term."""
    Q, d = Qm.shape
    dots = np.empty((Q, len(centroids)), dtype=np.float64)
    for ci, c in enumerate(centroids):
        acc = np.zeros(Q, dtype=np.float64)
        for j in range(d):
            acc = acc + Qm[:, j] * float(c[j])
        dots[:, ci] = acc
    return dots


def _np_probe_cells(Qm: "np.ndarray", centroids: list, nprobe: int) -> "np.ndarray":
    """(Q, nprobe) nearest-centroid indices by cosine, ties -> lower index.
    Vectorized ACROSS queries with the per-dim left-to-right accumulation
    order of a scalar per-query cosine, so the rankings are bit-identical
    to ``sorted((-cos, i))`` over it (stable argsort)."""
    import math

    Q, d = Qm.shape
    qsq = np.zeros(Q, dtype=np.float64)
    for j in range(d):
        qsq = qsq + Qm[:, j] * Qm[:, j]
    qn = np.sqrt(qsq)
    ncent = len(centroids)
    dots = _np_query_cent_dots(Qm, centroids)
    cn = np.empty(ncent, dtype=np.float64)
    for ci, c in enumerate(centroids):
        cn[ci] = math.sqrt(_seq_dot(c, c))
    cos = dots / (qn[:, None] * cn[None, :])
    return np.argsort(-cos, axis=1, kind="stable")[:, :min(nprobe, ncent)]


def ivfpq_adc_topk(indexed: DataFrame, centroids: list, codebooks: list,
                   queries: DataFrame, k: int = 3, nprobe: int = 4,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   query_id_col: str = "query_id",
                   residual: bool = False) -> DataFrame:
    """Query-time half of :func:`ivfpq_ann_topk` over an EXISTING
    ``(id, cell, codes)`` frame — usable directly against a persisted
    index (:mod:`httpz_spark.operators.simindex`); the corpus embeddings
    are never touched at query time.

    ``residual=True`` scores codes that quantize ``v - centroid[cell]``
    (the FAISS IVFPQ rule): the reconstruction is ``c + r̂``, so
    ``ip(q, x̂) = ip(q, c) + ip(q, r̂)`` adds one per-(query, cell) term,
    and ``|x̂|² = |c|² + Σ_mi (2⟨c_mi, r̂_mi⟩ + |r̂_mi|²)`` folds the
    cross term into one precomputed ``(n_centroids x m x kc)`` table —
    O(tables) driver/closure cost, still zero embedding reads.

    One path: the driver ranks probe cells (:func:`_np_probe_cells`) and
    builds the lookup tables (:func:`_np_query_luts`) once, vectorized in
    scalar float order; the tables ride a broadcast, the (query_id, cell)
    probe pairs a broadcast join, and each candidate row is scored by a
    vectorized ``(query_row, code)`` gather — no per-query python loop,
    so 10^5+ query sets neither sit in python loops nor bloat the task
    closure."""
    m = len(codebooks)
    qids, Qm = _collect_queries(queries, query_id_col, vec_col,
                                m * len(codebooks[0][0]))
    normsq = _adc_normsq(codebooks)
    qn, ip = _np_query_luts(Qm, codebooks)
    cnormsq = combo = qc = None
    if residual:
        cnormsq, combo = _residual_cell_tables(centroids, codebooks, normsq)
        qc = _np_query_cent_dots(Qm, centroids)  # (Q, n_centroids)
    cells = _np_probe_cells(Qm, centroids, nprobe)
    probe_pairs = [(int(qids[qi]), int(c))
                   for qi in range(len(qids)) for c in cells[qi]]
    spark = indexed.sparkSession
    probe_df = F.broadcast(
        spark.createDataFrame(probe_pairs, "query_id long, cell int")
    )
    cand = indexed.join(probe_df, "cell")
    bl = spark.sparkContext.broadcast((qids, qn, ip, qc))

    def score(batches):
        b_qids, b_qn, b_ip, b_qc = bl.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = _codes_matrix(pdf["codes"], m)
            rq = pdf["query_id"].to_numpy(dtype=np.int64)
            qidx = np.searchsorted(b_qids, rq)
            if residual:
                cell = pdf["cell"].to_numpy(dtype=np.int64)
                nsum = _code_sum(combo, C, cell, cnormsq[cell])
                # ⟨q, x̂⟩ = ⟨q, c⟩ + Σ_mi ⟨q_mi, r̂_mi⟩
                s = _code_sum(b_ip, C, qidx, b_qc[qidx, cell])
            else:
                nsum = _code_sum(normsq, C)
                s = _code_sum(b_ip, C, qidx)
            yield _adc_frame(rq, pdf[id_col].to_numpy(),
                             s / (b_qn[qidx] * np.sqrt(nsum)))

    sel = ["query_id", F.col(id_col), "codes"] + (["cell"] if residual else [])
    scored = cand.select(*sel).mapInPandas(score, _ADC_SCHEMA)
    return _topk_window(scored, "approx_cos", k)


def _residual_cell_tables(centroids: list, codebooks: list, normsq: list):
    """``(cnormsq[cell], combo[mi][cell, ki])`` as float64 arrays, where
    combo folds the reconstruction cross term: ``2·⟨c_mi, r̂_mi⟩ +
    |r̂_mi|²``.  Pure-python scalar accumulation (left-to-right per dim)."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    cnormsq = np.asarray([_seq_dot(c, c) for c in centroids], dtype=np.float64)
    combo = []
    for mi in range(m):
        t = []
        for c in centroids:
            row = []
            for ki, r in enumerate(codebooks[mi]):
                acc = 0.0
                for j in range(sub):
                    acc += 2.0 * float(c[mi * sub + j]) * float(r[j])
                row.append(acc + normsq[mi][ki])
            t.append(row)
        combo.append(np.asarray(t, dtype=np.float64))
    return cnormsq, combo
