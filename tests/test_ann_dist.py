"""ADC query path (pq_adc_topk / ivfpq_adc_topk).

The contract: one numpy scoring kernel behind a byte-bound dispatch.
``pq_adc_topk`` scores on the codes axis (broadcast lookup tables) or the
query axis (broadcast codes), whichever operand fits
``ADC_REPLICATION_BUDGET``; both axes are BIT-IDENTICAL to an independent
scalar ADC model on every (query_id, rank, neighbor_id, approx_cos) cell
— same float accumulation order, same tie rules — so the dispatch can
never change results, only the plan.
"""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from httpz_spark.operators import similarity as SIM
from httpz_spark.operators.simindex import IVFPQIndex, PQIndex

HUGE = 1 << 40  # a budget every test-sized operand fits


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def _queries(emb, n=8):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def _cells(df):
    return sorted(
        (r["query_id"], r["rank"], r["neighbor_id"], r["approx_cos"])
        for r in df.collect()
    )


def _seq_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def _seq_cos(a, b):
    return _seq_dot(a, b) / (math.sqrt(_seq_dot(a, a)) * math.sqrt(_seq_dot(b, b)))


def _scalar_adc(queries, rows, cb, k, cents=None, nprobe=None,
                residual=False):
    """Independent pure-python ADC: per query, score every candidate code
    row in left-to-right float order and keep the top k by (score desc,
    id asc).  ``rows`` are (id, cell, codes); with ``cents`` only the
    ``nprobe`` nearest cells (by cosine, ties -> lower cell) are scored,
    and ``residual`` adds the <q, c> score term and the |c|^2 +
    2<c_mi, r_mi> + |r_mi|^2 norm terms of residual codes."""
    m, sub = len(cb), len(cb[0][0])
    normsq = [[sum(c[j] * c[j] for j in range(sub)) for c in book]
              for book in cb]
    out = []
    for r in queries.collect():
        qid, qv = r["query_id"], [float(x) for x in r["embedding"]]
        qn = 0.0
        for x in qv:
            qn += x * x
        qn = qn ** 0.5
        ip = [[sum(qv[mi * sub + j] * c[j] for j in range(sub))
               for c in cb[mi]] for mi in range(m)]
        probed = None
        if cents is not None:
            coss = [_seq_cos(qv, c) for c in cents]
            probed = {i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:nprobe]}
        scored = []
        for vid, cell, codes in rows:
            if probed is not None and cell not in probed:
                continue
            if residual:
                c = cents[cell]
                s, nsum = _seq_dot(qv, c), _seq_dot(c, c)
                for mi in range(m):
                    cross = 0.0
                    for j in range(sub):
                        cross += 2.0 * float(c[mi * sub + j]) * float(cb[mi][codes[mi]][j])
                    nsum = nsum + (cross + normsq[mi][codes[mi]])
                    s = s + ip[mi][codes[mi]]
            else:
                s, nsum = ip[0][codes[0]], normsq[0][codes[0]]
                for mi in range(1, m):
                    s = s + ip[mi][codes[mi]]
                    nsum = nsum + normsq[mi][codes[mi]]
            scored.append((-(s / (qn * math.sqrt(nsum))), vid))
        for rank, (neg, vid) in enumerate(sorted(scored)[:k], start=1):
            out.append((qid, rank, vid, -neg))
    return sorted(out)


def _code_rows(codes_df):
    return [(r["vec_id"], r.asDict().get("cell"), list(r["codes"]))
            for r in codes_df.collect()]


def _both_axes(monkeypatch, codes, cb, q, k):
    """pq_adc_topk forced onto the codes axis, then the query axis (a
    budget the codes exactly fit but the lookup tables do not)."""
    n = codes.count()
    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", HUGE)
    on_codes = _cells(SIM.pq_adc_topk(codes, cb, q, k=k))
    budget = n * (8 + 4 * len(cb))
    assert 8 * q.count() * sum(map(len, cb)) > budget  # forces the query axis
    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", budget)
    on_queries = _cells(SIM.pq_adc_topk(codes, cb, q, k=k))
    return on_codes, on_queries


@pytest.fixture
def spy(spark, monkeypatch):
    """Records driver actions on DataFrames and which ADC axis ran."""
    calls = []
    cls = type(spark.range(0))  # the session's concrete DataFrame class
    for name in ("toPandas", "count", "collect", "limit"):
        real = getattr(cls, name)

        def wrapped(self, *a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(self, *a, **kw)

        monkeypatch.setattr(cls, name, wrapped)
    for name in ("_adc_codes_axis", "_adc_query_axis"):
        real = getattr(SIM, name)

        def wrapped(*a, _real=real, _name=name, **kw):
            calls.append(_name)
            return _real(*a, **kw)

        monkeypatch.setattr(SIM, name, wrapped)
    return calls


def test_np_query_luts_bit_equal_to_driver_luts(spark, emb):
    """The vectorized LUT builder reproduces the pure-python one bit for
    bit (same left-to-right per-dim adds, one sqrt)."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    qpdf = (
        emb.filter(F.col("vec_id") < 16)
        .orderBy("vec_id").select("embedding").toPandas()
    )
    Qm = np.asarray([list(map(float, v)) for v in qpdf["embedding"]],
                    dtype=np.float64)
    qnorm, ip = SIM._np_query_luts(Qm, cb)
    m, sub = len(cb), len(cb[0][0])
    for qi in range(len(Qm)):
        qv = [float(x) for x in Qm[qi]]
        qn = 0.0
        for x in qv:
            qn += x * x
        qn = qn ** 0.5
        assert qnorm[qi] == qn  # bit equality, not approx
        for mi in range(m):
            for ki, c in enumerate(cb[mi]):
                ref = sum(qv[mi * sub + j] * c[j] for j in range(sub))
                assert ip[mi][qi, ki] == ref


def test_select_topk_matches_brute_force():
    rng = np.random.Generator(np.random.PCG64(7))
    qrows = rng.integers(0, 5, size=400)
    ids = rng.integers(0, 50, size=400)
    scores = rng.choice(np.linspace(-1, 1, 21), size=400)  # force ties
    qr, iD, sc = SIM._select_topk(qrows, ids, scores.astype(np.float64), 3)
    got = sorted(zip(qr.tolist(), iD.tolist(), sc.tolist()))
    want = []
    for q in np.unique(qrows):
        cand = sorted(
            [(-scores[i], ids[i]) for i in range(400) if qrows[i] == q]
        )[:3]
        want.extend((int(q), int(i), float(-s)) for s, i in cand)
    assert got == sorted(want)


def test_pq_adc_distributed_bit_equal(spark, emb, monkeypatch):
    """kc=16: query axis == codes axis == the scalar ADC model."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb, cb).persist()
    q = _queries(emb, 48)
    on_codes, on_queries = _both_axes(monkeypatch, codes, cb, q, 3)
    assert on_codes == on_queries == _scalar_adc(q, _code_rows(codes), cb, 3)
    codes.unpersist()


def test_pq_adc_axes_bit_equal_scalar_model_kc256(spark, emb, monkeypatch):
    """kc=256 (8-bit PQ, the bench geometry): query axis == codes axis ==
    the scalar ADC model."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=256)
    codes = SIM.pq_encode(emb.limit(400), cb).persist()
    q = _queries(emb, 24)
    on_codes, on_queries = _both_axes(monkeypatch, codes, cb, q, 3)
    assert on_codes == on_queries == _scalar_adc(q, _code_rows(codes), cb, 3)
    codes.unpersist()


def test_pq_adc_distributed_bit_equal_small_chunks(spark, emb, monkeypatch):
    """Many partitions of a few tiny Arrow batches each: the codes axis
    folds every batch into its task-local top-k, and the final window
    merges 16 tasks' partials — still equal to the query axis and the
    scalar model."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(300), cb).repartition(16).persist()
    q = _queries(emb, 64)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        on_codes, on_queries = _both_axes(monkeypatch, codes, cb, q, 2)
    finally:
        spark.conf.set(key, old)
    assert on_codes == on_queries == _scalar_adc(q, _code_rows(codes), cb, 2)
    codes.unpersist()


def test_ivfpq_adc_distributed_bit_equal(spark, emb):
    """Raw IVFPQ: probed-cell ADC == the scalar model (probe ranking by
    sequential cosine, scalar lookup tables)."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    cells = SIM.ivf_assign(emb.select("vec_id", "embedding"), cents)
    codes = SIM.pq_encode(emb, cb)
    indexed = cells.select("vec_id", "cell").join(codes, "vec_id").persist()
    q = _queries(emb)
    got = _cells(SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=3, nprobe=4))
    assert got == _scalar_adc(q, _code_rows(indexed), cb, 3, cents, 4)
    indexed.unpersist()


def test_np_probe_cells_matches_seq_cos_ranking(spark, emb):
    """Probe-cell ranking: vectorized argsort(-cos, stable) ==
    sorted((-_seq_cos, i)) over a scalar cosine for every query."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    qpdf = _queries(emb, 32).orderBy("query_id").select("embedding").toPandas()
    Qm = np.asarray([list(map(float, v)) for v in qpdf["embedding"]],
                    dtype=np.float64)
    got = SIM._np_probe_cells(Qm, cents, 4)
    for qi in range(len(Qm)):
        qv = [float(x) for x in Qm[qi]]
        coss = [_seq_cos(qv, c) for c in cents]
        want = [i for _, i in sorted((-c, i) for i, c in enumerate(coss))[:4]]
        assert got[qi].tolist() == want


def test_adc_dispatch_by_bytes(spark, emb, monkeypatch, spy):
    """The axis follows bytes, and each call runs only the driver actions
    its axis needs: lookup tables within budget -> codes axis with just
    the query collect (no probe, no codes collect); tables over budget
    but codes within -> query axis with ONE bounded codes collect (no
    separate count probe); both over -> codes axis."""
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    codes = SIM.pq_encode(emb.limit(200), cb).persist()
    n = codes.count()
    q = _queries(emb, 8)
    lut_bytes = 8 * 8 * 8 * 16
    row_bytes = 8 + 4 * 8

    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", lut_bytes)
    spy.clear()
    small = SIM.pq_adc_topk(codes, cb, q, k=2)
    assert spy == ["toPandas", "_adc_codes_axis"]

    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", n * row_bytes)
    assert lut_bytes > n * row_bytes
    spy.clear()
    by_query = SIM.pq_adc_topk(codes, cb, q, k=2)
    assert spy == ["toPandas", "limit", "toPandas", "_adc_query_axis"]

    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", (n - 1) * row_bytes)
    spy.clear()
    both_over = SIM.pq_adc_topk(codes, cb, q, k=2)
    assert spy == ["toPandas", "limit", "toPandas", "_adc_codes_axis"]

    assert _cells(small) == _cells(by_query) == _cells(both_over)
    codes.unpersist()


def test_adc_zero_queries_empty_frame(spark, emb):
    """Q = 0 returns an empty frame with the operators' output schema."""
    want = [("query_id", "bigint"), ("neighbor_id", "bigint"),
            ("approx_cos", "double"), ("rank", "int")]
    cb = SIM.pq_codebooks_fixed(emb, m=8, kc=16)
    none = _queries(emb, 0)
    pq = SIM.pq_adc_topk(SIM.pq_encode(emb, cb), cb, none, k=3)
    assert pq.dtypes == want and pq.count() == 0
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    indexed = SIM.ivfpq_encode(emb, cents, cb)
    ivf = SIM.ivfpq_adc_topk(indexed, cents, cb, none, k=3, nprobe=2)
    assert ivf.dtypes == want and ivf.count() == 0


def test_index_topk_passthrough(spark, emb, tmp_path, monkeypatch):
    """PQIndex/IVFPQIndex.topk forward to the ADC operators: persisted-
    index queries are identical on both PQ axes, and IVFPQ matches the
    operator over the persisted rows."""
    q = _queries(emb, 48)
    pq = PQIndex.build(spark, str(tmp_path / "pq"), emb.limit(400),
                       m=8, kc=16, train=False)
    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", HUGE)
    on_codes = _cells(pq.topk(q, k=3))
    monkeypatch.setattr(SIM, "ADC_REPLICATION_BUDGET", 400 * (8 + 4 * 8))
    assert _cells(pq.topk(q, k=3)) == on_codes
    ivf = IVFPQIndex.build(spark, str(tmp_path / "ivfpq"), emb.limit(400),
                           n_centroids=8, m=8, kc=16)
    assert _cells(ivf.topk(q, k=3, nprobe=3)) == _cells(SIM.ivfpq_adc_topk(
        ivf.rows(), ivf.centroids, ivf.codebooks, q, k=3, nprobe=3))


# -- residual IVFPQ (FAISS rule: quantize v - centroid[cell]) ---------------


def test_ivfpq_residual_encode_matches_scalar_model(spark, emb):
    """Residual codes == PQ codes of (v - centroid[cell]) computed by an
    independent per-row scalar pass."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.residual_codebooks_fixed(emb, cents, m=8, kc=16)
    rows = (
        SIM.ivfpq_encode(emb.limit(64), cents, cb, residual=True)
        .orderBy("vec_id").collect()
    )
    pdf = emb.limit(64).orderBy("vec_id").toPandas()
    X = np.asarray([list(map(float, v)) for v in pdf["embedding"]],
                   dtype=np.float64)
    C = np.asarray(cents, dtype=np.float64)
    for r, vid in zip(rows, pdf["vec_id"]):
        assert r["vec_id"] == vid
        want = SIM._pq_encode_rows(
            X[pdf["vec_id"].tolist().index(vid)][None, :] - C[r["cell"]][None, :], cb
        )[0]
        assert list(r["codes"]) == [int(x) for x in want]


def test_ivfpq_residual_scores_match_reconstruction(spark, emb):
    """approx_cos under residual=True equals cos(q, centroid + r̂) by an
    independent numpy reconstruction (the folded |x̂|² / cross-term tables
    are algebra, not approximation)."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 8)
    cb = SIM.residual_codebooks_fixed(emb, cents, m=8, kc=16)
    indexed = SIM.ivfpq_encode(emb.limit(200), cents, cb, residual=True)
    q = _queries(emb, 4)
    got = SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=5, nprobe=3,
                             residual=True)
    code_by_id = {r["vec_id"]: (r["cell"], list(r["codes"]))
                  for r in indexed.collect()}
    qv_by_id = {r["query_id"]: np.asarray(list(map(float, r["embedding"])))
                for r in q.collect()}
    C = np.asarray(cents, dtype=np.float64)
    m, sub = len(cb), len(cb[0][0])
    for r in got.collect():
        cell, codes = code_by_id[r["neighbor_id"]]
        rhat = np.concatenate([np.asarray(cb[mi][codes[mi]]) for mi in range(m)])
        xhat = C[cell] + rhat
        qv = qv_by_id[r["query_id"]]
        want = float(qv @ xhat / (np.linalg.norm(qv) * np.linalg.norm(xhat)))
        assert abs(r["approx_cos"] - want) < 1e-9


def test_ivfpq_residual_bit_equal_scalar_model(spark, emb):
    """Residual IVFPQ == the scalar model's <q, c> + Σ ip score over
    |c|^2 + Σ (2<c_mi, r_mi> + |r_mi|^2) norms, bit for bit."""
    cents = SIM._centroid_arrays(emb, "vec_id", "embedding", 16)
    cb = SIM.train_residual_pq_codebooks(emb, cents, m=8, kc=16)
    indexed = SIM.ivfpq_encode(emb, cents, cb, residual=True).persist()
    q = _queries(emb)
    got = _cells(SIM.ivfpq_adc_topk(indexed, cents, cb, q, k=3, nprobe=4,
                                    residual=True))
    assert got == _scalar_adc(q, _code_rows(indexed), cb, 3, cents, 4,
                              residual=True)
    indexed.unpersist()


def test_ivfpq_residual_recall_beats_raw(spark, emb):
    """The FAISS rationale made measurable: at the SAME (m, kc) budget,
    quantizing residuals (a much tighter distribution than raw vectors)
    must recover more of the exact top-k."""
    queries = _queries(emb, 8)
    exact = {}
    for r in SIM.cosine_topk(emb, queries, k=5).collect():
        exact.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(residual):
        got = {}
        res = SIM.ivfpq_ann_topk(emb, queries, k=5, n_centroids=16,
                                 nprobe=4, m=8, kc=16, train=True,
                                 residual=residual)
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(exact[q] & got[q]) for q in exact)
        return hits / sum(len(v) for v in exact.values())

    raw, res = recall(False), recall(True)
    assert res > raw, (res, raw)


def test_ivfpq_index_residual_persist_roundtrip(spark, emb, tmp_path):
    """residual flag persists in the meta file; a reopened index scores
    identically."""
    q = _queries(emb, 6)
    built = IVFPQIndex.build(spark, str(tmp_path / "r"), emb.limit(400),
                             n_centroids=8, m=8, kc=16, residual=True)
    assert built.residual
    reopened = IVFPQIndex.open(spark, str(tmp_path / "r"))
    assert reopened.residual
    assert _cells(reopened.topk(q, k=3, nprobe=3)) == \
        _cells(built.topk(q, k=3, nprobe=3))
