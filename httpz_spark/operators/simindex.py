"""Persisted ANN index — build once, query many, update incrementally.

At 100 TB the PQ encode pass is the expensive step (one full scan of the
embedding column); queries then only need the m-small-ints codes and the
driver-side codebooks.  This module persists exactly that split:

* ``pq_codes`` — a :class:`httpz_spark.plans.statestore.StateStore` table
  (atomic versioned commits, merge-on-read upserts keyed on the vector
  id, bounded delta chains).  ``add()`` encodes ONLY the new rows and
  lands them as a delta — write cost O(new), never O(corpus), and
  re-running the same add converges (same codes, newest-wins resolve).
* ``pq_meta.json`` — codebooks + geometry, atomically swapped
  (``os.replace``) next to the store.  Codebooks are O(m·kc·sub) floats:
  driver/JSON scale by construction.

Production swap-in follows the statestore contract: the codes table is
an Iceberg table MERGEd on the id, the meta file lives beside it.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from httpz_spark.operators.similarity import (
    _centroid_arrays,
    ivfpq_adc_topk,
    ivfpq_encode,
    pq_adc_topk,
    pq_codebooks_fixed,
    pq_encode,
    residual_codebooks_fixed,
    train_centroids,
    train_pq_codebooks,
    train_residual_pq_codebooks,
)
from httpz_spark.plans.statestore import StateStore


class PQIndex:
    """Persisted product-quantization index over an embedding corpus."""

    def __init__(self, spark: SparkSession, root: str, codebooks: list,
                 id_col: str, vec_col: str):
        self.spark = spark
        self.root = root
        self.codebooks = codebooks
        self.id_col = id_col
        self.vec_col = vec_col
        self._store = StateStore(spark, root)

    # -- lifecycle -----------------------------------------------------------
    @classmethod
    def build(cls, spark: SparkSession, root: str, corpus: DataFrame,
              m: int = 8, kc: int = 256, train: bool = True,
              id_col: str = "vec_id", vec_col: str = "embedding") -> "PQIndex":
        """One full encode pass over ``corpus`` -> persisted index."""
        codebooks = (train_pq_codebooks(corpus, id_col, vec_col, m, kc)
                     if train else
                     pq_codebooks_fixed(corpus, id_col, vec_col, m, kc))
        idx = cls(spark, root, codebooks, id_col, vec_col)
        os.makedirs(root, exist_ok=True)
        meta = {"codebooks": codebooks, "m": m, "kc": kc,
                "id_col": id_col, "vec_col": vec_col}
        tmp = idx._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, idx._meta_path())
        codes = pq_encode(corpus, codebooks, id_col, vec_col)
        idx._store.merge_upsert("pq_codes", codes, key=id_col)
        return idx

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "PQIndex":
        """Reopen a persisted index (new session, new driver — the
        build-once workflow)."""
        with open(os.path.join(root, "pq_meta.json")) as f:
            meta = json.load(f)
        return cls(spark, root, meta["codebooks"], meta["id_col"],
                   meta["vec_col"])

    def _meta_path(self) -> str:
        return os.path.join(self.root, "pq_meta.json")

    # -- maintenance ---------------------------------------------------------
    def add(self, new_corpus: DataFrame) -> int:
        """Encode ONLY the new rows and MERGE them in (idempotent: same
        rows re-added resolve to the same snapshot; an id re-added with a
        new embedding shadows its old code, newest-wins)."""
        codes = pq_encode(new_corpus, self.codebooks, self.id_col,
                          self.vec_col)
        return self._store.merge_upsert("pq_codes", codes, key=self.id_col)

    def codes(self) -> DataFrame:
        df = self._store.read("pq_codes")
        if df is None:
            raise FileNotFoundError(f"no pq_codes table under {self.root}")
        return df

    # -- query ---------------------------------------------------------------
    def topk(self, queries: DataFrame, k: int = 3,
             query_id_col: str = "query_id") -> DataFrame:
        """ADC top-k straight off the persisted codes — the corpus
        embeddings are never read at query time.  One scoring kernel; the
        query lookup tables or the codes ride a broadcast, whichever fits
        the replication byte budget (see
        :func:`~httpz_spark.operators.similarity.pq_adc_topk`)."""
        return pq_adc_topk(self.codes(), self.codebooks, queries, k,
                           self.id_col, self.vec_col, query_id_col)


class IVFPQIndex:
    """Persisted FAISS-IVFPQ-shaped index: coarse centroids + PQ
    codebooks in the meta file, ``(id, cell, codes)`` rows in the MoR
    StateStore table.  Query time touches ~nprobe/n_centroids of the
    codes at ADC cost; the embedding column is never read."""

    META = "ivfpq_meta.json"

    def __init__(self, spark: SparkSession, root: str, centroids: list,
                 codebooks: list, id_col: str, vec_col: str,
                 residual: bool = False):
        self.spark = spark
        self.root = root
        self.centroids = centroids
        self.codebooks = codebooks
        self.id_col = id_col
        self.vec_col = vec_col
        self.residual = residual
        self._store = StateStore(spark, root)

    @classmethod
    def build(cls, spark: SparkSession, root: str, corpus: DataFrame,
              n_centroids: int = 16, m: int = 8, kc: int = 16,
              train: bool = False, id_col: str = "vec_id",
              vec_col: str = "embedding",
              residual: bool = False) -> "IVFPQIndex":
        """``residual=True`` stores codes of ``v - centroid[cell]`` (the
        FAISS IVFPQ rule) and codebooks trained/derived over residuals;
        the flag is persisted in the meta file so reopened indexes score
        with the matching ADC tables."""
        centroids = (train_centroids(corpus, n_centroids, id_col, vec_col)
                     if train else
                     _centroid_arrays(corpus, id_col, vec_col, n_centroids))
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
        idx = cls(spark, root, centroids, codebooks, id_col, vec_col,
                  residual)
        os.makedirs(root, exist_ok=True)
        tmp = os.path.join(root, cls.META + ".tmp")
        with open(tmp, "w") as f:
            json.dump({"centroids": centroids, "codebooks": codebooks,
                       "id_col": id_col, "vec_col": vec_col,
                       "residual": residual}, f)
        os.replace(tmp, os.path.join(root, cls.META))
        idx._store.merge_upsert("ivfpq_rows", idx._encode(corpus),
                                key=id_col)
        return idx

    @classmethod
    def open(cls, spark: SparkSession, root: str) -> "IVFPQIndex":
        with open(os.path.join(root, cls.META)) as f:
            meta = json.load(f)
        return cls(spark, root, meta["centroids"], meta["codebooks"],
                   meta["id_col"], meta["vec_col"],
                   meta.get("residual", False))

    def _encode(self, corpus: DataFrame) -> DataFrame:
        return ivfpq_encode(corpus, self.centroids, self.codebooks,
                            self.residual, self.id_col, self.vec_col)

    def add(self, new_corpus: DataFrame) -> int:
        """Assign + encode ONLY the new rows and MERGE them (idempotent;
        newest-wins on re-ingested ids)."""
        return self._store.merge_upsert("ivfpq_rows",
                                        self._encode(new_corpus),
                                        key=self.id_col)

    def rows(self) -> DataFrame:
        df = self._store.read("ivfpq_rows")
        if df is None:
            raise FileNotFoundError(f"no ivfpq_rows table under {self.root}")
        return df

    def topk(self, queries: DataFrame, k: int = 3, nprobe: int = 4,
             query_id_col: str = "query_id") -> DataFrame:
        """ADC top-k over the ``nprobe`` nearest cells of each query,
        straight off the persisted rows: driver-built lookup tables ride
        a broadcast and one vectorized gather scores every candidate (see
        :func:`~httpz_spark.operators.similarity.ivfpq_adc_topk`)."""
        return ivfpq_adc_topk(self.rows(), self.centroids, self.codebooks,
                              queries, k, nprobe, self.id_col, self.vec_col,
                              query_id_col, residual=self.residual)
