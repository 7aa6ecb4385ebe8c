"""URL-seen dedup: persisted per-partition bloom/cuckoo pre-filter + exact anti-join.

Scale shape (the 10^10-frontier design):

* The seen table is the durable truth; the **BloomIndex** is a persisted,
  incrementally-updated acceleration structure: one numpy bit array per
  ``pmod(url_hash, P)`` partition, stored next to the state tables and
  OR-updated with each wave's *newly seen* keys only — the full seen table
  is never re-read or re-shipped after wave 0.
* Probing partitions the candidate side on pid so each task loads exactly
  one bloom file and tags every row ``maybe_seen``.  The exact check is ONE
  JVM ``left_anti`` join on ``key match AND maybe_seen``: bloom-absent rows
  (definitely unseen) can never match and pass through it, but every
  candidate and every seen key still enter that join — the filter shrinks
  neither of its sides.
* OR-updates are idempotent, so a re-run wave (resume path) converges to
  the same index; missing/corrupt bloom files degrade to the plain
  anti-join (correctness never depends on the bloom).

Correctness invariant (tested): output == plain left_anti(candidates, seen).

Measured (BENCH/BASELINE.md): the filter path is SLOWER than the plain
anti-join at every size measured — sample #9, 8M rows at ``local[8]``:
plain 4.60 Mops/s, bloom 1.54, cuckoo 1.92; the round-7 64M ladder at
``local[32]``: plain 11.46 Mops/s, bloom 4.01.  No measurement shows a
crossover.  Engine callers switch to the filter once the seen table
reaches ``EngineConfig.bloom_min_seen`` keys.

Two interchangeable filter structures (``EngineConfig.seen_filter``):
**BloomIndex** (smaller: 10 bits/key vs the cuckoo's ~19, idempotent OR
updates) and **CuckooIndex** (supports per-key DELETE — recrawl
invalidation of stale URLs is O(stale) instead of an O(seen) full
rebuild; see the cuckoo section below).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bloom_geometry(capacity: int, bits_per_key: int) -> tuple:
    m = max(1 << 10, capacity * bits_per_key)
    m = (m + 63) // 64 * 64
    k = max(1, min(16, int(round(bits_per_key * 0.6931))))
    return m, k


def _hash_positions(keys: np.ndarray, m: int, k: int) -> np.ndarray:
    """(n, k) bit positions via double hashing on the already-murmur'd
    url_hash keys (Kirsch-Mitzenmacher)."""
    u = keys.astype(np.uint64)
    h1 = u * np.uint64(0x9E3779B97F4A7C15)
    h2 = (u ^ (u >> np.uint64(33))) * np.uint64(0xC2B2AE3D27D4EB4F) | np.uint64(1)
    i = np.arange(k, dtype=np.uint64)[None, :]
    return ((h1[:, None] + i * h2[:, None]) % np.uint64(m)).astype(np.int64)


def bloom_or_keys(bits: np.ndarray, m: int, k: int, keys: np.ndarray) -> None:
    if len(keys):
        pos = _hash_positions(keys, m, k).ravel()
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))


def bloom_maybe(bits: np.ndarray, m: int, k: int, keys: np.ndarray) -> np.ndarray:
    """True = maybe-seen (needs exact check); False = definitely unseen."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    pos = _hash_positions(keys, m, k)
    probes = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return probes.all(axis=1)


#: skip the probe-aligning shuffle when the WHOLE filter set fits under
#: this many bytes: a task may then touch every filter file, so the bound
#: is per-worker memory/IO, not a core-count tune (64 MB x worker count
#: is noise next to the candidate shuffle it replaces; above it, the
#: aligned layout's one-file-per-task contract is the right trade).
_PROBE_ALIGN_BYTES = 64 << 20


def _probe_maybe_seen(candidates: DataFrame, key_col: str, partitions: int,
                      make_contains, align: bool = True) -> DataFrame:
    """The shared probe stage for both filter structures: adds
    ``maybe_seen boolean``.  With ``align=True`` candidates are
    repartitioned on pid so each task reads one filter file
    (candidate-side-only shuffle; the seen table is untouched) — the
    at-scale layout, where the filter set is far too big for one worker.
    With ``align=False`` the stage runs MAP-ONLY over the candidates'
    existing partitioning and each task loads whatever filter files its
    keys touch: the callers flip this on when the TOTAL filter byte size
    is small enough that a worker can hold the whole set, which deletes
    the only shuffle on the probe side (the fixed cost that dominated
    the probe stage's N→4N scaling at small N — BENCH/BASELINE.md
    sample #10).  ``make_contains(pid)`` returns a ``keys -> bool-mask``
    callable, or None when the pid must degrade to maybe-seen=True
    (absent/corrupt/saturated file — the exact anti-join recheck then
    preserves correctness).

    The stage is ``mapInArrow``, not ``mapInPandas``: it only READS the
    key column (numpy view) and APPENDS a boolean — pass-through columns
    (url/host/path strings at frontier width) are never boxed into pandas
    objects (measured numbers in BENCH/BASELINE.md's bloom section)."""
    import pyarrow as pa
    from pyspark.sql.types import BooleanType, StructField, StructType

    P = partitions
    out_schema = StructType(
        list(candidates.schema.fields) + [StructField("maybe_seen", BooleanType())]
    )

    def run(batches):
        cache: dict = {}
        for rb in batches:
            if rb.num_rows == 0:
                continue
            keys = rb.column(rb.schema.get_field_index(key_col)) \
                .to_numpy(zero_copy_only=False).astype(np.int64)
            pids = np.mod(keys, P)
            mask = np.zeros(rb.num_rows, dtype=bool)
            for pid in np.unique(pids):
                if pid not in cache:
                    cache[int(pid)] = make_contains(int(pid))
                contains = cache[int(pid)]
                sel = pids == pid
                if contains is None:
                    mask[sel] = True
                else:
                    mask[sel] = contains(keys[sel])
            yield pa.RecordBatch.from_arrays(
                list(rb.columns) + [pa.array(mask)],
                names=list(rb.schema.names) + ["maybe_seen"],
            )

    src = (candidates.repartition(P, F.pmod(F.col(key_col), F.lit(P)))
           if align else candidates)
    return src.mapInArrow(run, schema=out_schema)


class BloomIndex:
    """Persisted per-partition bloom filters over seen url_hash keys.

    Layout: ``<root>/meta.json`` + ``<root>/pid=<n>.npy`` (atomic replace).
    Production analogue: the same bytes as Iceberg puffin/sidecar files.
    """

    def __init__(self, root: str, partitions: int, capacity_per_part: int,
                 bits_per_key: int = 10):
        self.root = root
        self.partitions = partitions
        self.m, self.k = _bloom_geometry(capacity_per_part, bits_per_key)

    # -- lifecycle -----------------------------------------------------------
    @classmethod
    def open_or_create(cls, root: str, partitions: int = 32,
                       capacity_per_part: int = 1_000_000,
                       bits_per_key: int = 10) -> "BloomIndex":
        meta_path = os.path.join(root, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            idx = cls(root, meta["partitions"], 1, meta["bits_per_key"])
            idx.m, idx.k = meta["m"], meta["k"]
            return idx
        os.makedirs(root, exist_ok=True)
        idx = cls(root, partitions, capacity_per_part, bits_per_key)
        with open(meta_path + ".tmp", "w") as f:
            json.dump({"partitions": partitions, "m": idx.m, "k": idx.k,
                       "bits_per_key": bits_per_key}, f)
        os.replace(meta_path + ".tmp", meta_path)
        return idx

    def _path(self, pid: int) -> str:
        return os.path.join(self.root, f"pid={pid}.npy")

    def _load(self, pid: int) -> np.ndarray:
        try:
            return np.load(self._path(pid))
        except (FileNotFoundError, ValueError):
            return np.zeros(self.m // 8, dtype=np.uint8)

    def _store(self, pid: int, bits: np.ndarray) -> None:
        tmp = self._path(pid) + f".tmp{os.getpid()}"
        np.save(open(tmp, "wb"), bits)
        os.replace(tmp, self._path(pid))

    # -- update (driver-coordinated, executor-parallel) ------------------------
    def update(self, new_keys: DataFrame, key_col: str = "url_hash") -> None:
        """OR the new keys into their partition blooms.  Idempotent (pure
        OR), so re-running a wave converges.  Runs as one Spark job grouped
        on pid — each group touches exactly one file."""
        m, k, root, P = self.m, self.k, self.root, self.partitions
        path_of = self._path

        def upd(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"pid": pd.Series([], dtype="int64"),
                                     "n": pd.Series([], dtype="int64")})
            pid = int(pdf["_pid"].iloc[0])
            try:
                bits = np.load(path_of(pid))
            except (FileNotFoundError, ValueError):
                bits = np.zeros(m // 8, dtype=np.uint8)
            keys = pdf[key_col].to_numpy(dtype=np.int64)
            bloom_or_keys(bits, m, k, keys)
            tmp = path_of(pid) + f".tmp{os.getpid()}"
            np.save(open(tmp, "wb"), bits)
            os.replace(tmp, path_of(pid))
            return pd.DataFrame({"pid": [pid], "n": [len(keys)]})

        (
            new_keys.select(key_col)
            .withColumn("_pid", F.pmod(F.col(key_col), F.lit(P)))
            .groupby("_pid")
            .applyInPandas(upd, schema="pid long, n long")
            .count()  # action to execute the update job
        )

    # -- probe ----------------------------------------------------------------
    def probe(self, candidates: DataFrame, key_col: str = "url_hash") -> DataFrame:
        """Adds ``maybe_seen boolean`` via the shared mapInArrow stage
        (:func:`_probe_maybe_seen`); an unreadable bloom file degrades its
        pid to maybe-seen=True (the exact anti-join recheck)."""
        m, k = self.m, self.k
        path_of = self._path

        def make_contains(pid: int):
            try:
                bits = np.load(path_of(pid))
            except (ValueError, KeyError, EOFError, OSError):
                return None  # absent/corrupt -> degrade to exact check
            return lambda keys: bloom_maybe(bits, m, k, keys)

        total = self.partitions * (self.m // 8)
        return _probe_maybe_seen(candidates, key_col, self.partitions,
                                 make_contains,
                                 align=total > _PROBE_ALIGN_BYTES)


# ---------------------------------------------------------------------------
# Cuckoo filter (the north rule's other seen-set structure): same probe
# contract as the bloom — no false negatives for inserted keys — PLUS
# O(1) per-key DELETE, which the bloom cannot do.  The crawl use case is
# recrawl invalidation: when sitemap lastmod marks 10^5 of 10^10 seen URLs
# stale, the bloom path must rebuild the whole filter from the seen table
# (O(seen) scan); the cuckoo path deletes exactly the stale keys (O(stale)).
#
# Design (Fan et al., "Cuckoo Filter: Practically Better Than Bloom",
# CoNEXT'14): power-of-two buckets of 4 slots of 16-bit fingerprints
# (fp=0 reserved for empty -> FP rate ~= 2*4/2^16 ~= 0.012%); partial-key
# displacement i2 = i1 XOR (H(fp) & mask), an involution, so any stored
# fingerprint can recover its alternate bucket without the original key.
#
# MULTISET semantics, deliberately: re-inserting a key stores another copy
# (up to 8) instead of being skipped.  Idempotence-by-skip would break
# delete-exactness — two distinct keys sharing (fp, bucket-pair) would
# alias to one copy and deleting one would false-negative the other; with
# copies, a resume re-run costs duplicate fingerprints (space), never
# correctness.  Invariant: delete at most what was inserted.
# ---------------------------------------------------------------------------

_CUCKOO_SLOTS = 4
_ALT_MIX = 0x5BD1E995  # MurmurHash2 constant, mixes the 16-bit fp over buckets


def _cuckoo_geometry(capacity: int, load: float = 0.84) -> int:
    """Bucket count: smallest power of two holding ``capacity`` keys at the
    target load factor (0.84 sustains near-certain insert at 4 slots)."""
    nb = 1024
    while nb * _CUCKOO_SLOTS * load < capacity:
        nb <<= 1
    return nb


def _cuckoo_hashes(keys: np.ndarray, nbuckets: int):
    """(fp uint16 nonzero, i1 int64, i2 int64) for already-murmur'd keys."""
    u = keys.astype(np.uint64)
    h = (u ^ (u >> np.uint64(33))) * np.uint64(0xFF51AFD7ED558CCD)
    h ^= h >> np.uint64(33)
    fp = (h >> np.uint64(48)).astype(np.uint16)
    fp = np.where(fp == 0, np.uint16(1), fp)
    mask = np.uint64(nbuckets - 1)
    i1 = (h & mask).astype(np.int64)
    i2 = _cuckoo_alt(i1, fp, nbuckets)
    return fp, i1, i2


def _cuckoo_alt(i, fp, nbuckets: int):
    """Alternate bucket — involution: alt(alt(i, fp), fp) == i."""
    mask = np.uint64(nbuckets - 1)
    alt = (
        np.asarray(i).astype(np.uint64)
        ^ (np.asarray(fp).astype(np.uint64) * np.uint64(_ALT_MIX) & mask)
    )
    return alt.astype(np.int64)


def cuckoo_insert(table: np.ndarray, keys: np.ndarray, seed: int = 0x5EED,
                  max_kicks: int = 500) -> int:
    """Insert every key (multiset).  Returns the number that could NOT be
    placed — any nonzero return means the table is saturated and the caller
    MUST stop trusting negative probes (see CuckooIndex saturation flag).

    Bulk-vectorized: one pass per choice bucket places each key into a free
    slot (within-batch same-bucket collisions serialized by rank), then a
    seeded kick loop relocates the residue."""
    nb = table.shape[0]
    fp, i1, i2 = _cuckoo_hashes(keys, nb)
    todo = np.ones(len(keys), dtype=bool)
    for choice in (i1, i2):
        idx = np.flatnonzero(todo)
        if idx.size == 0:
            return 0
        bb = choice[idx]
        order = np.argsort(bb, kind="stable")
        sb = bb[order]
        grp = np.empty(len(sb), dtype=bool)
        grp[0] = True
        grp[1:] = sb[1:] != sb[:-1]
        starts = np.flatnonzero(grp)
        runs = np.diff(np.append(starts, len(sb)))
        rank = np.arange(len(sb)) - np.repeat(starts, runs)
        rows = table[sb]
        occ = (rows != 0).sum(axis=1)
        # free slots first (stable argsort of the occupied mask) so holes
        # left by deletes are refilled, not just trailing slots
        free_first = np.argsort(rows != 0, axis=1, kind="stable")
        fits = rank < (_CUCKOO_SLOTS - occ)
        slot = free_first[np.arange(len(sb)), np.minimum(rank, _CUCKOO_SLOTS - 1)]
        placed = idx[order][fits]
        table[sb[fits], slot[fits]] = fp[placed]
        todo[placed] = False
    failed = 0
    rng = np.random.RandomState(seed)
    pending = np.flatnonzero(todo)
    for done, j in enumerate(pending):
        if failed >= 8:
            # saturation is already certain (the flag is binary) — don't
            # burn max_kicks on every remaining key of a mis-sized table
            failed += len(pending) - done
            break
        f = int(fp[j])
        i = int(i1[j])
        for _ in range(max_kicks):
            row = table[i]
            free = np.flatnonzero(row == 0)
            if free.size:
                table[i, free[0]] = f
                break
            s = int(rng.randint(_CUCKOO_SLOTS))
            f, table[i, s] = int(row[s]), f
            i = int(_cuckoo_alt(np.int64(i), np.uint16(f), nb))
        else:
            failed += 1
    return failed


def cuckoo_contains(table: np.ndarray, keys: np.ndarray) -> np.ndarray:
    """True = maybe-present (FP ~0.012%); False = DEFINITELY absent."""
    if len(keys) == 0:
        return np.zeros(0, dtype=bool)
    fp, i1, i2 = _cuckoo_hashes(keys, table.shape[0])
    f = fp[:, None]
    return (table[i1] == f).any(axis=1) | (table[i2] == f).any(axis=1)


def cuckoo_delete(table: np.ndarray, keys: np.ndarray) -> int:
    """Remove ONE stored copy per key; returns how many keys had no copy.
    Only ever delete keys that were inserted (standard cuckoo contract) —
    deleting a never-inserted key can evict a colliding key's fingerprint."""
    nb = table.shape[0]
    fp, i1, i2 = _cuckoo_hashes(keys, nb)
    missing = 0
    for j in range(len(keys)):
        f = fp[j]
        for i in (i1[j], i2[j]):
            hit = np.flatnonzero(table[i] == f)
            if hit.size:
                table[i, hit[0]] = 0
                break
        else:
            missing += 1
    return missing


class CuckooIndex:
    """Persisted per-partition cuckoo filters over seen url_hash keys.

    Same layout/probe contract as BloomIndex (``<root>/meta.json`` +
    ``pid=<n>.npz`` atomic replace; missing/corrupt file or a saturated
    partition degrades that pid to maybe-seen=True, i.e. the exact
    anti-join recheck — correctness never depends on the filter), plus
    ``delete`` for O(stale) recrawl invalidation."""

    def __init__(self, root: str, partitions: int, capacity_per_part: int):
        self.root = root
        self.partitions = partitions
        self.nbuckets = _cuckoo_geometry(capacity_per_part)

    @classmethod
    def open_or_create(cls, root: str, partitions: int = 32,
                       capacity_per_part: int = 1_000_000) -> "CuckooIndex":
        meta_path = os.path.join(root, "meta.json")
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            idx = cls(root, meta["partitions"], 1)
            idx.nbuckets = meta["nbuckets"]
            return idx
        os.makedirs(root, exist_ok=True)
        idx = cls(root, partitions, capacity_per_part)
        with open(meta_path + ".tmp", "w") as f:
            json.dump({"kind": "cuckoo", "partitions": partitions,
                       "nbuckets": idx.nbuckets, "slots": _CUCKOO_SLOTS}, f)
        os.replace(meta_path + ".tmp", meta_path)
        return idx

    def _path(self, pid: int) -> str:
        return os.path.join(self.root, f"pid={pid}.npz")

    @staticmethod
    def _load_file(path: str, nbuckets: int):
        """(table, saturated, existed).  ABSENT file -> fresh table,
        existed=False (a mutate may start empty; a DELETE must not — see
        _mutate).  CORRUPT/TRUNCATED file (BadZipFile/EOFError/ValueError/
        KeyError/OSError) -> fresh table but saturated=True: the stored
        fingerprints are lost, so the partition must degrade to the exact
        anti-join forever rather than answer 'definitely unseen'."""
        import zipfile

        try:
            with np.load(path) as z:
                return z["table"], bool(z["saturated"]), True
        except FileNotFoundError:
            return np.zeros((nbuckets, _CUCKOO_SLOTS), dtype=np.uint16), False, False
        except (ValueError, KeyError, EOFError, OSError, zipfile.BadZipFile):
            return np.zeros((nbuckets, _CUCKOO_SLOTS), dtype=np.uint16), True, True

    @staticmethod
    def _store_file(path: str, table: np.ndarray, saturated: bool) -> None:
        tmp = path + f".tmp{os.getpid()}"
        np.savez(tmp, table=table, saturated=np.bool_(saturated))
        # np.savez appends .npz to a name without it
        os.replace(tmp if tmp.endswith(".npz") else tmp + ".npz", path)

    def _mutate(self, keys: DataFrame, key_col: str, op: str) -> None:
        """One Spark job grouped on pid; each group rewrites one file."""
        nb, P = self.nbuckets, self.partitions
        path_of, load, store = self._path, self._load_file, self._store_file

        def run(pdf: pd.DataFrame) -> pd.DataFrame:
            if len(pdf) == 0:
                return pd.DataFrame({"pid": pd.Series([], dtype="int64"),
                                     "n_fail": pd.Series([], dtype="int64")})
            pid = int(pdf["_pid"].iloc[0])
            table, saturated, existed = load(path_of(pid), nb)
            ks = pdf[key_col].to_numpy(dtype=np.int64)
            if op == "insert":
                failed = cuckoo_insert(table, ks, seed=0x5EED ^ pid)
                saturated = saturated or failed > 0
            else:
                if not existed:
                    # deleting from a pid with no file must NOT materialize
                    # an authoritative empty table (the probe would answer
                    # 'definitely unseen' for the whole partition); leave it
                    # absent so the probe keeps degrading to the exact join
                    return pd.DataFrame({"pid": [pid], "n_fail": [len(ks)]})
                failed = cuckoo_delete(table, ks)
                # a delete that found no stored copy means the caller broke
                # the delete-only-what-was-inserted contract (or the file
                # was reset); the only safe answer is degrade-to-exact
                saturated = saturated or failed > 0
            store(path_of(pid), table, saturated)
            return pd.DataFrame({"pid": [pid], "n_fail": [failed]})

        (
            keys.select(key_col)
            .withColumn("_pid", F.pmod(F.col(key_col), F.lit(P)))
            .groupby("_pid")
            .applyInPandas(run, schema="pid long, n_fail long")
            .count()
        )

    def update(self, new_keys: DataFrame, key_col: str = "url_hash") -> None:
        """Insert this wave's newly seen keys.  NOT idempotent like the
        bloom OR — a re-run wave stores duplicate copies (bounded space
        cost, never a correctness cost; see module multiset note)."""
        self._mutate(new_keys, key_col, "insert")

    def delete(self, stale_keys: DataFrame, key_col: str = "url_hash") -> None:
        """Remove stale keys (recrawl invalidation) — O(stale), no rebuild."""
        self._mutate(stale_keys, key_col, "delete")

    def probe(self, candidates: DataFrame, key_col: str = "url_hash") -> DataFrame:
        """Adds ``maybe_seen boolean`` via the shared mapInArrow stage
        (:func:`_probe_maybe_seen`); an absent, corrupt, or saturated pid
        degrades to maybe-seen=True (the exact anti-join recheck)."""
        nb = self.nbuckets
        path_of = self._path
        load = self._load_file

        def make_contains(pid: int):
            table, saturated, existed = load(path_of(pid), nb)
            if not existed or saturated:
                return None  # absent/corrupt/saturated -> exact recheck
            return lambda keys: cuckoo_contains(table, keys)

        total = self.partitions * self.nbuckets * _CUCKOO_SLOTS * 2
        return _probe_maybe_seen(candidates, key_col, self.partitions,
                                 make_contains,
                                 align=total > _PROBE_ALIGN_BYTES)


def dedup_unseen(
    candidates: DataFrame,
    seen: DataFrame | None,
    partitions: int = 32,
    bits_per_key: int = 10,
    key_col: str = "url_hash",
    bloom: "BloomIndex | CuckooIndex | None" = None,
) -> DataFrame:
    """Rows of ``candidates`` whose key is NOT in ``seen`` — exact semantics.

    Without an index this is the plain JVM ``left_anti`` (the faster path
    at every size measured, up to 64M rows — see the module docstring);
    with one (BloomIndex or CuckooIndex — same probe contract) the
    candidates are probed first and index-absent rows can never match in
    the anti-join, though they, and every seen key, still enter it.

    Plan shape: ONE anti-join whose condition is ``key match AND
    maybe_seen`` — maybe_seen=False rows can never match, so they pass
    through the same join (exact semantics) without the
    union-of-two-branches form, which evaluated the probe stage TWICE
    (two full candidate scans + shuffles + Arrow probes; AQE does not
    reuse the exchange across union branches — measured 3.48→2.67 s at 4M
    rows on the bloom path, BENCH/BASELINE.md)."""
    if seen is None:
        return candidates
    seen_keys = seen.select(key_col)
    if bloom is None:
        return candidates.join(seen_keys, key_col, "left_anti")

    probed = bloom.probe(candidates, key_col)
    return probed.join(
        seen_keys,
        (probed[key_col] == seen_keys[key_col]) & probed["maybe_seen"],
        "left_anti",
    ).drop("maybe_seen")
