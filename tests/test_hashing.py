"""Murmur3 x64_128 correctness — pinned to the public SMHasher constant."""

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from httpz_spark.functions.hashing import (
    hash64_low,
    hash64_str_batch_np,
    murmur3_x64_128,
)


def test_smhasher_verification_value():
    # Authoritative public verification value for MurmurHash3_x64_128
    # (SMHasher VerificationTest): hash keys [0, 1, ..., len-1] for len
    # 0..255 seeded with 256-len, hash the concatenated 256*16 result bytes
    # with seed 0; the value is the low 32 bits of the first 8-byte word.
    buf = bytearray()
    for i in range(256):
        h1, h2 = murmur3_x64_128(bytes(range(i)), 256 - i)
        buf += h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
    assert murmur3_x64_128(bytes(buf), 0)[0] & 0xFFFFFFFF == 0x6384BA69


def test_known_vectors():
    # Widely-published mmh3 values (mmh3.hash64(b'foo') etc.).
    assert hash64_low(b"foo") == -2129773440516405919
    assert murmur3_x64_128(b"foo")[1] == 9128664383759220103
    assert murmur3_x64_128(b"") == (0, 0)


@given(st.binary(min_size=0, max_size=64), st.integers(min_value=0, max_value=2**32 - 1))
@settings(max_examples=200, deadline=None)
def test_range_and_determinism(data, seed):
    h1a, h2a = murmur3_x64_128(data, seed)
    h1b, h2b = murmur3_x64_128(data, seed)
    assert (h1a, h2a) == (h1b, h2b)
    assert 0 <= h1a < 2**64 and 0 <= h2a < 2**64
    assert -(2**63) <= hash64_low(data, seed) < 2**63


def test_batch_matches_scalar():
    vals = ["", "a", "example.com", "https://h1.test/img00000001", None]
    out = hash64_str_batch_np(pd.Series(vals, dtype="object"))
    for v, h in zip(vals, out):
        if v is None:
            assert pd.isna(h)
        else:
            assert h == hash64_low(v.encode("utf-8"))


def test_favicon_hash_semantics():
    # parsers.py:238-250 — empty -> None; value is str(signed 64-bit);
    # content is capped at FAVICON_MAX_BYTES before hashing.
    from httpz_spark.parity.refmodel import FAVICON_MAX_BYTES, favicon_hash

    assert favicon_hash(None) is None and favicon_hash(b"") is None
    assert favicon_hash(b"\x89PNG fake icon") == str(hash64_low(b"\x89PNG fake icon"))
    big = bytes(range(256)) * (FAVICON_MAX_BYTES // 256 + 64)
    assert favicon_hash(big) == str(hash64_low(big[:FAVICON_MAX_BYTES]))
    assert favicon_hash(big) != str(hash64_low(big))


@given(
    st.lists(
        st.one_of(st.none(), st.text(max_size=64)),
        min_size=1, max_size=64,
    )
)
@settings(max_examples=100, deadline=None)
def test_vectorized_matches_scalar(vals):
    out = hash64_str_batch_np(pd.Series(vals, dtype="object"))
    for v, h in zip(vals, out):
        if v is None:
            assert pd.isna(h)
        else:
            assert h == hash64_low(v.encode("utf-8")), repr(v)


def test_warc_writer_layout_one_file_per_task(spark, tmp_path):
    # the writer's own output: no exchange follows its stage, so each CDX
    # row's spark_partition_id() is the task that wrote it — file
    # part-<i> must be written by task i = pmod(hash(url), n_files), and
    # 4000 urls leave no file (task) empty
    import os

    from pyspark.sql import functions as F

    from httpz_spark.sources.warc import write_warc

    src = spark.range(4000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97).cast("string"),
                 F.lit(".example/p/"), F.col("id").cast("string")).alias("url"),
        F.lit("2026-01-01T00:00:00Z").alias("date"),
        F.lit(200).alias("status"),
        F.lit("text/html").alias("content_type"),
        F.encode(F.col("id").cast("string"), "UTF-8").alias("body"),
    )
    for n_files in (4, 16, 64):
        out = str(tmp_path / f"warc_{n_files}")
        rows = write_warc(src, out, n_files=n_files).select(
            "warc_file", F.spark_partition_id().alias("task"),
            F.pmod(F.hash("url"), F.lit(n_files)).alias("h")).collect()
        assert len(rows) == 4000
        wrong = [r for r in rows
                 if r["task"] != r["h"]
                 or r["warc_file"] != f"part-{r['task']:05d}.warc.gz"]
        assert not wrong, (n_files, wrong[:3])
        assert len({r["task"] for r in rows}) == n_files
        files = sorted(f for f in os.listdir(out) if f.endswith(".warc.gz"))
        assert files == [f"part-{i:05d}.warc.gz" for i in range(n_files)]
