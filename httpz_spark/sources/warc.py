"""WARC archive IO — the crawl-tier sink/source pair (Common Crawl's
interchange format, ISO 28500).

* :func:`write_warc` — distributed archive writer: the record of ``url``
  goes to file ``part-<pmod(hash(url), n_files)>``, the partition
  ``repartition(n_files, "url")`` sends it to, so task i writes file i.
  Rows are pre-sorted in CDX order and the Arrow stage streams them to
  ``<file>.warc[.gz]`` on the executor while emitting the CDX index rows
  (surt, offset, length, digest) for the bytes it ACTUALLY wrote — index
  and archive cannot drift because they are produced by the same pass.
  ``.gz`` files use one gzip member per record (the WARC-spec
  record-at-time compression), so a CDX offset is directly seekable.
  WET/WAT derivation and :func:`compact_warc` share that layout and loop.
* :func:`read_warc` — archive source: ``binaryFile`` scan (one task per
  WARC file — exactly how Common Crawl jobs parallelize) + an Arrow
  stage running a clean-room ISO 28500 parser (header block,
  Content-Length-framed payload, CRLF CRLF trailer; HTTP head split out
  of ``application/http`` payloads).

Scale shape: no driver state, no collect; a 100k-file archive is 100k
independent write/read tasks.  Writes target a shared filesystem path
(the local analogue of the HDFS/S3 sink a cluster deployment would use).

Determinism: gzip members are written with mtime=0 and fixed compression
level, and record framing is fully hash-derived (functions/warcx.py), so
a retried task overwrites its file byte-identically (os.replace keeps
the swap atomic).
"""

from __future__ import annotations

import os
import zlib
from typing import Iterator

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from httpz_spark.functions.warcx import (mark_revisits, surt_key,
                                         warc_conversion_record,
                                         warc_metadata_record, warc_record,
                                         warc_record_auto)

CDX_SCHEMA = (
    "surt string, url string, date string, status int, mime string, "
    "digest string, warc_file string, offset long, length long, "
    "record_length long"
)
_CDX_COLS = [f.split()[0] for f in CDX_SCHEMA.split(",")]
#: pyarrow types of the CDX_SCHEMA columns, in order
_CDX_ARROW = ["string", "string", "string", "int32", "string", "string",
              "string", "int64", "int64", "int64"]
#: the CDX columns a writer's input carries through the exchange
_CDX_KEYS = _CDX_COLS[:6]

READ_SCHEMA = (
    "warc_file string, offset long, record_id string, warc_type string, "
    "date string, target_uri string, payload_digest string, "
    "refers_to string, http_status int, http_content_type string, "
    "body binary, record_length long"
)

#: gzip member header: magic, CM=deflate, FLG=0, MTIME=0, XFL=0, OS=unknown —
#: the exact bytes GzipFile(compresslevel=6, mtime=0) writes.
_GZ_HDR = b"\x1f\x8b\x08\x00\x00\x00\x00\x00\x00\xff"


def _gzip_member(raw: bytes, level: int = 6) -> bytes:
    """One standalone gzip member for ``raw`` — what the record-at-a-time
    archive writer emits so CDX offsets seek directly.  Hand-framed
    instead of a ``gzip.GzipFile`` per record: the file-object machinery
    plus zlib's default 256 KB workspace allocation per member dominated
    the write stage at archive scale (measured 60 → 19 µs/record;
    ``memLevel=1`` shrinks the deflate hash workspace, which for
    record-sized payloads changes compression ratio negligibly while
    tripling member throughput).  Deterministic for fixed input — a
    retried task rewrites byte-identical files, preserving the
    exactly-once os.replace contract."""
    import struct

    co = zlib.compressobj(level, zlib.DEFLATED, -zlib.MAX_WBITS, 1, 0)
    return (_GZ_HDR + co.compress(raw) + co.flush()
            + struct.pack("<II", zlib.crc32(raw) & 0xFFFFFFFF,
                          len(raw) & 0xFFFFFFFF))


def write_warc(df: DataFrame, path: str, n_files: int = 8,
               compress: bool = True, url_col: str = "url",
               date_col: str = "date", status_col: str = "status",
               content_type_col: str = "content_type",
               body_col: str = "body", revisits: bool = False) -> DataFrame:
    """Write ``df`` as a WARC archive under ``path``; RETURNS the CDX
    index frame (lazy — the files are written when the returned frame is
    acted on; persist/write it immediately, once).

    Input needs (url, date, status, content_type, body:binary); anything
    else is ignored.  One gzip member per record when ``compress`` so
    CDX offsets seek directly; ``compress=False`` writes plain ``.warc``
    where offsets equal the uncompressed cumsum (the
    :func:`httpz_spark.functions.warcx.cdx_offsets` expression form —
    tested equal).

    ``revisits=True`` enables archive-level recrawl dedup: captures
    whose payload digest repeats an earlier capture of the same SURT key
    (:func:`httpz_spark.functions.warcx.mark_revisits` — one window on
    (surt, digest)) are written as lightweight header-only ``revisit``
    records referencing the original's record id, so unchanged bodies
    are stored once per key across recrawl epochs."""
    ext = ".warc.gz" if compress else ".warc"

    base = df.select(
        surt_key(F.col(url_col)).alias("surt"),
        F.col(url_col).alias("url"),
        F.col(date_col).alias("date"),
        F.col(status_col).cast("int").alias("status"),
        F.col(content_type_col).alias("mime"),
        F.md5(F.coalesce(F.col(body_col), F.lit(b""))).alias("digest"),
        F.col(body_col).alias("_body"),
    )
    if revisits:
        base = mark_revisits(base)
        record = warc_record_auto(
            F.col("url"), F.col("date"), F.col("status"), F.col("mime"),
            F.col("_body"), F.col("revisit_of_url"),
            F.col("revisit_of_date"))
        src_cols = ["_body", "revisit_of_url", "revisit_of_date"]
    else:
        record = warc_record(F.col("url"), F.col("date"), F.col("status"),
                             F.col("mime"), F.col("_body"))
        src_cols = ["_body"]
    rec = base.select(*_CDX_KEYS, *src_cols)
    return write_records(rec, path, n_files=n_files, compress=compress,
                         ext=ext, record=record)


def write_records(rec: DataFrame, path: str, n_files: int,
                  compress: bool, ext: str, record: Column) -> DataFrame:
    """Archive-writer tail shared by WARC, WET and WAT: lays ``rec`` out
    as :func:`_write_files` does (file ``part-<pmod(hash(url),
    n_files)>`` + ``ext``, written by task ``pmod(hash(url), n_files)``)
    and writes one record per row, gzip-membered when ``compress``.

    ``rec`` carries the CDX key columns (surt, url, date, status, mime,
    digest) plus the raw source columns of the ``record`` framing
    expression.  Framing runs below the exchange, so the exchange moves
    the raw payload instead of payload+headers-framed-again bytes (~30%
    fewer shuffle bytes at WARC shapes: url/date/mime already ride the
    exchange as key columns and a framed record duplicates all of them
    plus the body)."""

    def framed(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            # the record column stays in Arrow: per-row memoryview slices
            # over the shared data buffer instead of to_pylist()'s
            # per-record bytes copies (the column is the batch's bulk —
            # ~250 MB per 500k records — and zlib/crc32 consume buffers)
            rcol = rb.column("record")
            width = 8 if pa.types.is_large_binary(rcol.type) else 4
            offs = np.frombuffer(rcol.buffers()[1], dtype=f"int{width * 8}",
                                 count=len(rcol) + 1,
                                 offset=rcol.offset * width)
            data = memoryview(rcol.buffers()[2])
            raws = (data[offs[j]:offs[j + 1]] for j in range(rb.num_rows))
            yield rb, ((_gzip_member(r) if compress else r, len(r))
                       for r in raws)

    return _write_files(rec, path, n_files, F.lit(ext), framed,
                        record.alias("record"))


def _write_files(rec: DataFrame, path: str, n_files: int, ext: Column,
                 members, *payload) -> DataFrame:
    """The one archive layout and the one loop that streams it to disk;
    returns the CDX frame of the bytes written.

    Row ``url`` goes to file ``part-<pmod(hash(url), n_files)>`` + ``ext``
    and to partition ``pmod(hash(url), n_files)`` of the repartition on
    ``url`` (Spark's hash partitioning is that pmod), so task i writes
    file ``part-<i>`` (one per extension) and no other.  Within a task
    rows are in the total order
    (file, surt, url, date, digest): a retried task rewrites
    byte-identical files.

    ``payload`` (columns of ``rec`` or expressions over them) is projected
    after the sort; ``members(batches)`` yields, per Arrow batch, the
    batch and an iterable of (member bytes, record_length) per row."""
    os.makedirs(path, exist_ok=True)
    part = F.format_string("part-%05d", F.pmod(F.hash("url"), F.lit(n_files)))
    rec = (rec.repartition(n_files, "url")
           .withColumn("warc_file", F.concat(part, ext))
           .sortWithinPartitions("warc_file", "surt", "url", "date", "digest")
           .select(*_CDX_KEYS, "warc_file", *payload))

    def _write(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        # attempt-unique temp suffix: concurrent attempts of one partition
        # (speculative execution, a zombie task on a shared FS) must not
        # interleave writes into one temp file — each attempt writes its
        # own and the last completed os.replace wins atomically (the
        # rewrite is byte-identical by the total sort order)
        tc = TaskContext.get()
        tmp_sfx = f".inprogress-{tc.taskAttemptId()}" if tc else ".inprogress"
        cur_name, cur_f = None, None
        cdx = {c: [] for c in _CDX_COLS}

        def flush():
            if cur_name is not None:
                cur_f.close()
                final = os.path.join(path, cur_name)
                os.replace(final + tmp_sfx, final)

        for rb, rows in members(batches):
            for k in _CDX_KEYS:
                cdx[k] += rb.column(k).to_pylist()
            names = rb.column("warc_file").to_pylist()
            for name, (member, record_length) in zip(names, rows):
                if name != cur_name:
                    flush()
                    cur_name = name
                    # stream records straight to the temp file — executor
                    # memory stays O(record), never O(archive file)
                    cur_f = open(os.path.join(path, name) + tmp_sfx, "wb")
                cdx["offset"].append(cur_f.tell())
                cur_f.write(member)
                cdx["length"].append(len(member))
                cdx["record_length"].append(record_length)
            cdx["warc_file"] += names
        flush()
        if cdx["url"]:
            yield pa.RecordBatch.from_pydict(cdx, schema=pa.schema(
                [(c, getattr(pa, t)()) for c, t in zip(_CDX_COLS, _CDX_ARROW)]))

    return rec.mapInArrow(_write, CDX_SCHEMA)


def crawl_to_warc(results: DataFrame, path: str, n_files: int = 8,
                  compress: bool = True, revisits: bool = False,
                  base_date: str = "2026-01-01T") -> DataFrame:
    """Archive a :class:`~httpz_spark.plans.frontier.CrawlEngine` crawl:
    map the persisted ``results`` table (``store.read("results")``) onto
    :func:`write_warc` and return the CDX index frame.

    * body = the image payload ``bytes`` when the row carried one, else
      the captured ``body_preview`` re-encoded — the same capture the
      reference scanner emits.
    * WARC-Date derives from ``wave_id`` (``base_date`` + wave as
      HH:MM:SS, pure string arithmetic — no session-timezone
      dependence), so archiving is deterministic and a resumed crawl
      re-archives byte-identically.
    * rows with ``status < 0`` (transport errors — no HTTP response to
      frame) are skipped; they live in the results/lineage tables.
    * ``revisits=True`` additionally collapses repeat payloads across
      waves into header-only revisit records (recrawl archives shrink).
    """
    two = lambda c: F.lpad(c.cast("long").cast("string"), 2, "0")  # noqa: E731
    w = F.col("wave_id").cast("long")
    date = F.concat(F.lit(base_date), two(F.floor(w / 3600) % 24),
                    F.lit(":"), two(F.floor(w / 60) % 60), F.lit(":"),
                    two(w % 60), F.lit("Z"))
    # include_payload=False engines carry no "bytes" column — degrade to
    # the captured body_preview instead of an AnalysisException
    preview_body = F.encode(F.coalesce(F.col("body_preview"), F.lit("")),
                            "UTF-8")
    body = (F.coalesce(F.col("bytes"), preview_body)
            if "bytes" in results.columns else preview_body)
    d = (results.filter(F.col("status") >= 0)
         .select(F.coalesce(F.col("url"), F.col("url_canon")).alias("url"),
                 date.alias("date"), "status", "content_type",
                 body.alias("body")))
    return write_warc(d, path, n_files=n_files, compress=compress,
                      revisits=revisits)


WET_STAGE_SCHEMA = "url string, date string, text string"


def wet_from_warc(records: DataFrame) -> DataFrame:
    """Text extraction for WET derivation: response records only, one
    Arrow stage.  HTML bodies run the same single-pass page parser the
    fetch stage uses (script/style/noscript decomposed, whitespace
    normalized); other ``text/*`` bodies decode as-is; binary payloads
    (images etc.) have no text conversion and are skipped.  Returns
    (url, date, text)."""
    src = (records.filter(F.col("warc_type") == "response")
           .select(F.col("target_uri").alias("url"), F.col("date"),
                   F.col("http_content_type").alias("ctype"),
                   F.col("body")))

    def _extract(batches):
        import pyarrow as pa

        from httpz_spark.functions.htmlx import parse_page
        from httpz_spark.parity import refmodel as R

        for rb in batches:
            urls, dates, ctypes, bodies = (rb.column(i).to_pylist()
                                           for i in range(4))
            out = ([], [], [])
            for u, d, c, b in zip(urls, dates, ctypes, bodies):
                c = (c or "").lower()
                if b is None:
                    continue
                if "html" in c:
                    page = parse_page(b.decode("utf-8", errors="replace"))
                    text = (R.normalize_text(" ".join(page.text_parts))
                            if page else "")
                elif c.startswith("text/") or c == "":
                    text = b.decode("utf-8", errors="replace")
                else:
                    continue
                out[0].append(u)
                out[1].append(d)
                out[2].append(text)
            if out[0]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a, pa.string()) for a in out],
                    names=["url", "date", "text"])

    return src.mapInArrow(_extract, WET_STAGE_SCHEMA)


def write_wet(records: DataFrame, path: str, n_files: int = 8,
              compress: bool = True) -> DataFrame:
    """Derive and write the WET companion archive (plain-text
    ``conversion`` records — what Common Crawl ships next to every WARC
    segment) from a :func:`read_warc` frame; returns the CDX index
    frame.  The conversion framing is native
    (:func:`httpz_spark.functions.warcx.warc_conversion_record`); only
    the HTML→text step runs Python, Arrow-batched."""
    ext = ".warc.wet.gz" if compress else ".warc.wet"
    t = wet_from_warc(records)
    rec = t.select(
        surt_key(F.col("url")).alias("surt"), "url", "date",
        F.lit(None).cast("int").alias("status"),
        F.lit("text/plain").alias("mime"),
        F.md5(F.encode(F.col("text"), "UTF-8")).alias("digest"), "text")
    return write_records(rec, path, n_files=n_files, compress=compress,
                         ext=ext, record=warc_conversion_record(
                             F.col("url"), F.col("date"), F.col("text")))


WAT_STAGE_SCHEMA = "url string, date string, meta string"


def wat_from_warc(records: DataFrame) -> DataFrame:
    """Metadata extraction for WAT derivation: response records only,
    one Arrow stage.  Emits a deterministic JSON envelope per capture
    (sorted keys, no whitespace): HTTP status, content type, payload
    digest, body length, and for HTML bodies the extracted outlinks
    (the same link extractor the crawl's discovery path uses).  Returns
    (url, date, meta)."""
    src = (records.filter(F.col("warc_type") == "response")
           .select(F.col("target_uri").alias("url"), F.col("date"),
                   F.col("http_status").alias("status"),
                   F.col("http_content_type").alias("ctype"),
                   F.col("payload_digest").alias("digest"),
                   F.col("body")))

    def _extract(batches):
        import json as _json

        import pyarrow as pa

        from httpz_spark.functions.htmlx import extract_links

        for rb in batches:
            urls, dates, statuses, ctypes, digests, bodies = (
                rb.column(i).to_pylist() for i in range(6))
            out = ([], [], [])
            for u, d, s, c, dg, b in zip(urls, dates, statuses, ctypes,
                                         digests, bodies):
                links = []
                if b is not None and "html" in (c or "").lower():
                    links = extract_links(
                        b.decode("utf-8", errors="replace"), u)
                meta = _json.dumps(
                    {"Content-Length": len(b) if b is not None else 0,
                     "Content-Type": c, "Links": links,
                     "Payload-Digest": dg, "Status": s, "URL": u},
                    sort_keys=True, separators=(",", ":"))
                out[0].append(u)
                out[1].append(d)
                out[2].append(meta)
            if out[0]:
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a, pa.string()) for a in out],
                    names=["url", "date", "meta"])

    return src.mapInArrow(_extract, WAT_STAGE_SCHEMA)


def write_wat(records: DataFrame, path: str, n_files: int = 8,
              compress: bool = True) -> DataFrame:
    """Derive and write the WAT companion archive (JSON ``metadata``
    records — Common Crawl's third product next to WARC and WET) from a
    :func:`read_warc` frame; returns the CDX index frame."""
    ext = ".warc.wat.gz" if compress else ".warc.wat"
    t = wat_from_warc(records)
    rec = t.select(
        surt_key(F.col("url")).alias("surt"), "url", "date",
        F.lit(None).cast("int").alias("status"),
        F.lit("application/json").alias("mime"),
        F.md5(F.encode(F.col("meta"), "UTF-8")).alias("digest"), "meta")
    return write_records(rec, path, n_files=n_files, compress=compress,
                         ext=ext, record=warc_metadata_record(
                             F.col("url"), F.col("date"), F.col("meta")))


def make_warc_batch_handler(path: str, n_files: int = 4,
                            compress: bool = True, revisits: bool = False):
    """``foreachBatch`` archive sink for a streaming crawl: each
    micro-batch (capture-frame schema — url/date/status/content_type/
    body) archives under ``<path>/batch_id=N/`` with its CDX partition
    at ``<path>/cdx/batch_id=N``.

    Exactly-once under Structured Streaming's redelivery without any
    coordination: framing is fully hash-derived and the writer's layout
    is a total order, so a replayed batch rewrites every archive file
    BYTE-IDENTICALLY (os.replace atomic swap) and overwrites its own
    CDX partition — tested by calling the handler twice with one
    batch_id.  ``revisits`` collapses repeats WITHIN a batch; cross-
    batch revisit collapse belongs in a downstream compaction that joins
    prior CDX digests (the per-batch handler stays stateless)."""
    def handle(batch_df: DataFrame, batch_id: int) -> None:
        out = os.path.join(path, f"batch_id={batch_id}")
        cdx = write_warc(batch_df, out, n_files=n_files,
                         compress=compress, revisits=revisits)
        (cdx.write.mode("overwrite")
            .parquet(os.path.join(path, "cdx", f"batch_id={batch_id}")))

    return handle


def batch_cdx_with_paths(spark: SparkSession, arch_root: str) -> DataFrame:
    """Load a streaming archive's CDX partitions (``<root>/cdx``) and
    attach each row's absolute source path
    (``<root>/batch_id=N/<warc_file>``) — the input shape
    :func:`compact_warc` consumes."""
    cdx = spark.read.parquet(os.path.join(arch_root, "cdx"))
    return cdx.withColumn(
        "src_path",
        F.concat(F.lit(arch_root + os.sep + "batch_id="),
                 F.col("batch_id").cast("string"), F.lit(os.sep),
                 F.col("warc_file")))


def compact_warc(cdx: DataFrame, dst: str, n_files: int = 8) -> DataFrame:
    """Fold many small archives (a streaming run's ``batch_id=N`` dirs,
    a too-granular crawl) into ``n_files`` consolidated ones — the
    archive analogue of the seen-store/StateStore compaction that keeps
    long-running jobs' file counts bounded.

    Input: a CDX frame carrying ``src_path`` (absolute archive file per
    row — see :func:`batch_cdx_with_paths`) plus the standard CDX
    columns.  Records are copied as RAW member bytes via their
    (offset, length) seek points — never decoded or re-framed — so
    record ids, digests, and byte content are preserved exactly, and
    gzip members remain individually seekable in the new files.  Rows
    take the writer's layout (:func:`_write_files`: file
    ``part-<pmod(hash(url), n_files)>``, written by that task, in CDX
    total order), so compaction is deterministic: running it twice
    produces byte-identical archives.  Returns the new CDX.

    Scale shape: one shuffle keyed on the url; each task
    streams O(record) bytes with an LRU of source file handles.  Source
    files must be reachable from executors (shared filesystem — the
    same requirement the writer already has)."""
    # the destination EXTENSION is derived per row from its source file
    # (".warc" + whatever follows — ".warc" or ".warc.gz") and is part of
    # the file name the layout sorts on: mixed-compression inputs land in
    # distinct, correctly labeled destination files instead of being
    # concatenated under the first row's extension (which read_warc would
    # then mis-dispatch), and rows of one (file, ext) stay contiguous so
    # the writer never reopens-and-truncates a destination it flushed
    ext = F.concat(
        F.lit(".warc"), F.substring_index(F.col("src_path"), ".warc", -1))
    rec = cdx.select(*_CDX_KEYS, "record_length", "src_path", "offset",
                     "length")

    def copied(batches):
        from collections import OrderedDict

        handles: OrderedDict = OrderedDict()

        def member(p, offset, length):
            # true LRU: refresh on access, evict the LEAST recently used
            # (dict.popitem() evicted the most recent, pinning 15 stale
            # handles forever and thrashing open/close past 16 sources)
            f = handles.get(p)
            if f is None:
                if len(handles) >= 16:
                    handles.popitem(last=False)[1].close()
                f = handles[p] = open(p, "rb")
            else:
                handles.move_to_end(p)
            f.seek(offset)
            return f.read(length)

        try:
            for rb in batches:
                src = zip(*(rb.column(c).to_pylist() for c in (
                    "src_path", "offset", "length", "record_length")))
                yield rb, ((member(p, o, n), rl) for p, o, n, rl in src)
        finally:
            for f in handles.values():
                f.close()

    return _write_files(rec, dst, n_files, ext, copied, "src_path", "offset",
                        "length", "record_length")


def fetch_record(path: str, warc_file: str, offset: int,
                 length: int) -> tuple[dict, bytes]:
    """Random access: seek ONE record out of an archive using its CDX
    row — the lookup the index exists for.  Reads ``length`` bytes at
    ``offset`` (a gzip member for ``.gz`` archives, raw framing
    otherwise), parses it, and returns (warc_headers, payload).  Pure
    driver-side file IO: O(record), never scans the archive."""
    with open(os.path.join(path, warc_file), "rb") as f:
        f.seek(offset)
        raw = f.read(length)
    if raw[:2] == b"\x1f\x8b":
        raw = next(_gzip_members(raw))[1]
    _, _, hdrs, payload = next(_parse_records(raw))
    return hdrs, payload


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------

_GZ_CHUNK = 1 << 18


def _gzip_members(blob: bytes) -> Iterator[tuple[int, bytes]]:
    """(compressed_offset, decompressed_member) per gzip member — manual
    decompressobj loop so member boundaries (the CDX seek points) are
    recovered.  Input is fed in bounded chunks: handing decompress the
    whole remaining blob would make zlib COPY the entire tail into
    ``unused_data`` per member — O(members x file_size) memcpy, ~50x
    slower on record-at-time archives (measured)."""
    mv = memoryview(blob)
    pos = 0
    while pos < len(blob):
        d = zlib.decompressobj(wbits=31)
        parts = []
        fed = 0
        while not d.eof and pos + fed < len(blob):
            chunk = mv[pos + fed:pos + fed + _GZ_CHUNK]
            parts.append(d.decompress(chunk))
            fed += len(chunk)
        if not d.eof:
            raise ValueError(f"corrupt gzip member at offset {pos}")
        parts.append(d.flush())
        consumed = fed - len(d.unused_data)
        if consumed <= 0:
            raise ValueError(f"corrupt gzip member at offset {pos}")
        yield pos, b"".join(parts)
        pos += consumed


def _parse_records(blob: bytes) -> Iterator[tuple[int, int, dict, bytes]]:
    """(offset, record_length, warc_headers, payload) per record in a
    plain (uncompressed) WARC stream — ISO 28500 framing: version line +
    named fields, CRLF CRLF, Content-Length payload bytes, CRLF CRLF."""
    pos = 0
    while pos < len(blob):
        head_end = blob.index(b"\r\n\r\n", pos)
        head = blob[pos:head_end].decode("utf-8", errors="replace")
        lines = head.split("\r\n")
        if not lines[0].startswith("WARC/"):
            raise ValueError(f"bad WARC version line at {pos}: {lines[0]!r}")
        hdrs = {}
        for line in lines[1:]:
            k, _, v = line.partition(":")
            hdrs[k.strip().lower()] = v.strip()
        clen = int(hdrs["content-length"])
        body_start = head_end + 4
        payload = blob[body_start:body_start + clen]
        end = body_start + clen
        if blob[end:end + 4] != b"\r\n\r\n":
            raise ValueError(f"missing record trailer at {end}")
        yield pos, end + 4 - pos, hdrs, payload
        pos = end + 4


def _split_http(payload: bytes) -> tuple[int | None, str | None, bytes]:
    """(status, content_type, body) from an application/http payload."""
    sep = payload.find(b"\r\n\r\n")
    if sep < 0 or not payload.startswith(b"HTTP/"):
        return None, None, payload
    head = payload[:sep].decode("utf-8", errors="replace")
    lines = head.split("\r\n")
    parts = lines[0].split(" ", 2)
    status = int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else None
    ctype = None
    for line in lines[1:]:
        k, _, v = line.partition(":")
        if k.strip().lower() == "content-type":
            ctype = v.strip()
    return status, ctype, payload[sep + 4:]


def read_warc(spark: SparkSession, path: str) -> DataFrame:
    """Read a WARC archive directory into a records DataFrame (schema
    ``READ_SCHEMA``).  One binaryFile task per archive file; plain and
    record-at-time-gzip files both handled; ``offset`` is the seekable
    byte offset in the file AS STORED (compressed offset for .gz)."""
    # exact-extension glob: never matches ".inprogress" temps a killed
    # writer left behind (those may hold duplicate/truncated members)
    files = (spark.read.format("binaryFile")
             .load(os.path.join(
                 path, "*.{warc,warc.gz,warc.wet,warc.wet.gz,"
                       "warc.wat,warc.wat.gz}"))
             .select("path", "content"))

    def _parse(batches):
        import pyarrow as pa

        for rb in batches:
            paths = rb.column(0).to_pylist()
            blobs = rb.column(1).to_pylist()
            rows = []
            for p, blob in zip(paths, blobs):
                base = os.path.basename(p)
                is_gz = blob[:2] == b"\x1f\x8b"
                units = _gzip_members(blob) if is_gz else iter([(0, blob)])
                for unit_off, data in units:
                    for rec_off, rec_len, hdrs, payload in _parse_records(data):
                        status, ctype, body = (
                            _split_http(payload)
                            if "http" in hdrs.get("content-type", "")
                            else (None, None, payload))
                        # one record per gzip member when we wrote it, so
                        # the seekable offset is the member's; foreign
                        # multi-record members inherit the member offset
                        refers = hdrs.get("warc-refers-to")
                        rows.append((
                            base, unit_off + (0 if is_gz else rec_off),
                            hdrs.get("warc-record-id", "").strip("<>"),
                            hdrs.get("warc-type"),
                            hdrs.get("warc-date"),
                            hdrs.get("warc-target-uri"),
                            hdrs.get("warc-payload-digest"),
                            refers.strip("<>") if refers else None,
                            status, ctype, body, rec_len,
                        ))
            if rows:
                arrays = list(zip(*rows))
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a, type=t) for a, t in zip(arrays, [
                        pa.string(), pa.int64(), pa.string(), pa.string(),
                        pa.string(), pa.string(), pa.string(), pa.string(),
                        pa.int32(), pa.string(), pa.binary(), pa.int64()])],
                    names=[f.strip().split(" ")[0]
                           for f in READ_SCHEMA.split(",")])

    return files.mapInArrow(_parse, READ_SCHEMA)
