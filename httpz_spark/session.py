"""SparkSession factory with the engine's recommended configs.

Mirrors the production deployment story (``spark-submit --py-files
httpz_spark.zip``, BASELINE.json:north_rule): when a session is built
through :func:`get_spark`, the package zips itself and registers the zip
via ``sc.addPyFile`` so executor Python workers can unpickle the engine's
pandas UDFs regardless of the driver's cwd.

Config choices (scale rationale):

* AQE on (+ skew-join) — runtime re-planning for the dedup shuffle and
  hot-host skew (SURVEY.md §4 O12).
* Arrow enabled with a bounded batch size — fetch batches carry image
  payloads (binary columns ~KBs-MBs each), so maxRecordsPerBatch stays
  small to bound executor memory (SURVEY.md §7 hard part 5).
* shuffle.partitions default tuned for local mode; clusters override.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def package_zip(dest_dir: str | None = None) -> str:
    """Zip the httpz_spark package for --py-files / addPyFile shipping.

    The filename carries a digest of the package source: two different
    checkouts (or a checkout that changed between sessions) ship distinct
    zip names instead of colliding on one path — Spark executors hard-fail
    when a previously-fetched file's contents change under the same name
    (`Utils.copyFile: "exists and does not match contents"`)."""
    import hashlib

    dest_dir = dest_dir or tempfile.gettempdir()
    root = os.path.dirname(_PKG_DIR)
    entries = []
    for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
        for fn in sorted(filenames):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            entries.append((full, os.path.relpath(full, root)))
    entries.sort(key=lambda e: e[1])
    h = hashlib.sha256()
    for full, rel in entries:
        h.update(rel.encode())
        with open(full, "rb") as f:
            h.update(f.read())
    zpath = os.path.join(dest_dir, f"httpz_spark_pkg_{h.hexdigest()[:12]}.zip")
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, rel in entries:
                zf.write(full, rel)
        os.replace(tmp, zpath)
    return zpath


def get_spark(
    app_name: str = "httpz_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_batch_rows: int = 2048,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession configured for the engine and ship
    the package to executors."""
    master = master or os.environ.get("HTTPZ_SPARK_MASTER")
    if master is None:
        # respect a master provided by the launch environment: spark-submit
        # --master sets spark.master in the JVM's system properties, which
        # SparkConf reads only once the driver is attached to that JVM — a
        # detached SparkConf is empty, and an unconditional .master() here
        # would silently override the cluster with local[*].  Attaching may
        # launch the JVM, so it gets the launch-time options (driver memory)
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf(
            loadDefaults=False).setAll(list((extra_conf or {}).items())))
        if not SparkConf().contains("spark.master"):
            master = "local[*]"
    builder = (
        (SparkSession.builder.master(master) if master
         else SparkSession.builder)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_batch_rows))
        .config("spark.sql.session.timeZone", "UTC")
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Ship the package to executor Python workers (the local-mode analogue
    # of `spark-submit --py-files httpz_spark.zip`).  Idempotent.
    try:
        spark.sparkContext.addPyFile(package_zip())
    except Exception:
        # Session may pre-exist with the file already registered, or the
        # package may already be importable on the executors' PYTHONPATH.
        pass
    return spark
