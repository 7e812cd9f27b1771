"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for the target profile — 1000-executor clusters over ~100 TB of
pages — while remaining correct on local[N]:

- AQE on (runtime coalescing + skew-join splitting), since predicate and
  host skew are the norm in web corpora (BASELINE.json:6)
- Arrow enabled with a bounded records-per-batch so the fused parse UDF's
  Python workers never materialize multi-GB batches of page text
- shuffle partitions default sized for local mode; cluster deployments
  override via spark-submit --conf (AQE coalesces down at runtime anyway)

No setting here covers Python task start-up. PySpark's worker calls
``importlib.invalidate_caches()`` at the start of every task, and up to
CPython 3.12 each cached zip importer (``pyspark.zip``'s sub-packages,
py4j, the package zip shipped below) then re-reads its archive's whole
directory: about 17 reads and 0.12-0.24 s per task on a 4-vCPU host.
Importing this package (every Python stage does, to unpickle its
function) installs :mod:`parser_rdf_spark.zipcache`, which skips the
re-read while the archive's stat is unchanged. CPython 3.13 made the
stdlib method lazy, so there the hook lapses and nothing is patched.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "parser-rdf-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    max_partition_bytes: int = 16 * 1024 * 1024,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """``max_partition_bytes`` default is deliberately small (16 MiB vs
    Spark's 128 MiB): the fused parse stage is CPU-bound at roughly
    2-4 MB/s/core of page text, so a 128 MiB scan partition is ~1 minute
    of single-core work — terrible parallelism and straggler exposure.
    16 MiB ≈ a few seconds per task. ``openCostInBytes`` is lowered in
    step so many small parquet files don't bin-pack into a handful of
    scan partitions (the default 4 MiB padding swamps sub-MB files).

    ``spark.python.sql.dataFrameDebugging.enabled`` is off: with it on
    (PySpark 4.1's default) every DataFrame / Column call first captures
    the Python call site, then sets and clears it in the JVM — about
    twice the Py4J round trips when planning a SPARQL query. The cost is
    the DataFrame query context (the Python line of the failing call)
    in analysis-error messages; pass it back on via ``extra_conf`` when
    debugging a plan."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER", "local[*]")
    builder = SparkSession.builder.appName(app_name)
    if master != "submit":
        # master="submit" defers to spark-submit's --master (cluster mode);
        # anything else is the in-process/local path
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or 32))
        .config("spark.sql.files.maxPartitionBytes", str(max_partition_bytes))
        .config("spark.sql.files.openCostInBytes", str(max(max_partition_bytes // 16, 65536)))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


# (mtime-fingerprint, zip-path) of the last build; rebuilt whenever any
# package file changes so long-lived driver processes never ship stale code
_PKG_ZIP: tuple[tuple, str] | None = None


def _pkg_fingerprint() -> tuple:
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    return tuple(
        (fname, os.path.getmtime(os.path.join(pkg_dir, fname)))
        for fname in sorted(os.listdir(pkg_dir))
        if fname.endswith(".py")
    )


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executor Python workers (the in-process
    equivalent of ``spark-submit --py-files``, BASELINE.json:14): without
    it, workers resolve imports through their own cwd and the fused
    mapInArrow stage dies with ModuleNotFoundError whenever the driver
    isn't launched from the repo root."""
    global _PKG_ZIP
    fp = _pkg_fingerprint()
    if _PKG_ZIP is None or _PKG_ZIP[0] != fp:
        import atexit
        import tempfile

        fd, path = tempfile.mkstemp(prefix="parser_rdf_spark_", suffix=".zip")
        os.close(fd)
        build_pkg_zip(path)
        if _PKG_ZIP is not None:
            try:
                os.unlink(_PKG_ZIP[1])
            except OSError:
                pass
        else:
            atexit.register(_cleanup_pkg_zip)
        _PKG_ZIP = (fp, path)
    spark.sparkContext.addPyFile(_PKG_ZIP[1])


def _cleanup_pkg_zip() -> None:
    if _PKG_ZIP is not None:
        try:
            os.unlink(_PKG_ZIP[1])
        except OSError:
            pass


def build_pkg_zip(path: str) -> str:
    """Build the deployment zip of this package (single source of truth
    for both the in-process addPyFile shipping and explicit
    ``spark-submit --py-files`` artifacts)."""
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(path, "w") as z:
        for fname in sorted(os.listdir(pkg_dir)):
            if fname.endswith(".py"):
                z.write(os.path.join(pkg_dir, fname), arcname=f"parser_rdf_spark/{fname}")
    return path
