"""SparkSession helpers + package shipping.

The engine's vectorized UDFs unpickle on Python workers, which do NOT inherit
the driver's ``sys.path`` — on a real cluster the package ships via
``spark-submit --py-files elasticsearch_alps_spark.zip`` (the north-rule
deployment mode). ``ship_package(spark)`` is the programmatic equivalent:
zip this package and ``addPyFile`` it, so the engine works from any cwd and
any deploy mode without manual packaging.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession

_PKG_DIR = os.path.dirname(os.path.abspath(__file__))


def build_pyfiles_zip(out_path: str | None = None) -> str:
    """Zip the package for ``spark-submit --py-files``. Returns the zip path."""
    if out_path is None:
        out_path = os.path.join(tempfile.gettempdir(),
                                "elasticsearch_alps_spark.zip")
    root = os.path.dirname(_PKG_DIR)
    with zipfile.ZipFile(out_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for dirpath, _dirnames, filenames in os.walk(_PKG_DIR):
            for fn in filenames:
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    zf.write(full, os.path.relpath(full, root))
    return out_path


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executors (idempotent) — and PROVE it.

    After ``addPyFile`` a broken zip (stale build, missing module, bad
    minimum Python) only surfaces minutes later, deep inside the first
    analyzer/packer stage, as an opaque mid-job ImportError. The probe below
    imports the executor-side modules in the same Arrow-batch Python-worker
    runtime the builder and engine actually use (``mapInPandas`` /
    ``mapInArrow``), one task per core, so shipping problems fail HERE with
    a clear traceback. Side benefit (guide §4.5): with
    ``spark.python.worker.reuse`` (default on) the probed workers —
    interpreter, pandas/pyarrow, package modules — are the pool later
    stages reuse, so per-worker heavyweight init is paid once at ship time
    instead of inside the first data pass (measured ~5 s off the first
    mapInPandas stage on local[32])."""
    sc = spark.sparkContext
    if getattr(sc, "_alps_pkg_shipped", False):
        return
    sc.addPyFile(build_pyfiles_zip())
    sc._alps_pkg_shipped = True

    def _probe(batches):
        # the modules every executor-side stage needs: analyzer UDFs
        # (tokenize), the positions codec they emit, and the block-max
        # table builder (the build's block-table write)
        import elasticsearch_alps_spark.analysis.udfs  # noqa: F401
        import elasticsearch_alps_spark.indexing.blockmax  # noqa: F401
        import elasticsearch_alps_spark.indexing.postings  # noqa: F401
        for b in batches:
            yield b

    n = max(1, sc.defaultParallelism)
    spark.range(n).repartition(n).mapInPandas(_probe, "id long").count()


def get_spark(app_name: str = "elasticsearch_alps_spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              **conf: str) -> SparkSession:
    """Opinionated local/cluster session: AQE on, Arrow on, package shipped."""
    b = SparkSession.builder.appName(app_name)
    if master:
        b = b.master(master)
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = (b.config("spark.sql.adaptive.enabled", "true")
          .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
          .config("spark.sql.execution.arrow.pyspark.enabled", "true")
          .config("spark.sql.session.timeZone", "UTC"))
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark
