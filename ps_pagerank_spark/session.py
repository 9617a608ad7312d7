"""SparkSession factory with engine defaults.

Local-mode testing uses ``local[N]`` (single JVM); the same configuration
carries to ``spark-submit --py-files`` cluster runs — nothing here is
local-only except the master default.
"""

from __future__ import annotations

import hashlib
import os
import sys
import tempfile
import zipfile
import zipimport
from pathlib import Path

from pyspark.sql import SparkSession

# Tuned for the sandbox (32 cores, 128 GiB). On a real cluster these are
# overridden by spark-submit conf; shuffle partitions should track
# 2-3x total executor cores, and AQE coalescing corrects overshoot.
_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
}


def get_spark(
    master: str | None = None,
    app_name: str = "ps_pagerank_spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.master(master).appName(app_name)
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers (the local-mode equivalent of
    ``spark-submit --py-files engine.zip``). Without it, pandas-UDF closures
    that reference engine modules fail to unpickle on workers unless the
    driver happens to run from the repo root."""
    zpath = Path(tempfile.gettempdir()) / "ps_pagerank_spark_pyfiles.zip"
    build_package_zip(Path(__file__).resolve().parent, zpath)
    spark.sparkContext.addPyFile(str(zpath))


def build_package_zip(pkg_dir: Path, zpath: Path) -> bool:
    """Zip the ``*.py`` sources under ``pkg_dir`` (as ``<pkg name>/...``)
    to ``zpath`` unless it already holds exactly these sources. The
    sources' sha256 is recorded as the zip comment, so an edited tree
    replaces a stale zip (workers would otherwise import old code) and an
    unchanged one is not rewritten. Returns True when the zip was
    (re)written."""
    sources = [
        (py.relative_to(pkg_dir).as_posix(), py.read_bytes())
        for py in sorted(pkg_dir.rglob("*.py"))
    ]
    digest = hashlib.sha256()
    for rel, data in sources:
        digest.update(f"{rel}\0{len(data)}\0".encode())
        digest.update(data)
    tag = digest.hexdigest().encode()
    try:
        with zipfile.ZipFile(zpath) as zf:
            if zf.comment == tag:
                return False
    except (OSError, zipfile.BadZipFile):
        pass  # missing or unreadable: build it
    tmp = zpath.with_name(f"{zpath.name}.{os.getpid()}.tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for rel, data in sources:
            zf.writestr(f"{pkg_dir.name}/{rel}", data)
        zf.comment = tag
    os.replace(tmp, zpath)  # atomic: concurrent readers see old or new
    return True


def drop_zip_importers() -> None:
    """Drop the zip archive importers cached in ``sys.path_importer_cache``.

    Called at the top of this package's Python UDFs, so it runs inside
    Python workers. PySpark's worker calls ``importlib.invalidate_caches()``
    before every task, and on Python < 3.12 each cached ``zipimporter``
    then re-reads its archive's central directory at once. Workers import
    pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` with one importer
    per package directory inside it, so every task re-read that archive
    about 16 times: ~0.3 s of CPU per task. On a 4-core box a 4-task
    Python map job took ~0.45 s before the trim and ~0.13 s after it (a
    JVM-only job: 0.10 s). Workers are reused, so once the modules are
    loaded the importers are dead weight. An import that needs one again rebuilds it
    from zipimport's directory cache without reading the archive.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]
