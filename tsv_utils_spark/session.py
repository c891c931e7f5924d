"""SparkSession factory tuned for this engine.

Local-mode defaults match the sandbox (local[N], one JVM); the same
settings are correct starting points on a real cluster — AQE handles
runtime re-planning, Arrow powers every pandas UDF in the library.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_cores() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else this machine's CPU count."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)


def _default_driver_memory() -> str:
    """Half of this machine's physical memory, at most 24g, in MiB."""
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{min(phys // 2, 24 << 30) >> 20}m"


def get_spark(app_name: str = "tsv_utils_spark",
              cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    cores = cores or _default_cores()
    shuffle_partitions = shuffle_partitions or cores
    # SPARK_GRAFT_MASTER overrides the local[] default so the same
    # entry points run unchanged under spark-submit against a real
    # cluster (e.g. spark://127.0.0.1:7077 for the scaling evidence)
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.extraJavaOptions", "-Djava.net.preferIPv4Stack=true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ship_package(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make ``tsv_utils_spark`` importable on executor Python workers.

    Equivalent to ``spark-submit --py-files tsv_utils_spark.zip``: zips the
    installed package and registers it with addPyFile, so pandas-UDF
    closures that reference the library's sketch classes deserialize on
    workers even when the driver script lives outside the repo.
    """
    import hashlib
    import zipfile

    import tsv_utils_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    sources = []
    for root, _dirs, files in os.walk(pkg_dir):
        if "__pycache__" in root:
            continue
        for fn in files:
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                sources.append((full, os.path.join(
                    "tsv_utils_spark", os.path.relpath(full, pkg_dir))))
    sources.sort(key=lambda t: t[1])
    # CONTENT-fingerprinted zip name (actual file BYTES, not mtime+size
    # — mtime-restoring workflows like rsync -t / git-restore-mtime
    # would otherwise alias different code): a stale zip from an
    # earlier run of older code sitting in /tmp must never be shipped
    # to executors — it silently pins the whole library to that old
    # version ('bad sketch op' errors, or worse, stale semantics under
    # current names). The package is a few hundred KB; hashing it costs
    # milliseconds once per session.
    fp = hashlib.sha256()
    for full, rel in sources:
        fp.update(rel.encode() + b"\x00")
        with open(full, "rb") as f:
            fp.update(f.read())
        fp.update(b"\x00")
    tag = fp.hexdigest()[:12]
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"),
        f"tsv_utils_spark-{pkg.__version__}-{tag}.zip")
    if not os.path.exists(zip_path):
        # unique tmp name: two concurrent sessions writing the SAME
        # fixed tmp path would interleave and os.replace a corrupt
        # archive into the fingerprint slot, poisoning it permanently
        tmp = f"{zip_path}.{os.getpid()}.tmp"
        with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as zf:
            for full, rel in sources:
                zf.write(full, rel)
        os.replace(tmp, zip_path)  # atomic publish
    spark.sparkContext.addPyFile(zip_path)


def load_tables(spark: SparkSession, sf_dir: str, names=None) -> dict:
    """Load the driver's parquet tables from an sf directory."""
    names = names or ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents", "embeddings"]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
