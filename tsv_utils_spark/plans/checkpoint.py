"""Checkpointed, resumable sketch aggregation with lineage + metrics.

North-rule ops hardening: a 10^12-row sketch job must survive pre-emption.
Because sketch partials are tiny, mergeable blobs, the natural checkpoint
unit is an EPOCH — a deterministic slice of the input. Each epoch runs as
its own Spark job whose partial blobs land in ``{dir}/partials/epoch=i``
(parquet commit protocol makes the write atomic: either ``_SUCCESS``
exists or the epoch reruns).

Epoch slicing (the 100-TB-critical part): when the input is a file-backed
scan, epochs are FILE SLICES — a round-robin split of the sorted input
file list, recorded in ``{dir}/manifest.json`` at first run so resumes
slice identically even if the directory changed. Each epoch's job reads
ONLY its files, so total bytes scanned across all epochs equals ONE full
scan — no read amplification (the earlier hash-of-row slicing re-scanned
the whole table once per epoch: E× amplification, a scale-killer when the
scan IS the cost). Non-file inputs (in-memory test DataFrames) fall back
to the hash slice, where the E× re-scan is harmless; so do partitioned
tables, whose partition columns an explicit file list would lose.

Concurrency: the missing epochs are submitted in epoch order as
concurrent jobs, up to ``defaultParallelism`` (P) in flight, each
carrying the caller's job group, description and tags. Under Spark's
default FIFO scheduler the earlier-submitted job's tasks run first, so epochs
still commit in about epoch order and a crash loses about as much work
as it did with one epoch at a time; the overlap fills the cores that
driver-side planning, commit and listing between jobs leave idle. A
user-set FAIR scheduler shares task slots across the in-flight epochs
instead. A failed epoch does not cancel the others (their commits are
valid and a resume skips them); once every submitted epoch has
finished, the first failure in epoch order is raised. Epoch slices and
the final merge read with schemas the call already knows, so no parquet
schema-inference job runs.

Task share: Spark splits a small read into about P pieces, as if it
had every core to itself, though W = min(missing epochs, P) epochs
share them; a split boundary inside a file's one row group leaves a
task that reads nothing but still pays a Python task's start. So a
file-sliced epoch whose bytes per core are below
``spark.sql.files.maxPartitionBytes`` (Spark split it only to fill the
cores) is coalesced to its share, max(1, P // W) level-1 tasks, before
``transform`` runs: the epochs in flight together run at most P tasks.
A larger epoch keeps Spark's splits, so a coalesced task reads less
than P / (P // W) × maxPartitionBytes, at most 2W times Spark's largest
split. ``coalesce`` is narrow, so no shuffle is added; the hash slice
keeps Spark's splits.

Resume = skip epochs whose ``_SUCCESS`` marker exists, compute the rest,
final-merge over ALL epochs' partials. Estimates are identical to the
single-shot job because merge is associative — the property the sketch
tests verify by permutation.

Lineage: every partial row carries (epoch, partition_id, rows) — which
input slice, which task. Metrics: one JSON line per epoch appended to
``{dir}/metrics.jsonl`` right after that epoch commits (rows, seconds,
rows/sec, partials written) and its task-share decision: ``input_bytes``,
the epoch read's Catalyst size (null for the hash slice), and ``tasks``,
the coalesce target (null where Spark's splits were kept). ``sec`` runs
from the epoch's launch to its commit, so the ``sec`` of epochs that
overlapped add up to more than the wall time of the call.
"""

from __future__ import annotations

import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from py4j.protocol import Py4JError
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.plans.agg import (
    SketchSpec,
    _level1,
    _merge_partials,
    _partial_schema,
)
from tsv_utils_spark.plans.quantiles import known_size_bytes


def _epoch_expr(df: DataFrame, epochs: int):
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(epochs))


_BARE_SCAN_NODES = {"LogicalRelation", "LogicalRelationWithTable",
                    "DataSourceV2Relation", "DataSourceV2ScanRelation"}


def _is_bare_scan(df: DataFrame) -> bool:
    """True iff df's optimized plan is a single relation node — no
    filters, projections, or derived columns between the scan and us —
    whose relation has no partition columns. Only then may an epoch
    legally re-read the raw files directly: any lineage would otherwise
    be silently dropped, and partition values live in directory names
    that an explicit file list never rediscovers."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        name = plan.getClass().getSimpleName()
        if not (plan.children().isEmpty() and name in _BARE_SCAN_NODES):
            return False
        if name.startswith("LogicalRelation"):
            parts = plan.relation().partitionSchema()
        else:  # file-source v2: the table's file index holds them
            rel = plan.relation() if name == "DataSourceV2ScanRelation" \
                else plan
            parts = rel.table().fileIndex().partitionSchema()
        return parts.isEmpty()
    except (Py4JError, AttributeError):  # no JVM plan / not a file relation
        return False


_ADDR_RE = None


def _needs_canon(c) -> bool:
    """Whether repr(c) is process-dependent: code objects (memory
    address), sets/frozensets (string-hash iteration order varies with
    PYTHONHASHSEED), containers holding either, or any object whose
    default repr embeds a memory address ('<... at 0x...>')."""
    global _ADDR_RE
    if hasattr(c, "co_code") or isinstance(c, (set, frozenset)):
        return True
    if isinstance(c, (str, bytes, int, float, complex, bool,
                      type(None))):
        # primitive reprs are stable — and a STRING may legitimately
        # CONTAIN ' at 0x...>' text; collapsing it to its type name
        # would alias two transforms differing only in that literal
        return False
    if isinstance(c, (tuple, list)):
        return any(_needs_canon(e) for e in c)
    if isinstance(c, dict):
        return any(_needs_canon(k) or _needs_canon(v)
                   for k, v in c.items())
    if _ADDR_RE is None:
        import re

        _ADDR_RE = re.compile(r" at 0x[0-9a-fA-F]+>")
    return bool(_ADDR_RE.search(repr(c)))


def _const_repr(c) -> str:
    """Process-independent repr of a value reachable from a code
    constant or a functools.partial argument. Values whose repr() is
    already stable pass through VERBATIM (minimal fingerprint churn);
    the unstable cases get a canonical form:
    - code objects repr with a per-process memory address;
    - sets/frozensets (set-literal membership tests compile to
      frozenset consts) repr in string-hash order, which varies with
      PYTHONHASHSEED across interpreter restarts — nested at ANY depth
      (lists/dicts/tuples recursed);
    - arbitrary objects with default address-bearing reprs collapse to
      their type name (coarse but restart-stable).
    Any of these would change the job fingerprint across restarts and
    reject a legitimate resume — exactly the crash/restart case
    checkpoints exist for."""
    if not _needs_canon(c):
        return repr(c)
    if hasattr(c, "co_code"):
        return _code_digest(c).hex()
    if isinstance(c, (set, frozenset)):
        return (type(c).__name__ + "{"
                + ",".join(sorted(_const_repr(e) for e in c)) + "}")
    if isinstance(c, tuple):
        return "(" + ",".join(_const_repr(e) for e in c) + ")"
    if isinstance(c, list):
        return "[" + ",".join(_const_repr(e) for e in c) + "]"
    if isinstance(c, dict):  # insertion order: stable for same code
        return "{" + ",".join(f"{_const_repr(k)}:{_const_repr(v)}"
                              for k, v in c.items()) + "}"
    return f"<{type(c).__module__}.{type(c).__qualname__}>"


def _code_digest(code) -> bytes:
    """Process-independent digest of a code object: bytecode plus
    canonicalized consts, each LENGTH-FRAMED and type-tagged so
    adjacent consts can never alias (consts (1, 23) vs (12, 3) with
    identical bytecode must digest differently)."""
    import hashlib

    h = hashlib.sha256(code.co_code)
    # co_names/co_freevars too: bytecode references globals/closure vars
    # BY INDEX, so swapping one referenced global for another (min -> max)
    # leaves co_code identical — only the name tuple distinguishes them.
    h.update(("\x00".join(code.co_names) + "\x01"
              + "\x00".join(code.co_freevars)).encode())
    for c in code.co_consts:
        if hasattr(c, "co_code"):
            b = b"\x01" + _code_digest(c)
        else:
            b = b"\x00" + _const_repr(c).encode()
        h.update(len(b).to_bytes(4, "little"))
        h.update(b)
    return h.digest()


def _transform_fingerprint(transform) -> list | None:
    """Best-effort identity of the epoch transform: qualname PLUS a hash
    of the code object's bytecode and constants, so editing a lambda's
    BODY (same name) changes the fingerprint. Callables without __code__
    (functools.partial, C callables) fall back to their own distinct
    type-tagged form — never None, which is reserved for 'no transform'."""
    if transform is None:
        return None
    name = getattr(transform, "__qualname__", type(transform).__name__)
    code = getattr(transform, "__code__", None)
    if code is None and hasattr(transform, "func"):  # functools.partial
        code = getattr(transform.func, "__code__", None)
        # _const_repr, not repr: a set/frozenset bound argument would
        # otherwise make the fingerprint PYTHONHASHSEED-dependent (same
        # trap as set-literal code consts)
        name = f"partial({getattr(transform.func, '__qualname__', '?')})" \
               + _const_repr((transform.args,
                              tuple(sorted(transform.keywords.items()))
                              if transform.keywords else ()))
    body = _code_digest(code).hex()[:16] if code is not None else None
    return [name, body]


def _lineage_partial_schema(df, group_by, n_specs) -> T.StructType:
    base = _partial_schema(df, group_by, n_specs)
    return T.StructType(
        [T.StructField("epoch", T.IntegerType()),
         T.StructField("partition_id", T.IntegerType())] + list(base.fields))


def epoch_file_groups(checkpoint_dir: str) -> list[list[str]] | None:
    """The committed file slicing for this checkpoint (None = hash slicing)."""
    path = os.path.join(checkpoint_dir, "manifest.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        man = json.load(f)
    if not man["files"]:
        return None  # hash-sliced checkpoint (manifest holds signature only)
    return [man["files"][e::man["epochs"]] for e in range(man["epochs"])]


def sketch_agg_checkpointed(df: DataFrame,
                            group_by: list[str],
                            specs: list[SketchSpec],
                            checkpoint_dir: str,
                            epochs: int = 8,
                            include_rows: bool = False,
                            max_groups_per_partition: int = 100_000,
                            transform=None,
                            _run_epochs: list[int] | None = None) -> DataFrame:
    """Resumable two-level sketch aggregation.

    When ``df`` is a parquet scan, each epoch re-reads only its slice of
    the input files (single-scan total; see module docstring). ``df`` must
    then be the raw scan — if there is lineage between the scan and the
    aggregation input (filters, derived columns), pass it as ``transform``
    (a ``DataFrame -> DataFrame`` callable) so each epoch slice reproduces
    it. Non-file-backed inputs use the hash-of-row slice.

    ``_run_epochs`` limits which missing epochs are computed this call
    (test hook for simulating a crash between epochs).
    """
    spark = df.sparkSession
    group_by = list(group_by)
    in_cols = [spec.input_expr(i) for i, spec in enumerate(specs)]
    in_names = [f"__in_{i}" for i in range(len(specs))]

    partial_schema = _lineage_partial_schema(df, group_by, len(specs))
    partials_root = os.path.join(checkpoint_dir, "partials")
    metrics_path = os.path.join(checkpoint_dir, "metrics.jsonl")
    manifest_path = os.path.join(checkpoint_dir, "manifest.json")
    os.makedirs(checkpoint_dir, exist_ok=True)

    # File slicing re-reads raw files per epoch, so it is only legal when
    # df IS the raw scan: a filtered/derived df still reports inputFiles(),
    # and slicing it by file would silently drop the filter. Callers with
    # lineage pass the raw scan + ``transform``; otherwise fall back to
    # the hash slice, which keeps the full lineage (correct, E× re-scan).
    bare = _is_bare_scan(df)
    if transform is not None and not bare:
        raise ValueError(
            "sketch_agg_checkpointed(transform=...) requires df to be the "
            "bare file scan — the epoch slices re-read the raw files and "
            "apply transform; df's own lineage would be lost. Pass "
            "spark.read.parquet(...) as df and fold everything else into "
            "transform.")
    files = sorted(df.inputFiles())
    use_files = (bool(files) and bare
                 and all(f.endswith(".parquet") for f in files))
    # the JOB SIGNATURE commits what the partials MEAN: resuming with
    # different specs/grouping would deserialize old blobs under new
    # sketch definitions and merge garbage silently; a different
    # transform would mix differently-filtered epochs. Both must fail
    # loudly instead.
    signature = {
        "group_by": group_by,
        "specs": [[s.op, s.col, s.out, json.dumps(s.params, sort_keys=True,
                                                  default=str)]
                  for s in specs],
        "transform": _transform_fingerprint(transform),
    }
    if os.path.exists(manifest_path):
        # resume MUST slice exactly as the original run did, even if files
        # were added/compacted since — the manifest is the commit
        with open(manifest_path) as f:
            man = json.load(f)
        if man["epochs"] != epochs:
            raise ValueError(
                f"checkpoint at {checkpoint_dir} was started with "
                f"epochs={man['epochs']}, not {epochs}")
        committed = man.get("signature")
        if committed is not None and committed != signature:
            raise ValueError(
                f"checkpoint at {checkpoint_dir} was started with a "
                f"different job signature {committed} — resuming with "
                f"{signature} would merge incompatible partials. Use a "
                f"fresh checkpoint_dir for a changed job.")
        files, use_files = man["files"], bool(man["files"])
        if use_files and not bare and transform is None:
            # resuming a FILE-SLICED checkpoint with a derived df would
            # re-read raw files and silently drop the df's lineage — the
            # same hazard the first-run guard prevents
            raise ValueError(
                "resuming a file-sliced checkpoint requires df to be the "
                "bare file scan (pass lineage via transform=; it must "
                "match the original run)")
    else:
        with open(manifest_path, "w") as f:
            # hash-sliced checkpoints commit files=[] — the signature
            # guard applies to them all the same
            json.dump({"files": files if use_files else [],
                       "epochs": epochs, "signature": signature}, f)

    done = completed_epochs(checkpoint_dir)
    todo = [e for e in range(epochs) if e not in done]
    if _run_epochs is not None:
        todo = [e for e in todo if e in _run_epochs]
    # the epochs in flight share the cores (module docstring, "Task share")
    cores = spark.sparkContext.defaultParallelism
    width = min(len(todo), cores)

    # epoch_input(e) -> (input or None, input_bytes, tasks): the epoch's
    # level-1 input, the Catalyst size the task share was sized from and
    # the coalesce target (None: Spark's own splits)
    if use_files:
        groups = [files[e::epochs] for e in range(epochs)]
        max_split = spark._jsparkSession.sessionState().conf() \
            .filesMaxPartitionBytes()

        def epoch_input(e: int):
            if not groups[e]:
                return None, 0, None  # more epochs than files — empty slice
            # the scan's schema is known: no per-slice inference job
            src = spark.read.schema(df.schema).parquet(*groups[e])
            nbytes = known_size_bytes(src)
            tasks = None
            if nbytes is not None and nbytes < max_split * cores:
                tasks = max(1, cores // width)
                src = src.coalesce(tasks)
            return (transform(src) if transform is not None else src,
                    nbytes, tasks)
    else:
        proj_all = df.select(
            "*", _epoch_expr(df, epochs).alias("__epoch"))

        def epoch_input(e: int):
            return (proj_all.filter(F.col("__epoch") == e).drop("__epoch"),
                    None, None)

    lock = threading.Lock()

    def run_epoch(e: int) -> None:
        t0 = time.perf_counter()
        src, nbytes, tasks = epoch_input(e)
        out_path = os.path.join(partials_root, f"epoch={e}")
        if src is None:  # an empty RDD: no Python stage for zero rows
            partial = spark.createDataFrame(spark.sparkContext.emptyRDD(),
                                            partial_schema)
        else:
            partial = _level1(src.select(*group_by, *in_cols), group_by,
                              in_names, specs, partial_schema,
                              max_groups_per_partition, lineage_epoch=e)
        # the epoch's metrics ride on its own write (no read-back job)
        obs = Observation()
        partial = partial.observe(obs, F.sum("__rows").alias("rows"),
                                  F.count(F.lit(1)).alias("partials"))
        # the directory name epoch=N IS the epoch (partition discovery
        # restores the column on read); writing it as data too would
        # collide with the partition column
        partial.drop("epoch").write.mode("overwrite").parquet(out_path)
        dt = time.perf_counter() - t0
        stats = obs.get
        rows = int(stats["rows"] or 0)
        with lock, open(metrics_path, "a") as f:
            f.write(json.dumps({
                "epoch": e, "sec": round(dt, 3),
                "rows": rows,
                "partials": int(stats["partials"]),
                "rows_per_sec": round(rows / dt),
                "input_bytes": nbytes,
                "tasks": tasks,
                "ts": time.time(),
            }) + "\n")

    if todo:
        # each submission copies the caller's job group, description and
        # tags into its thread; a failed epoch leaves the others running
        with ThreadPoolExecutor(width) as pool:
            futures = [pool.submit(inheritable_thread_target(spark)(run_epoch),
                                   e) for e in todo]
        for fut in futures:  # every epoch has finished; first failure wins
            err = fut.exception()
            if err is not None:
                raise err

    still_missing = [e for e in range(epochs)
                     if e not in completed_epochs(checkpoint_dir)]
    if still_missing:
        raise RuntimeError(
            f"epochs {still_missing} not yet computed — resume by calling "
            f"again with the same checkpoint_dir")

    all_partials = spark.read.schema(partial_schema) \
        .parquet(partials_root).drop("epoch", "partition_id")
    return _merge_partials(all_partials, group_by, specs,
                           include_rows=include_rows)


def completed_epochs(checkpoint_dir: str) -> set[int]:
    root = os.path.join(checkpoint_dir, "partials")
    done = set()
    if os.path.isdir(root):
        for name in os.listdir(root):
            if name.startswith("epoch=") and os.path.exists(
                    os.path.join(root, name, "_SUCCESS")):
                done.add(int(name.split("=", 1)[1]))
    return done


def read_metrics(checkpoint_dir: str) -> list[dict]:
    path = os.path.join(checkpoint_dir, "metrics.jsonl")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
