"""The four workloads: the library calls each one makes, the exact answers
it is checked against (Spark built-in exact aggregates, computed once at
set-up) and the inputs of its floor runs and sketch probe.

A workload's ``run(phase)`` makes its library calls through ``phase(name,
fn)``, which times ``fn`` under a labelled Spark job group; the phase
names are the layer names the trace reports.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from perfbench.accuracy import Check, ValueHistogram, exact_equal
from tsv_utils_spark.operators import Op, bloom_anti_join, summarize
from tsv_utils_spark.plans import SketchSpec, sketch_agg, sketch_partials
from tsv_utils_spark.plans.checkpoint import (
    read_metrics,
    sketch_agg_checkpointed,
)

CHECKPOINT_EPOCHS = 4
EXACT_QUANTILES = (0.25, 0.5, 0.99)
# at most this many blobs per spec go into the driver-side sketch probe
PROBE_BLOBS = 256

LOWCARD_SPECS = [
    SketchSpec("hll", "path", "distinct_paths"),
    SketchSpec("hll", "repo", "distinct_repos"),
    SketchSpec("cm", "repo", "top_repo", {"finalize": "mode"}),
    SketchSpec("kll", "size_chars", "size", {"quantiles": [0.5, 0.99]}),
]
HIGHCARD_SPECS = [
    SketchSpec("hll", "path", "distinct_paths"),
    SketchSpec("kll", "size_chars", "size_median"),
    SketchSpec("cm", "lang", "top_lang", {"finalize": "mode"}),
]


def add_size_chars(df: DataFrame) -> DataFrame:
    return df.withColumn("size_chars", F.length("content"))


def derive(src: DataFrame) -> DataFrame:
    """The query-side columns: computed inside every query, so the scan
    reads ``content``."""
    return add_size_chars(src).withColumn("module", F.split("path", "/")[1])


def _quantiles(spec: SketchSpec) -> list[float]:
    return list(spec.params.get("quantiles", [0.5]))


class SketchOracle:
    """Exact per-group answers for a list of sketch specs."""

    def __init__(self, base: DataFrame, group_by: list[str],
                 specs: list[SketchSpec]):
        def key(r):
            return tuple(r[k] for k in group_by)

        aggs = [F.count(F.lit(1)).alias("__n")]
        for s in specs:
            if s.op == "hll":
                aggs.append(F.countDistinct(s.col).alias(s.out))
            elif s.op == "kll":
                aggs.append(F.percentile(
                    F.col(s.col).cast("double"),
                    F.array(*[F.lit(q) for q in _quantiles(s)])).alias(s.out))
        self.exact = {key(r): r.asDict()
                      for r in base.groupBy(*group_by).agg(*aggs).collect()}
        self.hists: dict[str, dict] = {}
        for col in sorted({s.col for s in specs if s.op == "kll"}):
            per = defaultdict(list)
            for r in base.groupBy(*group_by, col).count().collect():
                per[key(r)].append((float(r[col]), r["count"]))
            self.hists[col] = {k: ValueHistogram.from_counts(v)
                               for k, v in per.items()}
        # tie-aware mode: every value that reaches the group's top count
        self.modes: dict[str, dict] = {}
        for col in sorted({s.col for s in specs if s.op == "cm"}):
            counts = base.groupBy(*group_by, col).count()
            top = counts.groupBy(*group_by).agg(F.max("count").alias("__top"))
            per = defaultdict(set)
            for r in (counts.join(top, group_by)
                      .filter(F.col("count") == F.col("__top")).collect()):
                per[key(r)].add(str(r[col]))
            self.modes[col] = dict(per)

    def check(self, rows, group_by: list[str],
              specs: list[SketchSpec]) -> Check:
        c = Check()
        got = {tuple(r[k] for k in group_by): r for r in rows}
        if set(got) != set(self.exact):
            c.problems.append(f"{len(got)} groups answered, "
                              f"{len(self.exact)} exist")
        for key, ex in self.exact.items():
            r = got.get(key)
            if r is None:
                continue
            for s in specs:
                if s.op == "hll":
                    c.hll(key, s.out, r[s.out], ex[s.out])
                elif s.op == "kll":
                    names = [n for n, _ in s.output_fields()]
                    for q, name, want in zip(_quantiles(s), names, ex[s.out]):
                        c.kll(key, name, r[name], q,
                              self.hists[s.col][key], want)
                elif s.op == "cm":
                    c.mode(key, s.out, r[s.out], self.modes[s.col][key])
        return c


class SketchAggWorkload:
    """``plans.sketch_agg`` over the derived table, answers collected."""

    def __init__(self, name: str, why: str, table: tuple[int, int],
                 group_by: list[str], specs: list[SketchSpec]):
        self.name, self.why = name, why
        self.rows, self.n_repos = table
        self.group_by, self.specs = group_by, specs

    def prepare(self, spark, src: DataFrame, work: str) -> None:
        self.spark, self.src, self.work = spark, src, work
        self.base = derive(src)

    def oracle(self) -> None:
        self.exact = SketchOracle(self.base, self.group_by, self.specs)

    @property
    def groups(self) -> int:
        return len(self.exact.exact)

    def run(self, phase):
        df = phase("plans.agg.construct",
                   lambda: sketch_agg(self.base, self.group_by, self.specs))
        return phase("plans.agg.execute", df.collect)

    def check(self, answer) -> Check:
        return self.exact.check(answer, self.group_by, self.specs)

    def floor_frame(self) -> DataFrame:
        """The columns the level-1 kernel receives."""
        return self.base.select(
            *self.group_by,
            *[s.input_expr(i) for i, s in enumerate(self.specs)])

    def probe_blobs(self) -> list:
        rows = sketch_partials(self.base, self.group_by, self.specs) \
            .orderBy(*self.group_by).limit(PROBE_BLOBS).collect()
        return [(s, [bytes(r[f"__blob_{i}"]) for r in rows])
                for i, s in enumerate(self.specs)]

    def stored(self) -> dict[str, list[float]]:
        return {}


class CheckpointWorkload(SketchAggWorkload):
    """``plans.checkpoint.sketch_agg_checkpointed`` into a fresh directory
    per query: epoch jobs write partial blobs, then the answer is merged
    from them."""

    def prepare(self, spark, src: DataFrame, work: str) -> None:
        super().prepare(spark, src, work)
        self.runs = 0
        self.last_dir = None
        self.stats: dict[str, list[float]] = defaultdict(list)

    def run(self, phase):
        self.runs += 1
        cdir = os.path.join(self.work, "checkpoints", str(self.runs))
        df = phase("plans.checkpoint.epochs",
                   lambda: sketch_agg_checkpointed(
                       self.src, self.group_by, self.specs, cdir,
                       epochs=CHECKPOINT_EPOCHS, transform=add_size_chars))
        rows = phase("plans.checkpoint.merge", df.collect)
        self._record(cdir)
        if self.last_dir:
            shutil.rmtree(self.last_dir, ignore_errors=True)
        self.last_dir = cdir
        return rows

    def _record(self, cdir: str) -> None:
        files = nbytes = 0
        for root, _dirs, names in os.walk(os.path.join(cdir, "partials")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    nbytes += os.path.getsize(os.path.join(root, n))
        epochs = read_metrics(cdir)
        self.stats["partial_bytes"].append(nbytes)
        self.stats["files_written"].append(files)
        self.stats["partial_rows"].append(sum(e["partials"] for e in epochs))
        self.stats["epoch_s"].append(
            sorted(e["sec"] for e in epochs)[len(epochs) // 2])

    def probe_blobs(self) -> list:
        parts = self.spark.read.parquet(
            os.path.join(self.last_dir, "partials"))
        rows = parts.orderBy("repo", "epoch", "partition_id") \
            .limit(PROBE_BLOBS).collect()
        return [(s, [bytes(r[f"__blob_{i}"]) for r in rows])
                for i, s in enumerate(self.specs)]

    def stored(self) -> dict[str, list[float]]:
        return dict(self.stats)


class ExactWorkload:
    """Exact quantiles through ``operators.summarize`` (forced onto the
    distributed-selection plan of ``plans.quantiles``) plus a Bloom
    anti-join of non-mega-repo files against the mega repo."""

    name = "code_exact"

    def __init__(self, why: str, table: tuple[int, int]):
        self.why = why
        self.rows, self.n_repos = table

    def prepare(self, spark, src: DataFrame, work: str) -> None:
        self.spark, self.work = spark, work
        self.base = derive(src).withColumn(
            "chunk", F.xxhash64(F.substring("content", 1, 48)))
        self.others = self.base.filter(F.col("repo") != "repo_0")
        self.mega = self.base.filter(F.col("repo") == "repo_0")

    @staticmethod
    def _digest(df: DataFrame) -> tuple[int, int]:
        r = df.agg(F.count(F.lit(1)).alias("n"),
                   F.bit_xor(F.xxhash64("path")).alias("x")).first()
        return int(r["n"]), int(r["x"] or 0)

    def oracle(self) -> None:
        probs = F.array(*[F.lit(q) for q in EXACT_QUANTILES])
        self.exact_q = {
            r["lang"]: list(r["q"]) for r in self.base.groupBy("lang").agg(
                F.percentile(F.col("size_chars").cast("double"), probs)
                .alias("q")).collect()}
        self.exact_anti = self._digest(self.others.join(
            self.mega.select("chunk").distinct(), "chunk", "left_anti"))

    @property
    def groups(self) -> int:
        return len(self.exact_q)

    def run(self, phase):
        op = Op.quantile("size_chars", EXACT_QUANTILES, header="size")
        q = phase("plans.quantiles.construct",
                  lambda: summarize(self.base, ["lang"], [op],
                                    quantile_algo="selection"))
        qrows = phase("plans.quantiles.execute", q.collect)
        anti = phase("operators.join.bloom_build",
                     lambda: bloom_anti_join(self.others, self.mega,
                                             ["chunk"]))
        return qrows, phase("operators.join.probe",
                            lambda: self._digest(anti))

    def check(self, answer) -> Check:
        qrows, anti = answer
        c = Check()
        got = {r["lang"]: r for r in qrows}
        if set(got) != set(self.exact_q):
            c.problems.append(f"{len(got)} groups answered, "
                              f"{len(self.exact_q)} exist")
        for lang, want in self.exact_q.items():
            r = got.get(lang)
            for q, w in zip(EXACT_QUANTILES, want):
                name = f"size_{q:g}".replace(".", "_")
                if r is not None and not exact_equal(r[name], w):
                    c.problems.append(f"{lang} {name}: {r[name]} != {w}")
        if anti != self.exact_anti:
            c.problems.append(f"anti-join (rows, xor) {anti} "
                              f"!= {self.exact_anti}")
        return c

    def floor_frame(self) -> DataFrame:
        return self.base.select("lang", "repo", "chunk",
                                F.col("size_chars").try_cast("double"))

    def probe_blobs(self) -> list:
        return []

    def stored(self) -> dict[str, list[float]]:
        return {}


# (rows, Zipf repos) of each workload's table. code_highcard needs many
# small groups per input row so that the level-2 merge outweighs level 1;
# code_exact needs enough rows per job that its many small driver-side jobs
# do not make its time follow the machine's load.
SMALL_TABLE = (40_000, 6)
HIGHCARD_TABLE = (90_000, 100)
EXACT_TABLE = (200_000, 6)


def make(name: str):
    """A fresh workload object by name (KeyError for an unknown name)."""
    return {
        "code_lowcard": lambda: SketchAggWorkload(
            "code_lowcard",
            "8 groups: the level-1 Arrow boundary does nearly all the work "
            "and level 2 merges 8 groups",
            SMALL_TABLE, ["lang"], LOWCARD_SPECS),
        "code_highcard": lambda: SketchAggWorkload(
            "code_highcard",
            "thousands of Zipf (repo, module) groups: the per-group level-2 "
            "merge dominates",
            HIGHCARD_TABLE, ["repo", "module"], HIGHCARD_SPECS),
        "code_checkpoint": lambda: CheckpointWorkload(
            "code_checkpoint",
            "same kernel and merge through storage: 4 epoch jobs write "
            "partial blobs, then the answer is merged from them",
            SMALL_TABLE, ["repo"], HIGHCARD_SPECS),
        "code_exact": lambda: ExactWorkload(
            "driver-side eager jobs dominate: exact selection quantiles "
            "and a Bloom anti-join build",
            EXACT_TABLE),
    }[name]()


WORKLOADS = ("code_lowcard", "code_highcard", "code_checkpoint", "code_exact")
