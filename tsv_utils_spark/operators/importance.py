"""DSIR-style importance scoring over hashed n-gram features.

Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
scores every raw-corpus document by how target-like its hashed n-gram
distribution is: features are word n-grams hashed into ``buckets``
cells, a categorical distribution is fit per corpus with Laplace
smoothing, and a document's importance weight is

    log w(d) = sum over grams g of d:  log p_target[b(g)] - log p_raw[b(g)]

Top-weight documents are the ones to keep when a pretraining mix should
look like the (small) target corpus.

Scale shape: everything is Catalyst — tokenize/shingle in whole-stage
codegen (the shared contract from operators/dedup.py), ONE content scan
produces per-(doc, bucket) gram counts, bucket statistics reduce to
``buckets`` rows, and scores are an integer dot product against a
broadcast bucket table. No Python in the row path, no collect beyond
1-row scalars.

Determinism contract: the per-bucket log-likelihood ratio is QUANTIZED
to integer micro-nats (``round(llr * scale)`` with ``scale=1e6``), so a
document's score is an exact int64 dot product — order-independent,
engine-portable (the DuckDB oracle reproduces scores bit-for-bit), and
cheaper to shuffle than doubles. The quantization error (<= 0.5
micro-nat per gram) is orders of magnitude below the smoothing noise
DSIR already carries.

Reference connection: this generalizes tsv-summarize's per-key counting
to distribution matching; hashing reuses the md5-uniform trick the
sampling operators established (tsv-sample.d:915-944 uses Murmur3 the
same way).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tsv_utils_spark.operators.dedup import _tokenize_expr
from tsv_utils_spark.plans.quantiles import local_table


def _gram_bucket_array(content_col: str, sizes: tuple[int, ...],
                       buckets: int):
    """Array expression of hashed n-gram bucket ids for one document —
    whole-stage codegen, no Python. A document shorter than ``n``
    tokens contributes no ``n``-grams (strict DSIR features, unlike the
    dedup shingles' whole-doc fallback); empty/NULL content contributes
    nothing at all."""
    toks = _tokenize_expr(content_col)
    tok_len = F.when(
        F.length(F.trim(F.coalesce(F.col(content_col), F.lit("")))) == 0,
        F.lit(0)).otherwise(F.size(toks))
    branches = []
    for n in sizes:
        cnt = F.greatest(tok_len - n + 1, F.lit(0))

        def make(nn):
            return lambda i: F.array_join(F.slice(toks, i, nn), " ")

        branches.append(
            F.when(cnt >= 1,
                   F.transform(F.sequence(F.lit(1), cnt), make(n)))
             .otherwise(F.array().cast("array<string>")))
    grams = F.flatten(F.array(*branches))
    return F.transform(
        grams,
        lambda g: F.pmod(
            F.conv(F.substring(F.md5(g), 1, 13), 16, 10).cast("long"),
            F.lit(buckets)))


def _gram_counts(df: DataFrame, content_col: str, id_col: str,
                 sizes: tuple[int, ...], buckets: int) -> DataFrame:
    """(id, __b, __n): hashed n-gram bucket counts per document — one
    scan, one shuffle on (id, bucket)."""
    arr = _gram_bucket_array(content_col, sizes, buckets)
    return (df.select(F.col(id_col), F.explode(arr).alias("__b"))
              .groupBy(id_col, "__b")
              .agg(F.count(F.lit(1)).alias("__n")))


def _checked_id(id_col: str, op: str):
    """In-plan NULL-id guard (family convention): a NULL id would fall
    out of the non-null-safe score join and silently score the default
    instead of its content."""
    return F.when(
        F.col(id_col).isNull(),
        F.raise_error(F.lit(
            f"{op}: NULL {id_col} — assign surrogate ids first"))
    ).otherwise(F.col(id_col)).alias(id_col)


def _score_counts(ids: DataFrame, counts: DataFrame, table: DataFrame,
                  id_col: str, out_col: str, default) -> DataFrame:
    """Shared scoring tail: per-(id,bucket) counts x broadcast weight
    table -> one groupBy(id) dot product, restored over the full id set
    with ``default`` for documents that produced no grams."""
    scored = (counts.join(F.broadcast(table), "__b")
              .groupBy(id_col)
              .agg(F.sum(F.col("__n") * F.col("__w")).alias("__s")))
    return (ids.join(scored, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col("__s"), F.lit(default))
                     .alias(out_col)))


def dsir_scores(raw: DataFrame, target: DataFrame, content_col: str,
                id_col: str, sizes: tuple[int, ...] = (1, 2),
                buckets: int = 8192,
                scale: int = 1_000_000) -> DataFrame:
    """(id, dsir_score): quantized DSIR importance weight of every raw
    document (int64 micro-nats; higher = more target-like). Documents
    with no grams score 0.

    Laplace-smoothed bucket probabilities: p[b] = (c[b]+1)/(total+B).
    The per-bucket llr table is ``buckets`` rows and broadcast; corpus
    totals enter the plan as 1-row cross joins (no driver round trip),
    so the whole computation is one action."""
    raw = raw.withColumn(id_col, _checked_id(id_col, "dsir_scores"))
    rn = _gram_counts(raw, content_col, id_col, sizes, buckets)
    rc = rn.groupBy("__b").agg(F.sum("__n").alias("__cr"))
    # the target needs only per-BUCKET totals — its exploded grams
    # aggregate straight to __b (no (id, bucket) shuffle; rn keeps the
    # doc dimension because the score join reuses it)
    tc = (target.select(F.explode(
                    _gram_bucket_array(content_col, sizes, buckets))
                  .alias("__b"))
                .groupBy("__b").agg(F.count(F.lit(1)).alias("__ct")))
    # coalesce: an EMPTY corpus must yield total 0, not NULL — a NULL
    # total would NULL every llr and silently zero all scores (the
    # oracle coalesces too)
    tot_r = rc.agg(F.coalesce(F.sum("__cr"), F.lit(0)).alias("__totr"))
    tot_t = tc.agg(F.coalesce(F.sum("__ct"), F.lit(0)).alias("__tott"))
    cnts = (rc.join(tc, "__b", "full")
              .select("__b",
                      F.coalesce("__cr", F.lit(0)).alias("__cr"),
                      F.coalesce("__ct", F.lit(0)).alias("__ct"))
              .crossJoin(F.broadcast(tot_r))
              .crossJoin(F.broadcast(tot_t)))
    llr = (F.log(F.col("__ct") + 1)
           - F.log(F.col("__tott") + buckets)
           - F.log(F.col("__cr") + 1)
           + F.log(F.col("__totr") + buckets))
    table = cnts.select(
        "__b", F.round(llr * scale).cast("long").alias("__w"))
    return _score_counts(raw.select(id_col).distinct(), rn, table,
                         id_col, "dsir_score", F.lit(0).cast("long"))


def dsir_select(raw: DataFrame, target: DataFrame, content_col: str,
                id_col: str, k: int, **kwargs) -> DataFrame:
    """Top-``k`` most target-like raw documents (deterministic
    tie-break on id). The plain argmax selection; the published method
    optionally resamples with Gumbel noise — inject that by adding a
    seeded perturbation to ``dsir_score`` before ranking."""
    s = dsir_scores(raw, target, content_col, id_col, **kwargs)
    return (s.orderBy(F.col("dsir_score").desc(), F.col(id_col).asc())
             .limit(k))


def hashed_ngram_score(df: DataFrame, weights, content_col: str = "text",
                       id_col: str = "doc_id",
                       sizes: tuple[int, ...] = (1, 2),
                       buckets: int = 8192, bias=0,
                       prob: bool = False) -> DataFrame:
    """Score documents with a LINEAR model over hashed n-gram counts —
    the fastText-style quality-classifier shape that CCNet/LLaMA-class
    pipelines run after the cheap rule filters. The model itself is
    caller-supplied data: ``weights`` maps feature bucket -> weight,
    either a dict or a DataFrame with columns (bucket, weight). The
    featurizer is DSIR's (:func:`_gram_counts`): same tokenization,
    same md5 bucket hashing, so a DSIR llr table and an externally
    trained classifier score through one code path.

    ``score = bias + sum_b count[b] * weight[b]``; with ``prob=True``
    a ``sigmoid(score)`` column is appended (logistic output).
    Documents with no grams score exactly ``bias``.

    Determinism note: with INTEGER weights (e.g. micro-unit quantized,
    as DSIR does) the dot product is an exact int64 sum — bit-stable
    and oracle-checkable; float weights sum in partition order like
    any float aggregate.

    Scale shape: one scan + explode for the (id, bucket) counts
    (map-side combined), the weight table broadcast, one groupBy(id)
    — no skewed key can exist (buckets are hash-uniform).
    """
    spark = df.sparkSession
    if isinstance(weights, dict):
        items = sorted(weights.items())
        # type(w) is int: bools are not weights, and a MIXED int/float
        # dict must coerce every value to float (one Arrow column type)
        int_w = all(type(w) is int for _, w in items)
        weights = local_table(
            spark, [(int(b), w if int_w else float(w)) for b, w in items],
            T.StructType([T.StructField("bucket", T.LongType()),
                          T.StructField("weight", T.LongType() if int_w
                                        else T.DoubleType())]))
    wn = weights.select(F.col("bucket").alias("__b"),
                        F.col("weight").alias("__w"))
    df = df.withColumn(id_col, _checked_id(id_col, "hashed_ngram_score"))
    counts = _gram_counts(df, content_col, id_col, sizes, buckets)
    out = _score_counts(df.select(id_col).distinct(), counts, wn,
                        id_col, "__raw", F.lit(0)) \
        .select(id_col, (F.col("__raw") + F.lit(bias)).alias("score"))
    if prob:
        out = out.withColumn(
            "prob", F.lit(1.0)
            / (F.lit(1.0) + F.exp(-F.col("score").cast("double"))))
    return out
