"""tsv_utils_spark — a PySpark-native approximate-analytics engine.

A brand-new, Spark-first rebuild of the query capabilities of
eBay/tsv-utils (the reference, studied at /root/reference — see
SURVEY.md) as a distributed library:

- ``operators``   — exact DataFrame operators with tsv-utils semantics
                    (summarize, filter, join, uniq, sample, select, split,
                    append) plus training-data pipeline ops (dedup,
                    similarity, text analysis, multimodal plumbing).
- ``sketches``    — pure-NumPy mergeable sketches (HLL, KLL, t-digest,
                    count-min, Bloom, MinHash, SimHash) with binary
                    serialization, usable standalone or inside Spark UDAFs.
- ``plans``       — the two-level partial+final sketch-aggregation engine
                    (mapInArrow partial kernel → one sorted-run mapInArrow
                    merge), explicit salting for hot keys,
                    checkpoint/resume of partials.
- ``sources``     — TSV/CSV readers with csv2tsv semantics, the
                    deterministic synthetic source-code table generator.
- ``functions``   — field-list resolution, missing-value policy, number
                    formatting mirroring the reference's output rules.
- ``streaming``   — Structured Streaming wrappers over the mergeable
                    sketch aggregations.

Everything is pure PySpark DataFrame API + vectorized pandas/Arrow UDFs;
no per-row Python UDFs, no JVM extensions.
"""

from tsv_utils_spark import _zipcache

__version__ = "0.1.0"

# the package is imported on a Python worker whenever a library closure
# is unpickled, which covers every library UDF path
_zipcache.install_on_worker()
