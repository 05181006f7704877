"""Training-data pipeline functions: text analysis, dedup, similarity, multimodal.

These extend the CDC engine with the operations a 100 TB training-data pipeline
runs over transcript/document tables. Everything stays JVM-side (built-in
pyspark.sql.functions inside whole-stage codegen) except where vector math
genuinely needs numpy — those paths are Arrow-batched pandas UDFs, never
row-at-a-time Python.
"""

from aqueduct_core_spark.functions.text import (  # noqa: F401
    add_quality_features,
    fingerprint_md5,
    lang_id,
    quality_score,
    token_count,
    tokens,
)
from aqueduct_core_spark.functions.dedup import (  # noqa: F401
    exact_dedup,
    exact_duplicate_groups,
    minhash_signatures,
    lsh_candidate_pairs,
    token_jaccard_pairs,
)
from aqueduct_core_spark.functions.similarity import (  # noqa: F401
    cosine_topk,
    embedding_neardup_pairs,
    lsh_bucket_ids,
)
