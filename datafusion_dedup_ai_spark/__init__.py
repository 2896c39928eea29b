"""datafusion_dedup_ai_spark — a PySpark-native entity-resolution / analytics engine.

A from-scratch, Spark-first re-expression of the capabilities of the reference
pipeline ``kishorwakchaure727-maker/DataFusion-Dedup-AI`` (a single-node pandas
fuzzy company-name dedup + enrichment tool, see /root/reference/engine.py), extended
with the operators a large-scale LLM training-data pipeline needs (exact/near
dedup, similarity search, text analysis, multimodal plumbing, streaming windows).

Everything is expressed against the DataFrame API so Catalyst owns physical
planning (pushdown, pruning, join selection, AQE); Python appears only where the
semantics genuinely require it (Jaro-Winkler pandas_udf, the dedup block pass
that scores, replays union-find and elects in one applyInPandas call per hash
bucket, pluggable enrichment via mapInPandas).
"""

from datafusion_dedup_ai_spark.config import DedupConfig
from datafusion_dedup_ai_spark.plans.pipeline import dedup_pipeline

__version__ = "0.1.0"

__all__ = ["DedupConfig", "dedup_pipeline", "__version__"]
