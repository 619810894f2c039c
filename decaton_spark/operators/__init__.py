from decaton_spark.operators.batching import batch_tasks, batch_stats
from decaton_spark.operators.compaction import compact_tasks
from decaton_spark.operators.filters import discard_invalid, ignore_keys, project_task_view
from decaton_spark.operators.partitioner import sub_partition
from decaton_spark.operators.pipeline import Pipeline
from decaton_spark.operators.quota import apply_key_quota, split_shaping
from decaton_spark.operators.rate_limit import rate_limit
from decaton_spark.operators.retry import retry_tasks, split_retry
from decaton_spark.operators.scheduling import split_due
from decaton_spark.operators.expectations import apply_expectations, with_violations
from decaton_spark.operators.merge import corpus_merge, corpus_merge_neardup
from decaton_spark.operators.skew import salted_agg

__all__ = [
    "Pipeline",
    "apply_expectations",
    "apply_key_quota",
    "batch_stats",
    "batch_tasks",
    "compact_tasks",
    "corpus_merge",
    "corpus_merge_neardup",
    "discard_invalid",
    "ignore_keys",
    "project_task_view",
    "rate_limit",
    "retry_tasks",
    "salted_agg",
    "split_due",
    "split_retry",
    "split_shaping",
    "sub_partition",
    "with_violations",
]
