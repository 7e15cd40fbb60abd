"""The partial store behind the streaming data-quality monitors, and
its one merge.

A monitor keeps a registered batch table current over arriving
micro-batches without rescanning the corpus. Each such batch query is
written as ``publish(counters(docs))``, with both steps next to the
query that owns them:

* calibration: ``plans/audit_ops.calibration_counters`` /
  ``publish_calibration`` (``quality_calibration_bins``);
* k-anonymity: ``plans/audit_ops.qi_class_counters`` /
  ``publish_k_anonymity`` (``privacy_k_anonymity``);
* language budget: ``plans/audit_ops.lang_token_counters`` /
  ``allocation_from_per_lang`` (``sample_language_budget``);
* shard plan: ``plans/pipeline_econ.shard_counters`` /
  ``publish_shard_plan`` (``storage_shard_plan``);
* PII density: ``plans/semdedup.pii_counters`` /
  ``publish_pii_density`` (``pii_density_by_source``).

The stream runs the same counters per epoch and publishes from the
store: ``publish(merge_partials(spark.read.parquet(store), keys))``.
Every counter is a sum, so the merge is one ``groupBy(keys).sum`` and
streamed == batch for any batching (exactly for the integer counters;
the calibration means after their 4 dp rounding).

Exactly once: foreachBatch is at-least-once under task/epoch retry,
so a plain ``mode("append")`` write replays a failed epoch's rows a
second time and every merged sum double-counts that batch.
``write_epoch_partials`` keys the write by ``epoch_id`` (which Spark
guarantees is the SAME on replay of the same batch) and makes it an
epoch-partition OVERWRITE (``partitionOverwriteMode=dynamic`` scoped
to this writer — other epochs' partitions are untouched), so a
replayed epoch replaces its own rows instead of appending beside
them. Readers see ``epoch`` as a normal column; a monitoring window is
a plain filter on it.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_epoch_partials(
    partials: DataFrame, epoch_id: int, store_path: str
) -> None:
    """Write one micro-batch's partial rows under ``epoch=epoch_id``,
    overwriting ONLY that partition — replaying the epoch (foreachBatch
    is at-least-once) rewrites the identical rows instead of
    double-counting them, which is what makes the monitors' merged
    sums exactly-once."""
    (
        partials.withColumn("epoch", F.lit(int(epoch_id)))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch")
        .parquet(store_path)
    )


def merge_partials(partials: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Merge stored partial counters into one row per key: every
    column other than ``keys`` and ``epoch`` is summed under its own
    name, so the result has the shape of the counters it merges."""
    sums = [c for c in partials.columns if c not in (*keys, "epoch")]
    return partials.groupBy(*keys).agg(*[F.sum(c).alias(c) for c in sums])
