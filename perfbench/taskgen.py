"""Seeded task generator.

Writes Decaton tasks as parquet files holding the envelope columns that
``decaton_spark.envelope.events_to_tasks`` produces, so the engine sees
exactly the shape a real subscription reads. Everything derives from
one ``numpy`` generator seeded by the caller: the same seed and the same
sequence of calls give byte-identical inputs.

The mix sets how the engine's filters and compaction are exercised:

- ``n_keys`` / ``zipf_s``: key cardinality and skew (rank-``r`` key has
  weight ``r ** -zipf_s``), which decide how much compaction collapses;
- ``invalid_share``: tasks whose payload cannot be extracted. They carry
  a null payload, the only malformed form ``discard_invalid`` drops on
  Spark 4 (malformed JSON text parses to an all-null struct and passes);
- ``blocked_share``: tasks keyed by one of ``BLOCKED_KEYS``, the
  ``ignore_keys`` blocklist;
- ``error_share``: tasks with ``event_type = 'error'``; they are ordinary
  tasks to the pipeline and must reach the sink like any other.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BLOCKED_KEYS = ("blocked-0", "blocked-1", "blocked-2", "blocked-3")
NUM_PARTITIONS = 8  # events_to_tasks' default partition routing
EVENT_TYPES = np.array(["view", "click", "purchase"])

SCHEMA = pa.schema(
    [
        ("key", pa.string()),
        ("value", pa.string()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
        ("meta_timestamp_millis", pa.int64()),
        ("meta_source_application_id", pa.string()),
        ("meta_source_instance_id", pa.string()),
        ("meta_retry_count", pa.int64()),
        ("meta_scheduled_time_millis", pa.int64()),
        ("event_type", pa.string()),
        ("event_value", pa.float64()),
    ]
)

#: Spark DDL of ``SCHEMA`` (a file stream source needs its schema up front).
SPARK_SCHEMA = (
    "key string, value string, topic string, partition int, offset bigint, "
    "timestamp timestamp, meta_timestamp_millis bigint, "
    "meta_source_application_id string, meta_source_instance_id string, "
    "meta_retry_count bigint, meta_scheduled_time_millis bigint, "
    "event_type string, event_value double"
)


@dataclass(frozen=True)
class TaskMix:
    n_keys: int
    zipf_s: float
    invalid_share: float
    blocked_share: float
    error_share: float


class TaskGenerator:
    """Produces tables of tasks with globally increasing offsets."""

    def __init__(self, seed: int, mix: TaskMix) -> None:
        self.rng = np.random.default_rng(seed)
        self.mix = mix
        self.next_offset = 0
        weights = np.arange(1, mix.n_keys + 1, dtype=np.float64) ** -mix.zipf_s
        self._key_p = weights / weights.sum()

    def table(self, n: int, t0_ms: int, span_ms: int) -> pa.Table:
        """``n`` tasks with event times uniform in ``[t0_ms, t0_ms + span_ms)``."""
        rng, mix = self.rng, self.mix
        key_ids = rng.choice(mix.n_keys, size=n, p=self._key_p)
        keys = key_ids.astype(str).astype(object)
        blocked = rng.random(n) < mix.blocked_share
        keys[blocked] = rng.choice(np.array(BLOCKED_KEYS, dtype=object), blocked.sum())
        values = np.array([f'{{"k": {k}}}' for k in key_ids], dtype=object)
        values[rng.random(n) < mix.invalid_share] = None
        event_type = EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)].astype(object)
        event_type[rng.random(n) < mix.error_share] = "error"
        ms = t0_ms + rng.integers(0, span_ms, n)
        offsets = np.arange(self.next_offset, self.next_offset + n, dtype=np.int64)
        self.next_offset += n
        zeros = np.zeros(n, dtype=np.int64)
        return pa.table(
            [
                pa.array(keys, pa.string()),
                pa.array(values, pa.string()),
                pa.array(["tasks"] * n, pa.string()),
                pa.array((key_ids % NUM_PARTITIONS).astype(np.int32)),
                pa.array(offsets),
                pa.array(ms * 1000, pa.timestamp("us", tz="UTC")),
                pa.array(ms),
                pa.array(["decaton-spark"] * n, pa.string()),
                pa.array(["local-0"] * n, pa.string()),
                pa.array(zeros),
                pa.array(zeros),
                pa.array(event_type, pa.string()),
                pa.array(rng.random(n) * 100.0),
            ],
            schema=SCHEMA,
        )


def write_atomic(table: pa.Table, directory: str, name: str) -> str:
    """Write ``table`` so a file stream source never sees a partial file:
    a dot-prefixed name is ignored by the source until the rename."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp")
    final = os.path.join(directory, name)
    pq.write_table(table, tmp)
    os.replace(tmp, final)
    return final


def write_backlog(
    gen: TaskGenerator, directory: str, files: int, rows: int, t0_ms: int, span_ms: int
) -> list[pa.Table]:
    """A backlog of ``files`` files, file ``i`` covering event times
    ``[t0_ms + i * span_ms, t0_ms + (i + 1) * span_ms)``."""
    tables = []
    for i in range(files):
        t = gen.table(rows, t0_ms + i * span_ms, span_ms)
        write_atomic(t, directory, f"part-{i:05d}.parquet")
        tables.append(t)
    return tables
