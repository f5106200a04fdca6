"""The synchronised-filter stage ("validate-all-then-drop").

Semantics (parity with dve backends/base/rules.py:356-555):

- For each entity, ALL record-level filters are evaluated before any row is
  dropped, so one record can collect multiple error codes.
- A record survives only if EVERY record-level filter predicate is non-null
  AND true (null == failure).
- Filters with a non-``record_failure`` emit level only notify (on
  ``NOT (expr)`` against the unmodified entity); they never drop rows.

Vectorised rebuild: the reference adds one hidden uuid column + one
driver-side notification loop PER FILTER, then a final AND filter. Here the
whole stage is three lazy constructs per entity — one ``select`` computing
every predicate once, ONE message frame for all filters (per-check structs +
``array_compact`` + a single ``explode`` — one scan for N filters), one
``where`` over the conjunction — all fused by Catalyst into a single scan.

Deliberate deviation: the reference's sync
stage notifies on ``NOT <pred>`` being truthy, so a NULL predicate drops the
record silently with no message. Here a NULL predicate both drops the record
AND emits its failure message — null is treated as failure-with-feedback
consistently across the drop condition and the error feed.
"""

from __future__ import annotations

from collections import defaultdict
from typing import MutableMapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validation_engine_spark.messages import (
    MessageCollector,
    Reporting,
    messages_for_checks,
)
from data_validation_engine_spark.steps.configs import DeferredFilter

Entities = MutableMapping[str, DataFrame]


def sync_entity(
    entity_name: str, df: DataFrame, filters: list[DeferredFilter]
) -> tuple[DataFrame, DataFrame]:
    """One entity's sync stage: ``(survivors, messages)``.

    Shared by the batch stage and its streaming lift
    (streaming/filters.py), so both evaluate, report and drop alike.
    """
    record_level = [f for f in filters if f.reporting.emit == "record_failure"]
    notify_only = [f for f in filters if f.reporting.emit != "record_failure"]

    # one pass: compute every record-level predicate as a column
    pred_names = [f"__filter_{i}" for i in range(len(record_level))]
    with_preds = df.select(
        "*",
        *[
            F.expr(f.expression).cast("boolean").alias(name)
            for f, name in zip(record_level, pred_names)
        ],
    )

    # ONE message frame for all filters on this entity (single scan):
    # record-level checks reference their precomputed predicate columns,
    # notify-only checks evaluate their expression in place (the helper
    # columns are excluded from payloads, so the frames are equivalent).
    checks: list[tuple[Column, Reporting]] = [
        (F.col(name), f.reporting) for f, name in zip(record_level, pred_names)
    ] + [
        (F.expr(f.expression).cast("boolean"), f.reporting)
        for f in notify_only
    ]
    messages = messages_for_checks(
        entity_name, with_preds, checks, exclude_columns=tuple(pred_names)
    )
    if not record_level:
        return df, messages

    # survivor condition: every predicate non-null AND true
    survive = F.lit(True)
    for name in pred_names:
        survive = survive & F.col(name).isNotNull() & F.col(name)
    return with_preds.where(survive).drop(*pred_names), messages


def apply_sync_filters(
    entities: Entities, filters: list[DeferredFilter]
) -> DataFrame | None:
    """Apply deferred filters; mutate entities; return the messages frame."""
    by_entity: dict[str, list[DeferredFilter]] = defaultdict(list)
    for f in filters:
        by_entity[f.entity_name].append(f)

    collector = MessageCollector()
    for entity_name, entity_filters in by_entity.items():
        entities[entity_name], messages = sync_entity(
            entity_name, entities[entity_name], entity_filters
        )
        collector.add(messages)
    return collector.union()
