"""Fence telemetry — the "no silent caps" rule, made observable.

Every skew fence in the dedup/similarity ladder (``max_bucket_size``
on the LSH and sign-bucket joins, ``max_occurrences`` on the
span/passage window indexes, ``max_cluster_size`` on the SemDeDup
cluster join) SHORT-CIRCUITS work: an over-cap group is dropped from
the candidate join and its members are conservatively kept.  That is
the right 100 TB behavior — one degenerate bucket must not hold a
1000-executor job hostage — but a production corpus that trips a
fence must be VISIBLE, or "covered everything" silently becomes
"covered everything except the boilerplate that mattered".

This module is the reporting channel.  It is deliberately passive:
when no collector is active (the default — every registry query, the
bench, the driver) every call here is a no-op that costs one
context-variable lookup, the operators' plans are unchanged and no
extra Spark job runs.  When a collector IS active (the engine runner
opens one around each node), the fenced groups and their member rows
are counted and the engine writes the records into
``run_results.json`` next to the node's status.

What an armed fence costs, per tier:

- **bucket** (LSH band buckets, sign-bucket joins —
  :func:`checkpoint_fenced`): the pin's eager checkpoint job only; the
  counts ride that job as observed metrics.
- **cluster** (the SemDeDup ``max_cluster_size`` fence): one collect
  of at most ``n_lists`` rows, which the fence runs armed or not
  (:func:`record_counts`).
- **window** (the span/passage ``max_occurrences`` fences —
  :func:`record_fence`): one extra enumeration pass per site; pinning
  the exploded corpus instead would materialize every k-gram.

Collectors are context-local (``contextvars``): the engine runs each
DAG node in its own copy of the run's context, so records can't bleed
between concurrently-running nodes, and a streaming drain runs each
``foreachBatch`` body in a copy of the context captured at drain start
(``streaming.events.run_available_now``), so micro-batch fence records
reach the caller's collector.
"""

from __future__ import annotations

import contextvars
import itertools

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "FenceTelemetry",
    "active",
    "checkpoint_fenced",
    "record_counts",
    "record_fence",
    "record_metric",
]

_active: contextvars.ContextVar["FenceTelemetry | None"] = contextvars.ContextVar(
    "fence_telemetry", default=None
)
# observed-metric names must be unique within a plan; one per call
_observation_ids = itertools.count()


class FenceTelemetry:
    """Context manager collecting fence records in the current context.

    >>> with FenceTelemetry() as ft:
    ...     semdedup(emb, "id", "vec", max_cluster_size=10_000)
    >>> ft.records
    [{"operator": "semdedup", "fence": "max_cluster_size",
      "fenced_groups": 1, "fenced_rows": 48213}]
    """

    def __init__(self) -> None:
        self.records: list[dict] = []
        # named scalar metrics: diagnostics stages
        # (recall/precision evals) report through the same per-node
        # channel as the fences, landing in run_results next to them.
        # Values are Optional by contract: record_metric(None) stores a
        # null (a diagnostic that could not produce a number this run
        # is still a reported metric — consumers like the monitor's
        # recall policy must guard it).
        self.metrics: dict[str, float | None] = {}
        self._tokens: list[contextvars.Token] = []

    def __enter__(self) -> "FenceTelemetry":
        self._tokens.append(_active.set(self))
        return self

    def __exit__(self, *exc) -> None:
        _active.reset(self._tokens.pop())


def active() -> FenceTelemetry | None:
    return _active.get()


def checkpoint_fenced(
    df: DataFrame, operator: str, fence: str, over: Column, rows: Column
) -> DataFrame:
    """Bucket-tier fence site: materialize ``df`` (eager
    localCheckpoint) when a collector is active, counting the rows
    where ``over`` holds as fenced groups and summing ``rows`` over
    them as fenced rows.  The counts are observed metrics at the root
    of the checkpoint query, so they ride its one job and are read
    synchronously from its query execution.  The pinned frame then
    feeds the fence filter and the downstream join without re-running
    the upstream pipeline.  No collector ⇒ returns ``df`` untouched —
    the driver/bench path keeps its plan byte-identical.  Call this on
    the grouped frame the fence filters, not on the fenced subset."""
    if active() is None:
        return df
    name = f"fence:{operator}:{next(_observation_ids)}"
    observed = df.observe(
        name,
        F.count_if(over),
        F.coalesce(F.sum(F.when(over, rows)), F.lit(0)).cast("bigint"),
    )
    pinned = observed.localCheckpoint(eager=True)
    counts = observed._jdf.queryExecution().observedMetrics().apply(name)
    record_counts(operator, fence, counts.getLong(0), counts.getLong(1))
    return pinned


def record_counts(
    operator: str, fence: str, fenced_groups: int, fenced_rows: int
) -> None:
    """Report a fence site whose counts are already on the driver.
    No-op unless a collector is active."""
    collector = active()
    if collector is None:
        return
    collector.records.append(
        {
            "operator": operator,
            "fence": fence,
            "fenced_groups": int(fenced_groups),
            "fenced_rows": int(fenced_rows),
        }
    )


def record_fence(
    operator: str, fence: str, fenced_groups: DataFrame, rows_col: str
) -> None:
    """Report a window-tier fence site.  ``fenced_groups`` is the
    (small) frame of over-cap group keys the fence drops — one row per
    fenced group, ``rows_col`` naming its member count — counted with
    one eager aggregate.  No-op unless a collector is active, so fence
    sites may call this unconditionally."""
    if active() is None:
        return
    row = fenced_groups.agg(
        F.count("*"), F.coalesce(F.sum(rows_col), F.lit(0)).cast("bigint")
    ).first()
    record_counts(operator, fence, row[0], row[1])


def record_metric(name: str, value) -> None:
    """Report a named scalar metric (a recall/precision number, a
    tuning statistic) on the current node's collector — the engine
    writes it into that node's ``metrics`` dict in run_results.json,
    where ``engine monitor`` alert policies can threshold it exactly
    like the fence records.  No-op without an active collector, so
    diagnostics code may call this unconditionally.  ``value=None`` is
    stored as a null (see :class:`FenceTelemetry.metrics`) — consumers
    must treat metric values as ``float | None``."""
    collector = active()
    if collector is None:
        return
    collector.metrics[str(name)] = (
        float(value) if value is not None else None
    )
