"""PipelineMetricsListener: a query's termination failure is charged to
that query alone (driven with fake listener events, no Spark session)."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from mongodb_cdc_delta_spark.streaming.metrics import PipelineMetricsListener


@pytest.mark.parametrize("failed", ["a", "b"])
def test_stream_failure_charges_only_the_failed_query(failed):
    listener = PipelineMetricsListener()
    for name in ("a", "b"):
        listener.onQueryStarted(
            SimpleNamespace(name=name, id=f"id-{name}", runId=f"run-{name}")
        )
    listener.onQueryTerminated(
        SimpleNamespace(
            id=f"id-{failed}", runId=f"run-{failed}", exception="boom"
        )
    )
    listener.onQueryTerminated(
        SimpleNamespace(id="id-x", runId="run-x", exception=None)
    )
    assert {n: m.failures_total for n, m in listener.by_query.items()} == {
        "a": int(failed == "a"),
        "b": int(failed == "b"),
    }
