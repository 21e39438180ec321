"""Fast-tier checks of CDCIngestor.ingest_batch's one write router.

One small multi-collection batch exercises every route: same-schema
collections share one grouped write and one MultiTableTxn manifest, a
collection whose schema differs takes its own LakeTable.append, a poison
event dead-letters with its collection attribution, and replaying the
batch_id skips every table. The grouped write must go through the
ingestor's circuit breaker like every append does.
"""

from __future__ import annotations

import json
import logging

from mongodb_cdc_delta_spark.cdc.pipeline import CDCIngestor
from mongodb_cdc_delta_spark.sinks import txn as txn_mod

TS = 1706054400000  # 2024-01-24T00:00:00Z millis
NOW = "2024-01-24 00:00:00"
GROUPED = ["c0", "c1", "c2"]


def _envelope(coll, doc=None):
    payload = {
        "op": "c",
        "ts_ms": TS,
        "source": {"db": "shop", "collection": coll},
    }
    if doc is not None:
        payload["after"] = json.dumps(doc)
    return json.dumps({"payload": payload})


def _raw(spark, values):
    return spark.createDataFrame(
        [(v, "cdc", 0, i) for i, v in enumerate(values)],
        "value string, topic string, partition int, offset long",
    )


class _Breaker:
    """Circuit-breaker stub: counts calls, knows when one is running."""

    def __init__(self):
        self.calls = 0
        self.active = False

    def call(self, fn):
        self.calls += 1
        self.active = True
        try:
            return fn()
        finally:
            self.active = False


def test_router_groups_appends_dead_letters_and_replays(
    spark, tmp_path, monkeypatch
):
    values = [
        _envelope(c, {"_id": f"{c}-{i}", "n": i})
        for c in GROUPED
        for i in range(3)
    ]
    values += [
        _envelope("c3", {"_id": f"c3-{i}", "n": i, "x": "wide"})
        for i in range(3)
    ]
    poison = _envelope("c1")  # parseable envelope, no document
    values.append(poison)
    raw = _raw(spark, values)

    manifests = []
    orig_commit = txn_mod.MultiTableTxn.commit

    def spy_commit(self):
        manifests.append(sorted(e["root"] for e in self._staged))
        return orig_commit(self)

    monkeypatch.setattr(txn_mod.MultiTableTxn, "commit", spy_commit)

    breaker = _Breaker()
    group_writes_under_breaker = []
    orig_write_group = CDCIngestor._write_group

    def spy_write_group(self, *args, **kwargs):
        group_writes_under_breaker.append(breaker.active)
        return orig_write_group(self, *args, **kwargs)

    monkeypatch.setattr(CDCIngestor, "_write_group", spy_write_group)

    lake = tmp_path / "lake"
    ing = CDCIngestor(spark, str(lake), circuit_breaker=breaker)
    st = ing.ingest_batch(raw, batch_id=1, now=NOW)

    # three same-schema collections: one grouped write, one manifest
    assert manifests == [sorted(str(lake / f"shop_{c}") for c in GROUPED)]
    assert group_writes_under_breaker == [True]
    # group write + c3's append + the DLQ append, each through the breaker
    assert breaker.calls == 3
    for c in GROUPED:
        assert st.collections[f"shop_{c}"]["rows"] == 3
        assert ing.table(f"shop_{c}").count() == 3
        assert "x" not in ing.table(f"shop_{c}").schema().fieldNames()
    # the wider collection landed through its own append
    assert st.collections["shop_c3"]["rows"] == 3
    assert "x" in ing.table("shop_c3").schema().fieldNames()
    # the poison event dead-letters, attributed to its collection
    assert st.dlq_rows == 1
    assert st.dlq_by_collection == {"shop.c1": 1}
    dlq = ing.table("_dlq").read().collect()
    assert [(r["original_event"], r["reason"]) for r in dlq] == [
        (poison, "corrupted_data")
    ]

    # replaying the batch_id skips every table and writes nothing
    st2 = ing.ingest_batch(raw, batch_id=1, now=NOW)
    assert set(st2.collections) == {f"shop_{c}" for c in GROUPED + ["c3"]}
    assert all(v["skipped"] for v in st2.collections.values())
    assert len(manifests) == 1
    for c in GROUPED + ["c3"]:
        assert ing.table(f"shop_{c}").count() == 3
    assert ing.table("_dlq").count() == 1


def test_audit_failure_is_counted_not_raised(spark, tmp_path, caplog):
    class FailingControlPlane:
        def record_audit(self, **kwargs):
            raise OSError("audit store unavailable")

    ing = CDCIngestor(
        spark, str(tmp_path / "lake"), control_plane=FailingControlPlane()
    )
    raw = _raw(spark, [_envelope("users", {"_id": "a", "n": 1})])
    with caplog.at_level(logging.WARNING):
        st = ing.ingest_batch(raw, batch_id=0, now=NOW)
    assert st.collections["shop_users"]["rows"] == 1
    assert ing.table("shop_users").count() == 1
    assert st.audit_failures == 1
    assert "audit store unavailable" in caplog.text
