"""Serving semantics vs the reference: online reads + cache + freshness
(feature_server.py:206-288), set-oriented offline batch (:290-353), PIT
training join surface (:355-408), dual write + invalidation (:410-455),
metrics (:111-133).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from feature_store_healthcare_spark.registry import (
    VALUES_SCHEMA,
    FeatureRegistry,
    FeatureSchema,
    FeatureSource,
    FeatureStatus,
    FeatureValueType,
)
from feature_store_healthcare_spark.serving import FeatureServer, ServingConfig


def utcnow():
    return datetime.now(timezone.utc).replace(tzinfo=None)


@pytest.fixture()
def server(spark):
    registry = FeatureRegistry(spark)
    for name, vt in [("age", FeatureValueType.INT64), ("bp", FeatureValueType.FLOAT64)]:
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt, entity_type="patient"),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
        )
    return FeatureServer(registry, ServingConfig(cache_ttl_seconds=300))


def _fid(server, name):
    return server.registry.get_feature_by_name(name, entity_type="patient").feature_id


def test_online_read_freshness_and_nullfill(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 40, now - timedelta(seconds=60))
    server.registry.ingest_feature_value(_fid(server, "bp"), "p1", 120.5, now - timedelta(hours=5))
    vec = server.get_online_features("p1", "patient", ["age", "bp", "missing_feat"])
    assert vec.features == {"age": 40, "bp": 120.5, "missing_feat": None}
    assert vec.freshness["age"] == "fresh"
    assert vec.freshness["bp"] == "stale"
    assert vec.freshness["missing_feat"] == "expired"  # null-fill (ref :520-527)
    assert vec.cache_hit is False
    assert vec.to_flat_dict()["age"] == 40


def test_cache_hit_and_write_invalidation(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 40, now)
    v1 = server.get_online_features("p1", "patient", ["age"])
    v2 = server.get_online_features("p1", "patient", ["age"])
    assert v1.cache_hit is False and v2.cache_hit is True
    # dual write invalidates entity cache entries + online table (ref :449)
    server.write_features("p1", "patient", {"age": 41}, timestamp=now + timedelta(seconds=1))
    v3 = server.get_online_features("p1", "patient", ["age"])
    assert v3.cache_hit is False and v3.features["age"] == 41
    m = server.get_metrics()
    assert m["total_requests"] == 3 and m["cache_hits"] == 1
    assert 0 < m["cache_hit_rate"] < 1


def test_offline_batch_is_set_oriented(server):
    """One plan for all entities (vs ref per-entity loop :313-316); unknown
    entities null-fill instead of failing (ref error isolation :331-342)."""
    now = utcnow()
    for ent, val in [("p1", 30), ("p2", 35)]:
        server.registry.ingest_feature_value(_fid(server, "age"), ent, val, now - timedelta(days=1))
    df = server.get_offline_features(["p1", "p2", "ghost"], "patient", ["age"], now)
    rows = {r.entity_id: r.age for r in df.collect()}
    assert rows == {"p1": 30, "p2": 35, "ghost": None}
    assert f"age__timestamp" in df.columns


def test_point_in_time_training_join(server):
    fid = _fid(server, "bp")
    server.registry.ingest_feature_value(fid, "p1", 110.0, "2024-01-01 00:00:00")
    server.registry.ingest_feature_value(fid, "p1", 130.0, "2024-01-10 00:00:00")
    spine = server.spark.createDataFrame(
        [
            ("p1", "2024-01-05 00:00:00", 1),
            ("p1", "2024-01-15 00:00:00", 0),
            ("p1", "2023-12-01 00:00:00", 1),
        ],
        "entity_id string, event_timestamp string, label int",  # ISO strings OK (ref :383-384)
    )
    out = server.get_point_in_time_features(spine, ["bp"])
    got = {str(r.event_timestamp): (r.bp, r.label) for r in out.collect()}
    assert got["2024-01-05 00:00:00"] == (110.0, 1)  # no leak from 01-10
    assert got["2024-01-15 00:00:00"] == (130.0, 0)
    assert got["2023-12-01 00:00:00"] == (None, 1)  # pre-history → null
    assert "bp__timestamp" in out.columns


def test_point_in_time_join_with_tolerance(server):
    fid = _fid(server, "bp")
    server.registry.ingest_feature_value(fid, "p1", 110.0, "2024-01-01 00:00:00")
    spine = server.spark.createDataFrame(
        [("p1", "2024-01-02 00:00:00", 1), ("p1", "2024-01-20 00:00:00", 0)],
        "entity_id string, event_timestamp string, label int",
    )
    out = server.get_point_in_time_features(
        spine, ["bp"], tolerance="INTERVAL 7 DAYS"
    )
    got = {str(r.event_timestamp): r.bp for r in out.collect()}
    assert got["2024-01-02 00:00:00"] == 110.0     # 1 day old: fresh enough
    assert got["2024-01-20 00:00:00"] is None      # 19 days old: null-fill


def test_freshness_report(server):
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 1, now - timedelta(seconds=30))
    server.registry.ingest_feature_value(_fid(server, "age"), "p2", 2, now - timedelta(hours=2))
    server.registry.ingest_feature_value(_fid(server, "age"), "p3", 3, now - timedelta(days=3))
    got = {r.entity_id: r.freshness for r in server.freshness_report(now).collect()}
    assert got == {"p1": "fresh", "p2": "stale", "p3": "expired"}


def test_interpolated_feature_read(server, spark):
    base = datetime(2024, 1, 1)
    for day, v in [(1, 100.0), (5, 120.0)]:
        server.registry.ingest_feature_value(
            _fid(server, "bp"), "p1", v, base.replace(day=day)
        )
    spine = spark.createDataFrame(
        [
            ("p1", datetime(2024, 1, 3)),   # midpoint of 100 -> 120
            ("p1", datetime(2024, 1, 9)),   # after last -> hold
            ("p1", datetime(2023, 12, 1)),  # before first -> null
        ],
        "entity_id string, event_timestamp timestamp_ntz",
    )
    out = {r.event_timestamp: r for r in
           server.get_interpolated_features(spine, "bp").collect()}
    assert out[datetime(2024, 1, 3)].bp == pytest.approx(110.0)
    assert out[datetime(2024, 1, 3)].bp__prev == 100.0
    assert out[datetime(2024, 1, 9)].bp == 120.0
    assert out[datetime(2023, 12, 1)].bp is None


def test_interpolated_feature_rejects_non_numeric(spark):
    registry = FeatureRegistry(spark)
    registry.register_feature(
        name="note",
        schema=FeatureSchema(name="note", value_type=FeatureValueType.STRING, entity_type="patient"),
        source=FeatureSource(),
        owner="t",
        status=FeatureStatus.ACTIVE,
    )
    srv = FeatureServer(registry)
    spine = spark.createDataFrame(
        [("p1", datetime(2024, 1, 1))], "entity_id string, event_timestamp timestamp_ntz"
    )
    with pytest.raises(ValueError, match="numeric"):
        srv.get_interpolated_features(spine, "note")


def test_reference_api_aliases(spark, sf_dir):
    """Drop-in parity with the reference's named methods:
    activate/deprecate_feature on the registry (ref feature_registry.py:
    332-355) and reset_metrics on the server (ref feature_server.py)."""
    from feature_store_healthcare_spark.registry import (
        FeatureRegistry,
        FeatureSchema,
        FeatureSource,
        FeatureStatus,
        FeatureValueType,
    )

    reg = FeatureRegistry(spark)
    f = reg.register_feature(
        name="alias_check",
        schema=FeatureSchema(
            name="alias_check",
            value_type=FeatureValueType.FLOAT64,
            description="",
            category="lab",
            entity_type="patient",
        ),
        source=FeatureSource(source_type="batch", source_location="/x"),
        owner="t",
    )
    assert reg.activate_feature(f.feature_id).status is FeatureStatus.ACTIVE
    d = reg.deprecate_feature(f.feature_id, "superseded")
    assert d.status is FeatureStatus.DEPRECATED
    assert d.tags["deprecation_reason"] == "superseded"

    server = FeatureServer(reg)
    server._requests = 5
    server._latencies = [1.0, 2.0]
    server._cache.hits = 3
    server._cache.misses = 4
    server.reset_metrics()
    m = server.get_metrics()
    assert m["total_requests"] == 0 and m["cache_hits"] == 0
    assert m["avg_latency_ms"] == 0.0 and m["p99_latency_ms"] == 0.0


def _values_df(spark, **cols):
    """One VALUES_SCHEMA row for ingest_values_df; unnamed columns NULL."""
    row = dict.fromkeys(VALUES_SCHEMA.fieldNames())
    row.update(cols)
    return spark.createDataFrame([tuple(row.values())], VALUES_SCHEMA)


def _phi_server(spark):
    registry = FeatureRegistry(spark)
    for name, vt, phi, roles in [
        ("age", FeatureValueType.INT64, "none", []),
        ("dx", FeatureValueType.STRING, "direct", ["clinician"]),
    ]:
        registry.register_feature(
            name=name,
            schema=FeatureSchema(name=name, value_type=vt, entity_type="patient"),
            source=FeatureSource(),
            owner="t",
            status=FeatureStatus.ACTIVE,
            phi_level=phi,
            access_roles=roles,
        )
    return FeatureServer(registry)


def test_external_ingest_refreshes_online_read(server):
    """A value ingested straight into the registry after the index was
    built is served at once, and the stale cached vector is not."""
    now = utcnow()
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 40, now - timedelta(seconds=5))
    assert server.get_online_features("p1", "patient", ["age"]).features["age"] == 40
    assert server.get_online_features("p1", "patient", ["age"]).cache_hit is True
    server.registry.ingest_feature_value(_fid(server, "age"), "p1", 41, now)
    vec = server.get_online_features("p1", "patient", ["age"])
    assert vec.features["age"] == 41 and vec.cache_hit is False
    assert vec.timestamps["age"] == now


def test_external_bulk_ingest_refreshes_online_read(spark, tmp_path):
    registry = FeatureRegistry(spark, storage_dir=str(tmp_path / "store"))
    f = registry.register_feature(
        name="age",
        schema=FeatureSchema(name="age", value_type=FeatureValueType.INT64, entity_type="patient"),
        source=FeatureSource(),
        owner="t",
        status=FeatureStatus.ACTIVE,
    )
    srv = FeatureServer(registry)
    now = utcnow()
    registry.ingest_feature_value(f.feature_id, "p1", 40, now - timedelta(seconds=5))
    srv.get_online_features("p1", "patient", ["age"])
    assert srv.get_online_features("p1", "patient", ["age"]).cache_hit is True
    registry.ingest_values_df(_values_df(
        spark, feature_id=f.feature_id, feature_name="age", entity_type="patient",
        entity_id="p1", value_long=42, event_timestamp=now, created_timestamp=now, seq=10))
    vec = srv.get_online_features("p1", "patient", ["age"])
    assert vec.features["age"] == 42 and vec.cache_hit is False
    report = {r.entity_id: r.event_timestamp for r in srv.freshness_report(now).collect()}
    assert report == {"p1": now}


def test_online_read_masks_phi_for_unauthorised_caller(spark):
    """PHI access is checked per read, after the LRU: an authorised read
    caches the full vector, an unauthorised one gets the PHI feature
    nulled (as registry.get_feature_vector does) and is audited."""
    srv = _phi_server(spark)
    reg, now = srv.registry, utcnow()
    reg.ingest_feature_value(reg.get_feature_by_name("age").feature_id, "p1", 40, now)
    dx = reg.get_feature_by_name("dx")
    reg.ingest_feature_value(dx.feature_id, "p1", "I10", now)
    ok = srv.get_online_features("p1", "patient", ["age", "dx"], "doc", ["clinician"])
    assert ok.features == {"age": 40, "dx": "I10"}
    denied = srv.get_online_features("p1", "patient", ["age", "dx"], "clerk", ["billing"])
    assert denied.cache_hit is True
    assert denied.features == {"age": 40, "dx": None}
    assert denied.timestamps == {"age": now, "dx": None}
    assert denied.freshness["dx"] == "expired" and denied.freshness["age"] == "fresh"
    # the masking made new dicts: the cached vector is whole for the next
    # authorised caller
    again = srv.get_online_features("p1", "patient", ["age", "dx"], "doc", ["clinician"])
    assert again.cache_hit is True and again.features == {"age": 40, "dx": "I10"}
    log = [(r["feature_id"], r["user_id"], r["action"]) for r in reg._access_log]
    assert log == [(dx.feature_id, "clerk", "access_denied")]


def test_online_path_runs_no_spark_jobs(server, spark):
    """Once the index is built, misses and writes run no Spark job."""
    import time as _time

    fid, now = _fid(server, "age"), utcnow()
    for i in range(30):
        server.registry.ingest_feature_value(fid, f"p{i}", i, now - timedelta(seconds=5))
    server.get_online_features("p0", "patient", ["age", "bp"])
    sc, group = spark.sparkContext, "online-path-zero-jobs"
    sc.setJobGroup(group, "online reads and writes")
    try:
        for i in range(1, 21):
            vec = server.get_online_features(f"p{i}", "patient", ["age", "bp"])
            assert vec.cache_hit is False and vec.features == {"age": i, "bp": None}
        for i in range(5):
            server.write_features(f"p{i}", "patient", {"age": 100 + i, "bp": 1.5}, timestamp=now)
        assert server.get_online_features("p3", "patient", ["age", "bp"]).features == {
            "age": 103, "bp": 1.5}
        # control: a job under another group; once the tracker lists it,
        # every earlier job's start has been recorded too
        sc.setJobGroup(group + "-control", "control job")
        spark.range(1).count()
        tracker = sc.statusTracker()
        deadline = _time.monotonic() + 30
        while not tracker.getJobIdsForGroup(group + "-control"):
            assert _time.monotonic() < deadline, "control job never reached the tracker"
            _time.sleep(0.05)
        assert list(tracker.getJobIdsForGroup(group)) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert server.get_metrics()["online_index_builds"] == 1


def test_online_index_metrics_and_build_log(server, caplog):
    import logging

    fid, now = _fid(server, "age"), utcnow()
    server.registry.ingest_feature_value(fid, "p1", 1, now - timedelta(seconds=5))
    with caplog.at_level(logging.DEBUG, logger="feature_store_healthcare_spark.serving"):
        server.get_online_features("p1", "patient", ["age"])
        for i in range(5):
            server.write_features("p1", "patient", {"age": 10 + i},
                                  timestamp=now + timedelta(seconds=i))
        assert server.get_online_features("p1", "patient", ["age"]).features["age"] == 14
        m = server.get_metrics()
        assert (m["online_index_builds"], m["online_index_patches"]) == (1, 5)
        assert m["online_index_rows"] == 1
        server.registry.ingest_feature_value(fid, "p2", 2, now)
        assert server.get_online_features("p2", "patient", ["age"]).features["age"] == 2
        assert server.get_metrics()["online_index_builds"] == 2
        server.invalidate_online_cache()
        server.get_online_features("p3", "patient", ["age"])
    builds = [r.getMessage() for r in caplog.records if "online index build" in r.getMessage()]
    assert len(builds) == 3
    assert builds[0].endswith("(first read)") and builds[0].startswith("online index build: 1 rows")
    assert builds[1].endswith("(external change)")
    assert builds[2].endswith("(explicit invalidate)")
    server.reset_metrics()
    m = server.get_metrics()
    assert (m["online_index_builds"], m["online_index_patches"], m["online_index_rows"]) == (0, 0, 0)


def test_exact_order_tie_rebuilds_through_spark(spark, tmp_path, monkeypatch, caplog):
    """A write whose (event, created, seq) equals the incumbent's cannot be
    ordered in place: latest_per_key breaks the tie on the payload, so the
    index is dropped and the next read rebuilds through Spark."""
    import logging

    from feature_store_healthcare_spark import registry as registry_mod
    from feature_store_healthcare_spark.operators.pit import latest_per_key

    registry = FeatureRegistry(spark, storage_dir=str(tmp_path / "store"))
    f = registry.register_feature(
        name="age",
        schema=FeatureSchema(name="age", value_type=FeatureValueType.INT64, entity_type="patient"),
        source=FeatureSource(),
        owner="t",
        status=FeatureStatus.ACTIVE,
    )
    event, created = datetime(2024, 1, 2), datetime(2024, 1, 3)
    # seq 0: the seq the registry's first ingest_feature_value takes
    registry.ingest_values_df(_values_df(
        spark, feature_id=f.feature_id, feature_name="age", entity_type="patient",
        entity_id="p1", value_long=7, event_timestamp=event, created_timestamp=created, seq=0))
    srv = FeatureServer(registry)
    assert srv.get_online_features("p1", "patient", ["age"]).features["age"] == 7
    monkeypatch.setattr(registry_mod, "_utcnow", lambda: created)
    with caplog.at_level(logging.DEBUG, logger="feature_store_healthcare_spark.serving"):
        srv.write_features("p1", "patient", {"age": 9}, timestamp=event)
        vec = srv.get_online_features("p1", "patient", ["age"])
    want = latest_per_key(registry.values_df(), ["feature_id", "entity_id"], "event_timestamp",
                          tiebreak=["created_timestamp", "seq"]).collect()
    assert vec.features["age"] == want[0]["value_long"] == 9
    m = srv.get_metrics()
    assert (m["online_index_builds"], m["online_index_patches"]) == (2, 0)
    assert any(r.getMessage().endswith("(tie)") for r in caplog.records)


def test_concurrent_writes_and_rebuilds_lose_no_update(server):
    """Writers on several threads race index rebuilds; every entity's
    last write is what the online read serves afterwards."""
    import sys
    import threading

    base, n_writes = datetime(2024, 1, 1), 15
    errors = []

    def writer(e):
        try:
            for k in range(n_writes):
                server.write_features(f"e{e}", "patient", {"age": k},
                                      timestamp=base + timedelta(seconds=k))
                server.get_online_features(f"e{e}", "patient", ["age"])
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    def rebuilder():
        try:
            for i in range(5):
                server.invalidate_online_cache()
                server.get_online_features(f"other{i}", "patient", ["age"])
        except Exception as exc:
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=writer, args=(e,)) for e in range(6)]
        threads.append(threading.Thread(target=rebuilder))
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    for e in range(6):
        vec = server.get_online_features(f"e{e}", "patient", ["age"])
        assert vec.features["age"] == n_writes - 1
        assert vec.timestamps["age"] == base + timedelta(seconds=n_writes - 1)
