"""Round-6: python-worker pool warmup + preloaded daemon (session.py)."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sql_identity_resolution_spark import session as S


def test_daemon_preload_configured_for_local_master(spark):
    # build_session (conftest fixture) runs with a local[*] master, so the
    # preloaded daemon module must be wired in
    assert (
        spark.conf.get("spark.python.daemon.module")
        == "sql_identity_resolution_spark.daemon_preload"
    )


def test_daemon_preload_module_delegates_to_pyspark():
    import sql_identity_resolution_spark.daemon_preload as dp

    from pyspark.daemon import manager

    assert dp.manager is manager


def test_warmup_is_idempotent_and_workers_stay_functional(spark):
    # the fixture session was warmed at build; calling the warmup body again
    # must be a no-op-safe action and leave the worker pool usable
    S._warm_python_workers(spark, 4)
    df = spark.range(0, 100, 1, 4)

    def fn(it):
        import pandas as pd

        for pdf in it:
            yield pd.DataFrame({"n": [int(pdf["id"].sum())]})

    total = sum(r["n"] for r in df.mapInPandas(fn, "n long").collect())
    assert total == sum(range(100))


def test_warmup_once_per_application(spark):
    assert spark.sparkContext.applicationId in S._WARMED_APPS
    before = len(S._WARMED_APPS)
    S.build_session(app_name="idr-tests", master="local[*]")  # same app via getOrCreate
    assert len(S._WARMED_APPS) == before


def test_local_master_lifts_listing_threshold(spark):
    # local masters list bucketed stores on the driver (no listing job)
    assert spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold") == "4096"


def test_concurrent_build_session_warms_once(spark, monkeypatch):
    """Concurrent build_session calls on one application start ONE warm-up
    (the _WARMED_APPS check-then-add runs under a lock)."""
    import threading

    app_id = spark.sparkContext.applicationId
    calls = []
    monkeypatch.setattr(S, "_warm_python_workers", lambda *a: calls.append(a))
    S._WARMED_APPS.discard(app_id)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [
            threading.Thread(target=S.build_session, kwargs={"app_name": "idr-tests", "master": "local[*]"})
            for _ in range(8)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        S._WARMED_APPS.add(app_id)
    # warm-up threads run the (patched) target asynchronously: give any
    # second one time to land before counting
    threading.Event().wait(1.0)
    assert len(calls) == 1
