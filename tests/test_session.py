"""Session profile checks: the local defaults and the documented
cluster-scale overlay."""

from __future__ import annotations

from big_data_imdb_classifier_spark.session import FILE_STREAM_SINK_LOGGER, cluster_conf


def test_cluster_conf_scales_with_fleet_shape():
    c = cluster_conf(executors=1000, cores_per_executor=4)
    assert int(c["spark.sql.shuffle.partitions"]) == 8000  # 2 waves
    assert c["spark.dynamicAllocation.maxExecutors"] == "1000"
    small = cluster_conf(executors=10, cores_per_executor=8)
    assert int(small["spark.sql.shuffle.partitions"]) == 160
    # correctness-critical settings survive any fleet shape
    for conf in (c, small):
        assert conf["spark.sql.session.timeZone"] == "UTC"
        assert conf["spark.sql.adaptive.enabled"] == "true"


def test_session_timezone_is_utc(spark):
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_file_stream_sink_logger_is_quiet(spark):
    """Glob reads would log a metadata-directory WARN with a stack trace;
    the logger that writes it is set to ERROR, and it names a class this
    Spark version has."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.Class.forName(FILE_STREAM_SINK_LOGGER)
    level = jvm.org.apache.logging.log4j.LogManager.getLogger(FILE_STREAM_SINK_LOGGER).getLevel()
    assert level.toString() == "ERROR"


def test_cluster_conf_runs_on_local_cluster_master():
    """The deployment overlay is RUNNABLE, not just documented: a
    subprocess brings up local-cluster[2,2,2048] (two real worker JVMs,
    cross-process shuffles) with cluster_conf() applied and executes a
    registry query end-to-end (tools/cluster_smoke.py)."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "tools", "cluster_smoke.py")],
        capture_output=True, text=True, timeout=280, cwd=repo,
    )
    assert proc.returncode == 0, proc.stdout[-2000:] + proc.stderr[-2000:]
    assert "OK cluster-smoke" in proc.stdout


def test_driver_heap_follows_host_memory(monkeypatch):
    """spark.driver.memory is half of physical memory in whole GiB,
    capped at 16g and at least 1g, read with os.sysconf; an explicit
    extra_conf still wins."""
    import os

    from big_data_imdb_classifier_spark import session

    page = 4096
    for gib, want in [(15.5, "7g"), (8, "4g"), (31, "15g"), (64, "16g"), (1, "1g")]:
        pages = int(gib * 2**30) // page
        monkeypatch.setattr(
            os, "sysconf",
            lambda n, pages=pages: {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}[n],
        )
        assert session.driver_memory() == want, gib
        assert session.session_conf()["spark.driver.memory"] == want, gib
    conf = session.session_conf(extra_conf={"spark.driver.memory": "3g"})
    assert conf["spark.driver.memory"] == "3g"
