"""Certify the catalog runs on a bare, driver-like SparkSession.

VERDICT r6 ask #2: `q_python_datasource_project` shipped a dependency
on `spark.sql.python.filterPushdown.enabled` that only session.py set,
so it passed every local test and failed on the driver's default
session. The whole catalog is executed here in a SUBPROCESS (a fresh
JVM — in-process getOrCreate() would silently reuse the tuned test
session) against a session with no engine confs at all, at sf0.001.

If this test fails for a query, that query silently assumes a
session.get_spark conf — set the conf inside the query fn (the
_scan/_pushdown pattern, parity.py) or make the plan conf-independent.

The one check on the tuned session is the driver JIT policy: it lives
in the JVM's launch options, which no query can set or depend on.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPT = os.path.join(REPO, "tools", "vanilla_catalog_check.py")


def test_catalog_runs_on_bare_session():
    proc = subprocess.run(
        [sys.executable, SCRIPT, "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=3000,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        "queries failed on a bare SparkSession (they assume a "
        "session.get_spark conf the driver does not set):\n"
        + proc.stdout[-2000:]
        + "\n"
        + proc.stderr[-6000:]
    )


def test_driver_jvm_runs_jit_policy(spark):
    """session.get_spark launches the driver JVM with the JIT policy for
    this host (one C2 thread and backlog-scaled tier-4 thresholds under
    8 processors, JVM defaults above): read the running JVM's own input
    arguments, which a Spark conf that never reached the JVM would not
    show."""
    from batch_processing_etl_orchestration_spark.session import (
        driver_jit_opts,
    )

    args = set(
        spark.sparkContext._jvm.java.lang.management.ManagementFactory
        .getRuntimeMXBean().getInputArguments()
    )
    opts = driver_jit_opts(os.cpu_count() or 1)
    if opts:
        assert set(opts.split()) <= args, args
    else:
        assert not any(a.startswith("-XX:CICompilerCount") for a in args), args
