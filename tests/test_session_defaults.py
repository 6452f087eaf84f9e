"""Session defaults fit the host when no environment variable sets
them."""

from __future__ import annotations

import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE = ("from rsyslog_nginx_clickhouse_spark import session as s; "
         "print(s.DEFAULT_CPUS, s._default_driver_memory())")


def _defaults(**env) -> tuple[str, str]:
    base = {k: v for k, v in os.environ.items()
            if k not in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")}
    out = subprocess.run([sys.executable, "-c", PROBE], cwd=ROOT,
                         env={**base, **env}, capture_output=True,
                         text=True, check=True).stdout.split()
    return out[0], out[1]


def test_defaults_come_from_the_host():
    cpus, mem = _defaults()
    assert cpus == str(len(os.sched_getaffinity(0)))
    with open("/proc/meminfo") as fh:
        total_mb = next(int(line.split()[1]) for line in fh
                        if line.startswith("MemTotal:")) // 1024
    assert mem.endswith("m")
    assert 1 <= int(mem[:-1]) <= min(4096, total_mb // 2)


def test_environment_overrides_the_core_count():
    assert _defaults(SPARK_GRAFT_CPUS="3")[0] == "3"
