"""Record what the SQL text layer rewrites, and compare two recordings.

    python tools/rewritereplay.py record LOG -- CMD [ARG ...]
    python tools/rewritereplay.py compare OLD_LOG NEW_LOG [--fn NAME]

``record`` runs CMD with a ``sitecustomize`` that hooks the import of
``functions/macros.py`` in every Python process CMD starts (pytest and
its workers, ``tools/selfcheck.py``, ``perfbench/run.py``). Each call
of ``expand_macros`` and ``rewrite_aggregates``, and each text that
``macros.sql`` hands to ``spark.sql``, appends one JSON line to LOG:
the function, its input and keyword arguments, and its output or the
exception's type and message. The program under test is not edited;
the hook wraps the module's globals after it loads, so internal calls
through a module global (``macros.sql`` -> ``expand_macros``) are
recorded too.

``compare`` treats both logs as multisets of records and prints every
record whose count differs, grouped by call, so a changed rewrite shows
as its old and new result side by side. It exits 1 when the logs
differ. Use it on a copy of the parent and a copy of the change, run
over the same commands, to show that a refactor rewrites every
recorded query to the same bytes.

``--fn NAME`` compares only the records of one function. A refactor
that moves the layer's internal calls (``expand_macros`` calling the
aggregate layer's pass directly instead of the module global
``rewrite_aggregates``) shifts the ``expand_macros`` and
``rewrite_aggregates`` records, while the text handed to Spark must
not move: ``compare OLD NEW --fn sql`` checks that alone.
"""

from __future__ import annotations

import functools
import importlib.abc
import importlib.util
import json
import os
import subprocess
import sys
import tempfile
import threading
from collections import Counter, defaultdict

MODULE = "rsyslog_nginx_clickhouse_spark.functions.macros"
LOG_ENV = "REWRITEREPLAY_LOG"

_SITECUSTOMIZE = """\
import sys
sys.path.insert(0, {tools!r})
import rewritereplay
sys.path.remove({tools!r})
rewritereplay.install()
"""


def _append(record: dict) -> None:
    line = json.dumps(record, sort_keys=True, default=repr) + "\n"
    fd = os.open(os.environ[LOG_ENV],
                 os.O_WRONLY | os.O_APPEND | os.O_CREAT, 0o644)
    try:
        os.write(fd, line.encode())  # one write per record: processes
    finally:                         # appending side by side never mix
        os.close(fd)


def _outcome(call, record: dict):
    try:
        out = call()
    except Exception as e:
        record["exc"] = [type(e).__name__, str(e)]
        _append(record)
        raise
    record["out"] = out
    _append(record)
    return out


def _recorded(name: str, fn):
    @functools.wraps(fn)
    def wrapper(query, *args, **kwargs):
        return _outcome(lambda: fn(query, *args, **kwargs),
                        {"fn": name, "input": query, "args": list(args),
                         "kwargs": kwargs})
    return wrapper


def _patch(module) -> None:
    for name in ("expand_macros", "rewrite_aggregates"):
        setattr(module, name, _recorded(name, getattr(module, name)))

    # the text macros.sql hands to spark.sql: the session's sql() is
    # wrapped once, and records only calls made from the macros module
    # itself (function registration issues its own statements)
    from pyspark.sql import SparkSession

    handed = threading.local()
    spark_sql = SparkSession.sql

    @functools.wraps(spark_sql)
    def session_sql(self, query, *args, **kwargs):
        if sys._getframe(1).f_globals.get("__name__") == MODULE:
            handed.text = query
        return spark_sql(self, query, *args, **kwargs)

    SparkSession.sql = session_sql
    engine_sql = module.sql

    @functools.wraps(engine_sql)
    def sql(spark, query, **macro_kwargs):
        handed.text = None
        record = {"fn": "sql", "input": query, "kwargs": macro_kwargs}
        try:
            df = engine_sql(spark, query, **macro_kwargs)
        except Exception as e:
            # a text Spark rejected was still handed over: that text is
            # the rewrite's result, whatever the analyzer said about it
            if handed.text is None:
                record["exc"] = [type(e).__name__, str(e)]
            else:
                record["out"] = handed.text
            _append(record)
            raise
        record["out"] = handed.text
        _append(record)
        return df

    module.sql = sql


class _MacrosHook(importlib.abc.MetaPathFinder):
    """Patches the macros module right after it executes."""

    def find_spec(self, name, path, target=None):
        if name != MODULE:
            return None
        sys.meta_path.remove(self)
        spec = importlib.util.find_spec(name)
        if spec is None or spec.loader is None:
            return spec
        exec_module = spec.loader.exec_module

        def exec_and_patch(module):
            exec_module(module)
            _patch(module)

        spec.loader.exec_module = exec_and_patch
        return spec


def install() -> None:
    if os.environ.get(LOG_ENV):
        sys.meta_path.insert(0, _MacrosHook())


def record(log: str, cmd: list[str]) -> int:
    tools = os.path.dirname(os.path.abspath(__file__))
    with tempfile.TemporaryDirectory() as site:
        with open(os.path.join(site, "sitecustomize.py"), "w") as f:
            f.write(_SITECUSTOMIZE.format(tools=tools))
        env = dict(os.environ)
        env[LOG_ENV] = os.path.abspath(log)
        env["PYTHONPATH"] = os.pathsep.join(
            p for p in (site, env.get("PYTHONPATH")) if p)
        return subprocess.call(cmd, env=env)


def _load(log: str, fn: str | None) -> Counter:
    with open(log) as f:
        records = (json.loads(line) for line in f if line.strip())
        return Counter(json.dumps(rec, sort_keys=True) for rec in records
                       if fn is None or rec["fn"] == fn)


def compare(old_log: str, new_log: str, fn: str | None = None) -> int:
    old, new = _load(old_log, fn), _load(new_log, fn)
    print(f"{old_log}: {sum(old.values())} records, {len(old)} distinct")
    print(f"{new_log}: {sum(new.values())} records, {len(new)} distinct")
    calls: dict[str, dict[str, list]] = defaultdict(
        lambda: {"old": [], "new": []})
    for side, only in (("old", old - new), ("new", new - old)):
        for line, n in only.items():
            rec = json.loads(line)
            key = json.dumps({k: rec.get(k) for k in
                              ("fn", "input", "args", "kwargs")},
                             sort_keys=True)
            result = {k: rec[k] for k in ("out", "exc") if k in rec}
            calls[key][side].append((n, result))
    for key, sides in calls.items():
        print("\n== call", key)
        for side in ("old", "new"):
            for n, result in sides[side]:
                print(f"  {side} x{n}: {json.dumps(result)}")
    print(f"\n{len(calls)} calls differ")
    return 1 if calls else 0


def main(argv: list[str]) -> int:
    if len(argv) >= 4 and argv[0] == "record" and argv[2] == "--":
        return record(argv[1], argv[3:])
    if len(argv) == 3 and argv[0] == "compare":
        return compare(argv[1], argv[2])
    if len(argv) == 5 and argv[0] == "compare" and argv[3] == "--fn":
        return compare(argv[1], argv[2], argv[4])
    print(__doc__, file=sys.stderr)
    return 2


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
