"""Tests of the benchmark itself: input generator, oracle, self time.

    python3 -m pytest perfbench/tests -q
"""

import filecmp
import os
import re
import time
from types import SimpleNamespace

import loggen
from oracle import PANELS, Oracle, Query, compare
from spans import Span, Tracer, self_times
import workloads

from rsyslog_nginx_clickhouse_spark.sources.nginx_log import NGINX_LINE_REGEX

DAY = loggen.day_start("2020-04-01")


def _generate(out_dir, seed, days=2, lines=300):
    gen = loggen.LogGenerator(seed)
    sidecar = loggen.Sidecar(str(out_dir))
    paths = loggen.generate_rotated(gen, str(out_dir / "logs"),
                                    "2020-04-01", days, lines, sidecar)
    sidecar.write()
    return sidecar, paths


def test_same_seed_gives_byte_identical_files(tmp_path):
    _generate(tmp_path / "a", 7)
    _generate(tmp_path / "b", 7)
    for rel in ("truth.tsv", "manifest.json", "logs/access.log.1",
                "logs/access.log.2"):
        assert filecmp.cmp(tmp_path / "a" / rel, tmp_path / "b" / rel,
                           shallow=False), rel
    _generate(tmp_path / "c", 8)
    assert not filecmp.cmp(tmp_path / "a" / "logs/access.log.1",
                           tmp_path / "c" / "logs/access.log.1",
                           shallow=False)


def test_sidecar_marks_exactly_the_lines_the_parser_rejects(tmp_path):
    sidecar, paths = _generate(tmp_path, 3, days=3, lines=600)
    rule = re.compile(NGINX_LINE_REGEX)
    valid_rows = 0
    for truth, path in zip(sidecar.files, paths):
        with open(path, encoding="utf-8") as fh:
            lines = fh.read().splitlines()
        assert len(lines) == truth.lines
        rejected = [i for i, line in enumerate(lines)
                    if not rule.match(line)]
        assert rejected == truth.malformed
        valid_rows += truth.valid
    assert sidecar.files[0].malformed  # the dead-letter path is exercised
    assert len(sidecar.rows) == valid_rows


def _oracle(tmp_path):
    sidecar, _ = _generate(tmp_path, 5)
    oracle = Oracle()
    oracle.load(os.path.join(sidecar.out_dir, "truth.tsv"))
    oracle.land(*(f.name for f in sidecar.files))
    return oracle


def test_oracle_accepts_the_right_result_and_catches_a_wrong_one(tmp_path):
    oracle = _oracle(tmp_path)
    q = Query(PANELS["count_1d"], DAY, DAY + 86400)
    expected = oracle.expected(q)
    assert len(expected) > 10
    assert compare(list(expected), expected) is None
    wrong = list(expected)
    t, c = wrong[3]
    wrong[3] = (t, c + 1)
    assert "row 3" in compare(wrong, expected)
    assert compare(expected[:-1], expected) is not None


def test_oracle_compares_timestamps_and_floats(tmp_path):
    import datetime as dt

    oracle = _oracle(tmp_path)
    q = Query(PANELS["rate_by_code"], DAY, DAY + 86400)
    expected = oracle.expected(q)
    as_spark = [(dt.datetime.fromtimestamp(t, dt.timezone.utc)
                 .replace(tzinfo=None), code, rate)
                for t, code, rate in expected]
    assert compare(as_spark, expected) is None
    t, code, rate = expected[-1]
    as_spark[-1] = (as_spark[-1][0], code, rate * 1.001)
    assert compare(as_spark, expected) is not None


def test_oracle_only_sees_landed_files(tmp_path):
    sidecar, _ = _generate(tmp_path, 6)
    oracle = Oracle()
    oracle.load(os.path.join(sidecar.out_dir, "truth.tsv"))
    assert oracle.row_count() == 0
    oracle.land(sidecar.files[0].name)
    assert oracle.row_count() == sidecar.files[0].valid


def _span(i, start, end, parent=None):
    return Span(id=i, name=f"s{i}", start=start, end=end, parent=parent,
                op=1, phase="loop")


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, parent=0),
        _span(2, 2.0, 5.0, parent=0),   # overlaps its sibling
        _span(3, 8.0, 12.0, parent=0),  # ends after its parent
        _span(4, 1.5, 2.5, parent=1),   # a grandchild
    ]
    own = self_times(spans)
    assert own["s0"] == [10.0 - 4.0 - 2.0]
    assert own["s1"] == [2.0 - 1.0]
    assert own["s2"] == [3.0]
    assert own["s3"] == [4.0]
    assert own["s4"] == [1.0]


def test_tracer_nests_spans_and_tags_phase():
    ticks = iter(range(100))
    tr = Tracer(clock=lambda: float(next(ticks)))
    with tr.span("a"):
        with tr.span("b"):
            pass
    tr.phase = "loop"
    with tr.span("c"):
        tr.count("n", 2)
    a, b, c = tr.spans
    assert (b.parent, a.parent, c.parent) == (a.id, None, None)
    assert a.op == b.op != c.op
    assert (a.phase, c.phase) == ("setup", "loop")
    assert self_times(tr.spans) == {"a": [2.0], "b": [1.0], "c": [1.0]}
    assert tr.counts == {("loop", "n"): 2}


def test_traced_run_alternates_each_panel_and_times_the_span(tmp_path):
    run = workloads.Run(str(tmp_path), seed=1, seconds=60, trace=True)
    run.start_loop()
    eng = SimpleNamespace(spark=None, table_root=str(tmp_path / "t"))

    def panel(ops):
        if ops.traced:
            with ops._op("engine.sql"):
                pass
            time.sleep(0.05)  # bookkeeping after the span: not timed

    for _ in range(2):  # two rounds of a dashboard with two panels
        for kind in ("sql:a", "sql:b"):
            run.op(kind, eng, panel)
    assert sorted(run.op_times) == [
        (kind, traced) for kind in ("sql:a", "sql:b")
        for traced in (False, True)]
    assert max(run.op_times[("sql:a", True)]) < 0.05
