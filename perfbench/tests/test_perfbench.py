"""Self-tests of the benchmark's own code (no Spark session needed).

Run with ``python3 -m pytest perfbench/tests -q``.
"""

import filecmp
import os
import random
import subprocess
import sys

import bi_dashboard
import checks
import datagen
import harness
import spans


def test_p90_needs_ten_samples_beyond_it():
    samples = [float(i) for i in range(100)]
    assert spans.percentile(samples, 0.9) == 89.0  # 90..99 lie beyond
    assert spans.percentile(samples[:99], 0.9) is None  # only 9 beyond
    assert spans.percentile([], 0.5) is None


def test_tail_picks_highest_supported_percentile():
    assert spans.tail([float(i) for i in range(1000)]) == ("p99", 989.0)
    assert spans.tail([float(i) for i in range(100)]) == ("p90", 89.0)
    assert spans.tail([float(i) for i in range(40)]) == ("p75", 29.0)
    assert spans.tail([1.0] * 5) is None


def _span(sid, start, end, parent=None):
    return {"id": sid, "name": f"s{sid}", "start": start, "end": end,
            "parent": parent, "op": None}


def test_self_time_subtracts_union_of_overlapping_children():
    spans_ = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: union is [1, 6]
        _span(3, 8.0, 9.0, parent=0),
        _span(4, 9.5, 12.0, parent=0),  # runs past its parent: clipped
        _span(5, 3.5, 4.5, parent=2),  # grandchild: only span 2 loses it
    ]
    got = spans.self_times(spans_)
    assert got[0] == 10.0 - (5.0 + 1.0 + 0.5)
    assert got[2] == 3.0 - 1.0
    assert got[1] == 3.0 and got[5] == 1.0
    by_name = spans.self_time_by_name(spans_)
    assert by_name["s0"] == got[0]


def test_tracer_records_parents_only_when_enabled():
    t = spans.Tracer(True)
    with t.span("outer", "op0"):
        with t.span("inner", "op0"):
            pass
    assert [(s["name"], s["parent"]) for s in t.spans] == [("outer", None), ("inner", 0)]
    off = spans.Tracer(False)
    with off.span("x"):
        pass
    assert off.spans == []


def _write_all(seed, out):
    tables = {
        **datagen.star_tables(seed, 0.001),
        "events": datagen.events_table(seed, 0.001),
        **datagen.corpus_tables(seed, 0.001),
    }
    return datagen.write_tables(tables, out)


def test_same_seed_writes_identical_inputs(tmp_path):
    a = _write_all(7, str(tmp_path / "a"))
    b = _write_all(7, str(tmp_path / "b"))
    c = _write_all(8, str(tmp_path / "c"))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) == sorted(os.listdir(c))
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors
    _, differ, _ = filecmp.cmpfiles(a, c, names, shallow=False)
    # region and nation are fixed lists; every drawn table differs
    assert set(differ) == set(names) - {"region.parquet", "nation.parquet"}


def test_same_seed_draws_same_queries():
    def draw(seed):
        rng = random.Random(seed)
        return [bi_dashboard.make_op(n, rng, slot).sql
                for slot, n in enumerate(bi_dashboard.TEMPLATES * 5)]

    assert draw(3) == draw(3)
    assert draw(3) != draw(4)


def test_compare_tolerances_and_order():
    assert checks.compare([("a", 1.0), ("b", 2.0)], [("b", 2.0 + 1e-12), ("a", 1.0)]) is None
    assert checks.compare([("a", 1.0)], [("a", 1.001)]) is not None
    assert checks.compare([("a", 1.0), ("b", 2.0)], [("b", 2.0), ("a", 1.0)],
                          ordered=True) is not None
    assert checks.compare([("a", 359)], [("a", 357)], approx_cols=(1,)) is None
    assert checks.compare([("a", 359)], [("a", 357)]) is not None
    assert checks.compare([("a", None)], [("a", None)]) is None


def _burn(then_sleep: float) -> subprocess.Popen:
    """A child that spends 0.4 CPU seconds, says so, then sleeps."""
    code = ("import time\nt = time.process_time()\n"
            "while time.process_time() - t < 0.4: pass\n"
            f"print('burned', flush=True)\ntime.sleep({then_sleep})")
    return subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True)


def test_cpu_seconds_counts_live_and_reaped_children():
    pid = os.getpid()
    before = harness.cpu_seconds(pid)
    child = _burn(0)
    child.communicate(timeout=30)  # reaped: its time is in this process's cutime
    reaped = harness.cpu_seconds(pid)
    assert reaped - before >= 0.3
    sleeper = _burn(30)
    try:
        assert sleeper.stdout.readline() == "burned\n"
        assert harness.cpu_seconds(pid) - reaped >= 0.3
        assert sleeper.poll() is None  # it was counted while alive
    finally:
        sleeper.kill()
        sleeper.communicate(timeout=30)


def _res(name, kind, pass_no, cpu_start, cpu_s, error=None):
    op = harness.Op(name, kind, "SELECT 1")
    return harness.OpResult(op, pass_no, False, 0.0, 1.0, 0.5, 0.5,
                            cpu_start, cpu_s, 0.0, [], error)


def test_read_cpu_weighs_each_template_once():
    results = [
        _res("a", "read", 0, 0.0, 1.0),
        _res("a", "read", 0, 1.0, 3.0),  # template a: 2000 ms per execution
        _res("b", "read", 0, 4.0, 0.5),  # template b: 500 ms
        _res("b", "read", 0, 4.5, 9.0, error="boom"),  # failed: not counted
        _res("w", "write", 0, 13.5, 7.0),  # writes are not reads
    ]
    assert abs(harness.read_cpu_ms(results) - 1000.0) < 1e-9
    assert harness.read_cpu_ms([]) == 0.0


def test_cpu_rate_spans_each_pass_from_first_start_to_last_end():
    results = [
        _res("a", "read", 0, 10.0, 1.0),
        _res("b", "read", 0, 11.5, 0.5),  # pass 0 used 2 CPU seconds
        _res("a", "read", 1, 20.0, 2.0, error="boom"),  # pass 1 used 2
    ]
    # 2 completed ops over 4 CPU seconds
    assert harness._pass_rate(results, False, cpu=True) == 0.5
