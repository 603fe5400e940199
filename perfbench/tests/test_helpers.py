"""Tests for the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import pandas as pd
import pytest

from perfbench import checks, eventlog, procstat, spans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


# -- spans -----------------------------------------------------------------


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self) -> float:
        return self.t


def test_self_time_subtracts_children():
    clock = FakeClock()
    seen = []
    tr = spans.Tracer(clock=clock, on_enter=seen.append)
    with tr.span("parent"):
        clock.t = 1.0
        with tr.span("child_a"):
            clock.t = 3.0
        clock.t = 4.0
        with tr.span("child_b"):
            clock.t = 4.5
            with tr.span("grandchild"):
                clock.t = 5.0
        clock.t = 10.0
    selfs = tr.self_times()
    by = {s.name: s for s in tr.spans}
    assert by["parent"].duration == 10.0
    assert selfs[by["parent"].id] == pytest.approx(10.0 - 2.0 - 1.0)
    assert selfs[by["child_b"].id] == pytest.approx(1.0 - 0.5)
    assert selfs[by["grandchild"].id] == pytest.approx(0.5)
    assert by["grandchild"].parent == by["child_b"].id
    # the job description follows the innermost open span
    assert seen == [
        "parent", "child_a", "parent", "child_b", "grandchild", "child_b",
        "parent", None,
    ]


def test_self_time_clips_and_merges_overlapping_children():
    s = [
        spans.Span(0, "p", None, 0.0, 10.0),
        spans.Span(1, "a", 0, -2.0, 3.0),  # starts before the parent
        spans.Span(2, "b", 0, 2.0, 5.0),   # overlaps a
        spans.Span(3, "c", 0, 9.0, 12.0),  # ends after the parent
    ]
    assert spans.self_times(s)[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert spans.covered([(0, 1), (1, 2), (5, 6)]) == pytest.approx(3.0)


def test_render_reports_parent_names_and_offsets():
    rows = spans.render([spans.Span(0, "p", None, 5.0, 7.0), spans.Span(1, "c", 0, 5.5, 6.0)])
    assert rows[1]["parent"] == "p"
    assert rows[1]["start_s"] == 0.5 and rows[0]["self_s"] == 1.5


# -- event log ----------------------------------------------------------------


def test_eventlog_attributes_tasks_and_plan_metrics():
    ev = eventlog.summarize(eventlog.read_events(os.path.join(DATA, "tiny_eventlog.json")))
    m = ev["mentions.detect_mentions"]
    assert m["spark_jobs"] == 1 and m["tasks"] == 2
    assert m["exec_cpu_s"] == pytest.approx(3.0)
    assert m["gc_s"] == pytest.approx(0.1)
    assert m["shuffle_write_mb"] == pytest.approx(2.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(1.0)
    # plan metrics: task updates summed, driver-side updates added
    assert m["arrow_rows"] == 500
    assert m["python_s"] == pytest.approx(1.5)
    assert m["arrow_sent_mb"] == pytest.approx(1.0)
    assert m["arrow_returned_mb"] == pytest.approx(0.5)
    assert m["broadcast_mb"] == pytest.approx(3.0)
    # a job with no description is kept apart
    assert ev[None]["tasks"] == 1 and ev[None]["exec_cpu_s"] == pytest.approx(0.5)


def test_eventlog_totals_by_span_prefix_and_rolling_dir(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    lines = open(os.path.join(DATA, "tiny_eventlog.json")).read().splitlines(True)
    (d / "events_2_local-1").write_text("".join(lines[5:]))
    (d / "events_1_local-1").write_text("".join(lines[:5]))
    ev = eventlog.summarize(eventlog.read_events(str(tmp_path)))
    assert eventlog.totals(ev, "mentions")["arrow_rows"] == 500
    assert eventlog.totals(ev, "mention") == {}


# -- /proc ------------------------------------------------------------------------


def _fake_stat(root, pid, ppid, utime, stime, cutime, cstime, rss, comm="java (x) y", vsize=None):
    d = root / str(pid)
    d.mkdir()
    fields = ["S", str(ppid)] + ["0"] * 9 + [str(utime), str(stime), str(cutime), str(cstime)]
    fields += ["0"] * 5 + [str(vsize if vsize is not None else 1000 + pid), str(rss)]
    fields += ["0"] * 3 + ["77"] + ["0"] * 16
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(fields) + "\n")


def test_proc_tree_sums_descendants_only(tmp_path):
    _fake_stat(tmp_path, 10, 1, 100, 50, 0, 0, 1000)
    _fake_stat(tmp_path, 11, 10, 200, 0, 300, 25, 2000)  # has reaped children
    _fake_stat(tmp_path, 12, 11, 5, 5, 0, 0, 500)
    _fake_stat(tmp_path, 20, 1, 999, 999, 0, 0, 9999)  # not in the tree
    (tmp_path / "self").mkdir()
    cpu, rss = procstat.tree_usage(10, proc=str(tmp_path))
    assert cpu == pytest.approx((150 + 525 + 10) / procstat.TICK)
    assert rss == pytest.approx(3500 * procstat.PAGE / 2**20)
    assert procstat.descendants(10, proc=str(tmp_path)) == {11, 12}


def test_proc_tree_rss_skips_a_child_sharing_the_parent_address_space(tmp_path):
    _fake_stat(tmp_path, 10, 1, 0, 0, 0, 0, 1000, vsize=5000)
    # posix_spawn child before exec: same vsize, rss and stack as the JVM
    _fake_stat(tmp_path, 11, 10, 1, 0, 0, 0, 1000, vsize=5000)
    _fake_stat(tmp_path, 12, 10, 0, 0, 0, 0, 300, vsize=700)
    cpu, rss = procstat.tree_usage(10, proc=str(tmp_path))
    assert rss == pytest.approx(1300 * procstat.PAGE / 2**20)
    assert cpu == pytest.approx(1 / procstat.TICK)


BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.3: pass\n"


def test_proc_tree_cpu_keeps_exited_children():
    before = procstat.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", BURN])
    child.wait()
    # the reaped child's CPU moved into this process's cutime/cstime
    assert procstat.tree_cpu_s() - before >= 0.25


def test_proc_tree_sees_live_grandchildren():
    # a child that starts a grandchild burning CPU, then waits for it
    script = (
        "import subprocess, sys\n"
        f"p = subprocess.Popen([sys.executable, '-c', {BURN!r} + 'time.sleep(2)'])\n"
        "p.wait()\n"
    )
    child = subprocess.Popen([sys.executable, "-c", script])
    try:
        deadline = time.time() + 10
        while len(procstat.descendants()) < 2 and time.time() < deadline:
            time.sleep(0.05)
        assert len(procstat.descendants()) >= 2
        cpu, rss = procstat.tree_usage()
        assert rss > 0 and cpu > 0
    finally:
        child.wait(timeout=20)


def test_peak_rss_sampler_records_a_peak():
    with procstat.PeakRss(interval_s=0.01) as p:
        time.sleep(0.05)
    assert p.peak_mb > 1


# -- output checks ----------------------------------------------------------------


def _triples() -> pd.DataFrame:
    rows = []
    for i in range(5):
        rows.append({
            "conv_id": f"c{i // 2}", "turn_idx": i, "level": "sentence",
            "subj_name": f"E{i}", "subj_uri": f"u{i}", "subj_type": "Stock",
            "pred": "reputation", "subfeature": None, "obj_polarity": "positive",
            "score": 1.0 if i % 2 else -0.5, "classifier": "Knowledge-Based",
            "dom_label": "CRISP", "indicator_uri": None,
        })
    return pd.DataFrame(rows)


def test_triple_digest_is_order_independent():
    df = _triples()
    a = checks.digest(checks.canon_triples(df))
    b = checks.digest(checks.canon_triples(df.iloc[::-1].reset_index(drop=True)))
    assert a == b
    changed = df.copy()
    changed.loc[2, "obj_polarity"] = "negative"
    assert checks.digest(checks.canon_triples(changed)) != a


def test_canon_normalizes_score_and_turn_types():
    df = _triples()
    other = df.copy()
    other["turn_idx"] = other["turn_idx"].astype(float)
    other["score"] = other["score"].map(lambda v: f"{v:.16f}")
    assert checks.canon_triples(df) == checks.canon_triples(other)


def test_comparator_flags_one_removed_row():
    want = checks.canon_triples(_triples())
    got = checks.canon_triples(_triples().drop(index=3))
    problems = checks.compare(got, want)
    assert len(problems) == 1 and problems[0].startswith("1 missing")
    assert checks.compare(want, want) == []
    assert checks.compare(want, got)[0].startswith("1 extra")


def test_query_signature_flags_a_changed_value():
    df = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    want = checks.signature(df)
    assert checks.signature_problems(checks.signature(df.iloc[::-1]), want) == []
    assert checks.signature_problems(checks.signature(df.iloc[:2]), want) == ["rows 2 vs oracle 3"]
    changed = df.assign(b=["x", "y", "q"])
    assert checks.signature_problems(checks.signature(changed), want) == [
        "canonical hash differs from the oracle"
    ]


def test_sample_convs_is_seeded():
    ids = [f"c{i}" for i in range(100)]
    assert checks.sample_convs(ids, 10, 3) == checks.sample_convs(ids[::-1], 10, 3)
    assert checks.sample_convs(ids, 10, 3) != checks.sample_convs(ids, 10, 4)
