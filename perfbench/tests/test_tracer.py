"""Tracer arithmetic: self time, counter diffs, process-tree readers."""

from __future__ import annotations

import os

import pytest

from tracer import ProcTree, Span, Tracer, covered, self_stats, slot_idle_frac


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


class FakeCounters:
    """Executor-summary totals the test advances by hand; per-group totals
    recorded as the test sets them."""

    def __init__(self):
        self.totals = {"shuffle_write_mb": 0.0, "failed_tasks": 0.0}
        self.groups = {}
        self.group_log = []
        self.cores = 4

    def snapshot(self):
        return dict(self.totals)

    def set_group(self, group):
        self.group_log.append(group)

    def group_totals(self, group):
        return self.groups.get(group, {"jobs": 0.0, "task_busy_s": 0.0,
                                       "spill_mb": 0.0})


def test_covered_merges_overlaps_and_clips():
    assert covered((0, 10), []) == 0
    assert covered((0, 10), [(1, 3), (2, 5), (7, 8)]) == 5
    assert covered((0, 10), [(-5, 2), (9, 20)]) == 3
    assert covered((0, 10), [(4, 4), (6, 5)]) == 0


def test_self_time_and_counter_diffs_subtract_children():
    parent = Span(0, "op", 0, None, 0.0, 10.0,
                  incl={"shuffle_write_mb": 8.0, "failed_tasks": 1.0},
                  group={"jobs": 2.0})
    a = Span(1, "a", 0, 0, 1.0, 4.0,
             incl={"shuffle_write_mb": 3.0, "failed_tasks": 0.0},
             group={"jobs": 5.0})
    b = Span(2, "b", 0, 0, 5.0, 9.0,
             incl={"shuffle_write_mb": 4.0, "failed_tasks": 1.0})
    st = self_stats([a, b, parent])
    assert st[0]["self_s"] == pytest.approx(3.0)
    assert st[0]["shuffle_write_mb"] == pytest.approx(1.0)
    assert st[0]["failed_tasks"] == 0.0
    assert st[0]["jobs"] == 2.0          # group counters are self already
    assert st[1]["self_s"] == pytest.approx(3.0)
    assert st[2]["shuffle_write_mb"] == pytest.approx(4.0)


def test_tracer_records_nested_spans_with_diffs_and_groups():
    clock, counters = FakeClock(), FakeCounters()
    tr = Tracer(counters, clock=clock)
    with tr.span("op", 3) as root:
        clock.t = 1.0
        with tr.span("layer", 3) as s:
            clock.t = 4.0
            counters.totals["shuffle_write_mb"] += 2.5
            counters.groups[f"perfbench-span-{s.sid}"] = {
                "jobs": 3.0, "task_busy_s": 6.0, "spill_mb": 0.5}
            s.count("rows", 7)
            s.count("rows", 3)
        clock.t = 5.0
        counters.totals["shuffle_write_mb"] += 1.0
    assert [sp.name for sp in tr.spans] == ["layer", "op"]
    assert s.parent == root.sid and root.parent is None
    # each span runs its jobs under its own group; leaving restores the
    # parent's group, leaving the root clears it
    assert counters.group_log == [
        f"perfbench-span-{root.sid}", f"perfbench-span-{s.sid}",
        f"perfbench-span-{root.sid}", None,
    ]
    summary = tr.op_summary(3)
    assert summary["layer"]["self_s"] == pytest.approx(3.0)
    assert summary["layer"]["rows"] == 10
    assert summary["layer"]["jobs"] == 3.0
    assert summary["layer"]["shuffle_write_mb"] == pytest.approx(2.5)
    assert summary["op"]["self_s"] == pytest.approx(2.0)
    assert summary["op"]["shuffle_write_mb"] == pytest.approx(1.0)
    assert summary["op"]["coverage"] == pytest.approx(0.6)


def test_same_name_spans_sum_per_op():
    clock = FakeClock()
    tr = Tracer(None, clock=clock)
    with tr.span("op", 0):
        for start in (0.0, 2.0):
            clock.t = start
            with tr.span("dictionary", 0):
                clock.t = start + 1.5
        clock.t = 4.0
    with tr.span("op", 1):
        clock.t = 9.0
    s0 = tr.op_summary(0)
    assert s0["dictionary"]["self_s"] == pytest.approx(3.0)
    assert s0["op"]["coverage"] == pytest.approx(0.75)
    assert "dictionary" not in tr.op_summary(1)


def test_disabled_tracer_records_nothing_and_leaves_frames_lazy():
    tr = Tracer(enabled=False)
    with tr.span("op", 0) as s:
        s.count("rows", 5)
    assert tr.spans == []
    marker = object()
    assert tr.force(marker, s) is marker


def test_slot_idle_frac():
    assert slot_idle_frac(4.0, 2.0, 4) == pytest.approx(0.5)
    assert slot_idle_frac(0.0, 2.0, 4) == pytest.approx(1.0)
    assert slot_idle_frac(1.0, 0.0, 4) == 0.0


def _fake_proc(root, pid, ppid, ticks, hwm_kb, state="S"):
    d = root / str(pid)
    d.mkdir()
    fields = [state, str(ppid)] + ["0"] * 9 + [str(t) for t in ticks]
    (d / "stat").write_text(f"{pid} (a (b) c) " + " ".join(fields) + " 0 0\n")
    (d / "status").write_text(f"Name:\tx\nVmHWM:\t{hwm_kb} kB\n")


def test_proc_tree_cpu_and_peak_rss(tmp_path):
    _fake_proc(tmp_path, 10, 1, (100, 50, 20, 5), 1024)
    _fake_proc(tmp_path, 11, 10, (10, 10, 0, 0), 2048)
    _fake_proc(tmp_path, 12, 11, (1, 2, 3, 4), 512)
    _fake_proc(tmp_path, 13, 1, (999, 0, 0, 0), 4096)  # not in the tree
    (tmp_path / "self").mkdir()
    tree = ProcTree(root=10, proc=str(tmp_path))
    assert sorted(tree.pids()) == [10, 11, 12]
    assert tree.cpu_s() == pytest.approx(205 / os.sysconf("SC_CLK_TCK"))
    tree.sample()
    (tmp_path / "12" / "status").write_text("VmHWM:\t256 kB\n")
    tree.sample()  # a lower reading never lowers the peak
    assert tree.peak_rss_mb() == pytest.approx((1024 + 2048 + 512) / 1024)
