"""The /proc CPU and peak-RSS reader."""

from __future__ import annotations

import os

import pytest

from perfbench import procfs


def _stat(pid, comm, ppid, utime, stime, cutime, cstime):
    # fields after the command: state ppid pgrp session tty tpgid flags
    # minflt cminflt majflt cmajflt utime stime cutime cstime ...
    rest = f"S {ppid} 1 1 0 -1 0 0 0 0 0 {utime} {stime} {cutime} {cstime} 20 0 1 0"
    return f"{pid} ({comm}) {rest}\n"


@pytest.fixture
def fake_proc(tmp_path):
    tck = procfs.CLK_TCK
    procs = {
        # pid: (comm, ppid, utime, stime, cutime, cstime) in ticks
        100: ("python3", 1, 2 * tck, tck, 0, 0),
        101: ("java", 100, 10 * tck, 2 * tck, 0, 0),
        102: ("python3.11", 101, tck, 0, 3 * tck, tck),  # worker daemon
        103: ("odd) name (x", 101, tck, tck, 0, 0),
        200: ("python3", 1, 50 * tck, 0, 0, 0),  # not in the tree
    }
    for pid, (comm, ppid, u, s, cu, cs) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        (d / "stat").write_text(_stat(pid, comm, ppid, u, s, cu, cs))
        (d / "status").write_text(f"Name:\t{comm}\nVmPeak:\t 9000 kB\nVmHWM:\t {pid * 1024} kB\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_read_stat_handles_parentheses_in_command(fake_proc):
    ppid, comm, cpu = procfs.read_stat(103, fake_proc)
    assert (ppid, comm, cpu) == (101, "odd) name (x", 2.0)


def test_tree_cpu_sums_live_and_waited_for_children(fake_proc):
    tree = procfs.descendants(100, fake_proc)
    assert sorted(tree) == [100, 101, 102, 103]
    total, python = procfs.tree_cpu(100, fake_proc)
    assert total == pytest.approx(3 + 12 + 5 + 2)
    assert python == pytest.approx(5)  # the worker daemon, not the root
    assert procfs.java_children(100, fake_proc) == [101]


def test_vm_hwm_in_mib(fake_proc):
    assert procfs.vm_hwm_mb(101, fake_proc) == pytest.approx(101.0)


def test_reads_this_process():
    total, _ = procfs.tree_cpu(os.getpid())
    assert total > 0
    assert procfs.vm_hwm_mb(os.getpid()) > 1.0
