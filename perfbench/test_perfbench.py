"""Self-tests of the benchmark's statistics and /proc parsers.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import decimal
import os

import pytest

from perfbench import procfs
from perfbench.compare import pairs_won
from perfbench.run import result_mismatch
from perfbench.stats import nearest_rank, percentile, quartiles, spread, tail_percentile


@pytest.mark.parametrize(
    "n, p",
    [
        (19, None),  # even the median would have only 9 samples beyond it
        (20, 50),
        (24, 58),  # dedup: 12 entries × 2 passes
        (44, 77),  # tpch: 22 entries × 2 passes
        (100, 90),
        (1000, 99),
    ],
)
def test_tail_percentile_is_highest_with_ten_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n - nearest_rank(n, p) >= 10
        if p < 99:
            assert n - nearest_rank(n, p + 1) < 10


def test_percentile_is_a_measured_value():
    values = [float(v) for v in range(1, 45)]
    assert percentile(values, 77) == 34.0  # 10 values (35..44) lie beyond
    assert percentile(values, 50) == 22.0
    assert percentile([3.0], 99) == 3.0


def test_quartiles_and_spread_match_statistics_quantiles():
    values = [10.0, 11.0, 12.0, 13.0, 30.0]
    q1, med, q3 = quartiles(values)
    assert (q1, med, q3) == (10.5, 12.0, 21.5)
    assert spread(values) == pytest.approx(11.0 / 12.0)


def test_pairs_won_counts_strict_wins_only():
    assert pairs_won([1.0, 2.0, 3.0], [2.0, 2.0, 1.0], lower_is_better=True) == (1, 3)


def test_parse_cpu_line_reads_steal():
    text = "cpu  1614748 0 116381 1589014 3389 0 65938 28201 0 0\ncpu0 1 2 3 4 5 6 7 8 9 10\n"
    cpu = procfs.parse_cpu_line(text)
    assert cpu["steal"] == 28201 and cpu["idle"] == 1589014


def test_parse_cpu_line_pads_old_kernels():
    assert procfs.parse_cpu_line("cpu 1 2 3 4\n")["steal"] == 0
    with pytest.raises(ValueError):
        procfs.parse_cpu_line("intr 1 2 3\n")


def test_parse_pid_stat_handles_spaces_and_parens_in_comm():
    text = "4242 (py) (worker 1)) S 4200 4242 4200 0 -1 4194304 79 0 0 0 150 25 7 3 20 0 1 0 843926 2703360 287\n"
    st = procfs.parse_pid_stat(text)
    assert st == {"pid": 4242, "comm": "py) (worker 1)", "ppid": 4200, "utime": 150, "stime": 25, "cutime": 7, "cstime": 3}
    assert procfs.own_cpu_s(st) == pytest.approx(175 / procfs.CLK_TCK)
    assert procfs.tree_cpu_s(st) == pytest.approx(185 / procfs.CLK_TCK)


def test_parse_status_kb():
    text = "Name:\tjava\nVmHWM:\t  3000000 kB\nVmRSS:\t 2000000 kB\n"
    assert procfs.parse_status_kb(text, "VmHWM") == 3000000
    assert procfs.parse_status_kb(text, "VmSwap") is None


def test_descendants_walks_the_whole_tree():
    table = [
        {"pid": 1, "ppid": 0},
        {"pid": 10, "ppid": 1},  # the JVM
        {"pid": 11, "ppid": 10},  # python daemon
        {"pid": 12, "ppid": 11},  # forked worker
        {"pid": 20, "ppid": 1},  # unrelated
    ]
    assert sorted(st["pid"] for st in procfs.descendants(table, 10)) == [11, 12]


def test_live_readers_on_this_process():
    st = procfs.read_pid_stat(os.getpid())
    assert st["pid"] == os.getpid() and st["ppid"] == os.getppid()
    assert procfs.read_rss_peak_mb(os.getpid()) > 0
    assert procfs.read_steal_s() >= 0


def test_result_mismatch_makes_the_oracle_checks():
    want = (["a", "n"], [("x", decimal.Decimal("25.51")), ("y", 3754)])
    assert result_mismatch(want, want) is None
    assert "columns" in result_mismatch((["a", "m"], want[1]), want)
    assert "rows" in result_mismatch((want[0], want[1][:1]), want)
    # equal as numbers, rendered differently: what the driver's hash sees
    scale = (want[0], [("x", decimal.Decimal("25.5100")), ("y", 3754)])
    assert "decimal scale drift" in result_mismatch(scale, want)
    widened = (want[0], [("x", decimal.Decimal("25.51")), ("y", 3754.0)])
    assert "int-vs-float" in result_mismatch(widened, want)
    assert "differs" in result_mismatch((want[0], [("x", decimal.Decimal("25.51")), ("y", 3755)]), want)
