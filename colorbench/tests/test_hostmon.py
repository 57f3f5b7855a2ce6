"""Per-operation peak RSS: the kernel's high-water mark, restarted per operation."""

import os

from colorbench import hostmon


def test_peak_rss_keeps_a_freed_peak_until_reset():
    me = [os.getpid()]
    hostmon.reset_peak_rss(me)
    base = hostmon.peak_rss_mib(me)
    block = bytearray(200 * 2**20)
    block[:: 4096] = b"x" * len(block[:: 4096])  # touch every page
    del block
    assert hostmon.peak_rss_mib(me) >= base + 150
    hostmon.reset_peak_rss(me)
    assert hostmon.peak_rss_mib(me) < base + 50


def test_peak_rss_skips_processes_that_are_gone():
    hostmon.reset_peak_rss([2**22 + 1])
    assert hostmon.peak_rss_mib([2**22 + 1]) == 0
