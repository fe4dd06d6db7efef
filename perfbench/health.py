"""Window health: how busy the shared machine was when a run started.

This box shares its memory bus and cores with co-tenants, so every run
records the load average, the core count, the share of CPU time the
hypervisor stole while probing and again over the timed region, and two
memory-bandwidth probes (single stream, and aggregate over one fork worker
per core). The probes are
``bench.py``'s own, imported rather than copied. The readings are run
metadata, not gated metrics. The load average is recorded but does not set
the flag: back-to-back runs see their predecessor's load in it. Run this
before Spark starts: the aggregate probe forks, which is unsafe once the JVM
gateway's threads exist.
"""

from __future__ import annotations

import os

# aggregate bandwidth below this share of (cores x single-stream bandwidth)
# means another tenant is saturating the memory bus
BUS_SHARE_FLOOR = 0.6
# more than this share of CPU time stolen by the hypervisor during the
# probes means co-tenants are taking the cores
STEAL_CEIL = 0.10


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return sum(fields[:8]), steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of all CPU time the hypervisor stole between two ``cpu_times``."""
    total = after[0] - before[0]
    return (after[1] - before[1]) / total if total > 0 else 0.0


def window_health() -> dict:
    import bench

    nproc = os.cpu_count() or 1
    load1, load5, _ = os.getloadavg()
    before = cpu_times()
    single = bench._membw_probe()
    agg = bench._membw_agg_probe(nproc)
    steal = steal_share(before, cpu_times())
    bus_share = agg / (nproc * single) if single > 0 else 0.0
    return {
        "nproc": nproc,
        "loadavg_1m": round(load1, 2),
        "loadavg_5m": round(load5, 2),
        "membw_gbps": round(single, 2),
        "membw_agg_gbps": agg,
        "bus_share": round(bus_share, 3),
        "steal_share": round(steal, 4),
        "degraded_window": bool(bus_share < BUS_SHARE_FLOOR or steal > STEAL_CEIL),
    }
