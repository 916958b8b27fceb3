"""The benchmark's workloads: a replica factor of the vendored fixture and
a fixed, ordered list of catalog queries run as one pass.

The two workloads load opposite layers. ``warehouse`` is executor-side JVM
work; ``driver_io`` is work the executors barely see: a builder's driver
loop, Python workers and output writes. An optimization of either kind
is exercised by one workload and bypassed by the other.

``expect`` names the traced wrappers (see ``layers.WRAPPERS``) the
workload must hit: a traced run in which one of them records zero calls
fails, because a wrapper that never fires means the patch missed a name.
"""

from __future__ import annotations

WORKLOADS: dict[str, dict] = {
    # JVM scan, join, shuffle, range-partitioned sort and aggregate.
    # Builders are lazy, no Python worker starts and nothing is written.
    # The factor is large enough that execution, not plan building, takes
    # most of a pass.
    "warehouse": {
        "factor": 8,
        "queries": [
            "tpch_q1",
            "tpch_q18",
            "total_order_sort",
        ],
        "expect": ("sources.load_table", "operators.bcast_if_small"),
    },
    # Driver-side graph jobs (eager localCheckpoint rounds under
    # loop_width, the collected-edge wedge kernel run in Python workers,
    # the driver connected-components loop) and a routed write read back.
    "driver_io": {
        "factor": 1,
        "queries": [
            "weighted_sssp",
            "dedup_components",
            "triangle_count",
            "routed_write_read",
        ],
        "expect": (
            "sources.load_table",
            "sources.shared",
            "sources.write",
            "operators.loop_width",
            "operators.wedge_closure",
            "operators.connected_components",
        ),
    },
}
