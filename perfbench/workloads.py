"""The benchmark's workloads: which queries run, on which generated data.

``base_sf`` is the scale the seeded generator writes.  ``replicas`` > 1
means the workload reads the ``replicas``-fold copy that
``tools/stress10x.build_dataset()`` builds from that base (fact tables
replicated with key offsets, dimensions unchanged), so
``joins-txlog-10x`` reads sf0.005 x 10: 300k lineitem rows.
``fill_feature_store`` marks the one-time feature-store fill that
belongs to set-up.
"""

from __future__ import annotations

from dataclasses import dataclass

from datagen import TABLES


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    base_sf: float
    tables: tuple[str, ...]
    replicas: int = 1
    fill_feature_store: bool = False


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kmedoids-sf0.1",
            (
                "ingest_featurize",
                "cluster_assign_k3",
                "cluster_cost_k3",
                "elbow_sweep",
                "kmedoids_k3",
            ),
            base_sf=0.1,
            tables=("events",),
            fill_feature_store=True,
        ),
        Workload(
            "joins-txlog-10x",
            (
                "pricing_summary",
                "top_customers",
                "regional_revenue",
                "session_window",
                "asof_last_signup",
                "txlog_merge_roundtrip",
            ),
            base_sf=0.005,
            tables=TABLES,
            replicas=10,
        ),
    )
}
