"""Workload definitions: which ops run, on which generated inputs.

``read_mix`` times registry ops (``__spark_entry__.queries()``) drawn
from the three read-side groups: star-schema / TPC-H analytics, the LLM
corpus pipeline and the streaming drains. ``warehouse_build`` runs the
paper's batch job: read the CO sources, ``pipelines.runner.run_all``,
and one ``sources.writers.write_parquet`` per warehouse table.
"""

from __future__ import annotations

#: Scale of the generated TPC-H-style tables (sf1 = 6M lineitem rows).
TPCH_SF = 0.01
#: Contributors in the generated CO sources; other tables scale with it.
CO_USERS = 5000

#: (op, group, tables it reads). Groups name the read-side workloads
#: the op stands for; per-group seconds are reported in traced runs.
READ_MIX: list[tuple[str, str, tuple[str, ...]]] = [
    ("fact_formula_star", "star_analytics",
     ("orders", "lineitem", "customer", "part")),
    ("q1_pricing_summary", "star_analytics", ("lineitem",)),
    ("ann_pq_adc", "corpus_pipeline", ("embeddings",)),
    ("html_extract_text", "corpus_pipeline", ("documents",)),
    ("stream_dedup_drain", "stream_drains", ("events",)),
]

GROUPS = ("star_analytics", "corpus_pipeline", "stream_drains")

#: The 15 tables ``run_all`` returns, in write order.
WAREHOUSE_TABLES = (
    "dim_usuario", "dim_cotizante", "dim_medico", "dim_medicamento",
    "dim_centro_medico", "dim_fecha", "dim_hora", "dim_region",
    "dim_enfermedad", "dim_empresa", "dim_demografica",
    "fact_medical_formula", "fact_facturacion", "fact_retiro",
    "fact_servicio",
)

WORKLOADS = ("warehouse_build", "read_mix")


def ops(workload: str) -> list[str]:
    if workload == "read_mix":
        return [name for name, _, _ in READ_MIX]
    return list(WAREHOUSE_TABLES)


def all_op_names() -> list[str]:
    return ops("read_mix") + ops("warehouse_build")


def input_tables(workload: str) -> tuple[str, list[str]]:
    """(family, tables) of generated inputs the workload reads once per
    pass: family ``tpch`` or ``co``."""
    if workload == "read_mix":
        seen: list[str] = []
        for _, _, tables in READ_MIX:
            seen += [t for t in tables if t not in seen]
        return "tpch", seen
    from data_warehouse_co_healthy_spark.schemas import REFERENCE  # noqa: PLC0415

    return "co", list(REFERENCE)
