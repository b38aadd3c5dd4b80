"""Output checks, run after the timed passes.

Registry ops are compared with their ``oracle_sql()`` answer computed
by DuckDB over the same generated tables, with ``canonicalize`` and
``compare_strict`` from ``tools/check_oracle.py``. Oracle answers are
computed once per seed and cached (pickled) next to the data.

``warehouse_build`` is checked by reading the written tables back with
DuckDB: every fact key must resolve in its dimension, and every table's
row count must equal a DuckDB count over the generated CO sources that
restates the pipeline's joins.
"""

from __future__ import annotations

import os
import pickle

import duckdb
import pandas as pd

from tools.check_oracle import canonicalize, compare_strict


def _duck_views(con, data_dir: str) -> None:
    """One DuckDB view per parquet table in ``data_dir``."""
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, f)}')"
            )


def cache_oracles(tpch_dir: str, oracle_dir: str, names: list[str]) -> None:
    """Compute and pickle the DuckDB answer of every named op that has
    an oracle and is not cached yet."""
    import __spark_entry__ as entry  # noqa: PLC0415

    oracles = entry.oracle_sql()
    todo = [n for n in names if n in oracles
            and not os.path.exists(os.path.join(oracle_dir, f"{n}.pkl"))]
    if not todo:
        return
    os.makedirs(oracle_dir, exist_ok=True)
    con = duckdb.connect()
    _duck_views(con, tpch_dir)
    for n in todo:
        want = con.sql(oracles[n]).df()
        tmp = os.path.join(oracle_dir, f".{n}.pkl")
        with open(tmp, "wb") as fh:
            pickle.dump(want, fh)
        os.replace(tmp, os.path.join(oracle_dir, f"{n}.pkl"))
    con.close()


def check_op(name: str, got: pd.DataFrame, oracle_dir: str) -> list[str]:
    """Problems with one op's result (empty list: it matches). An op
    without an oracle only has to produce rows."""
    path = os.path.join(oracle_dir, f"{name}.pkl")
    if not os.path.exists(path):
        return [] if len(got) else ["no rows and no oracle"]
    with open(path, "rb") as fh:
        want = pickle.load(fh)  # written by cache_oracles above
    g, w = canonicalize(got), canonicalize(want)
    if list(g.columns) != list(w.columns):
        return [f"columns {list(g.columns)} != {list(w.columns)}"]
    return compare_strict(g, w)


# --------------------------------------------------------------------------
# warehouse_build
# --------------------------------------------------------------------------

#: fact -> [(key column, dimension, dimension key column)]
FACT_KEYS = {
    "fact_medical_formula": [
        ("fecha_id", "dim_fecha", "fecha_id"),
        ("usuario_id", "dim_usuario", "usuario_id"),
        ("medico_id", "dim_medico", "medico_id"),
        ("medicamento_id", "dim_medicamento", "medicamento_id"),
    ],
    "fact_facturacion": [
        ("fecha_id", "dim_fecha", "fecha_id"),
        ("centro_medico_id", "dim_centro_medico", "centro_medico_id"),
        ("enfermedad_id", "dim_enfermedad", "enfermedad_id"),
        ("empresa_id", "dim_empresa", "empresa_id"),
        ("cotizante_id", "dim_cotizante", "cotizante_id"),
    ],
    "fact_retiro": [
        ("fecha_id", "dim_fecha", "fecha_id"),
        ("region_id", "dim_region", "region_id"),
        ("centro_medico_id", "dim_centro_medico", "centro_medico_id"),
        ("cotizante_id", "dim_cotizante", "cotizante_id"),
    ],
    "fact_servicio": [
        ("fecha_solicitud_id", "dim_fecha", "fecha_id"),
        ("hora_solicitud_id", "dim_hora", "hora_id"),
        ("fecha_atencion_id", "dim_fecha", "fecha_id"),
        ("hora_atencion_id", "dim_hora", "hora_id"),
        ("usuario_id", "dim_usuario", "usuario_id"),
        ("medico_id", "dim_medico", "medico_id"),
        ("region_id", "dim_region", "region_id"),
    ],
}


def _repair_sql(col: str) -> str:
    from data_warehouse_co_healthy_spark.pipelines.cleaning import (  # noqa: PLC0415
        MUNICIPIO_REPAIRS,
    )

    whens = " ".join(
        f"WHEN {col} = '{bad}' THEN '{good}'"
        for bad, good in MUNICIPIO_REPAIRS.items()
    )
    return f"CASE {whens} ELSE {col} END"


def _expected_counts_sql() -> dict[str, str]:
    """Row count of each warehouse table, restated in DuckDB SQL over
    the CO source views (pipelines/*.py, join for join)."""
    in_window = "BETWEEN DATE '2006-01-01' AND DATE '2010-12-31'"
    du = ("(SELECT DISTINCT * FROM (SELECT cedula AS identificacion, "
          "nombre, fecha_nacimiento, sexo FROM cotizante UNION ALL "
          "SELECT id_beneficiario, nombre, fecha_nacimiento, sexo "
          "FROM beneficiario))")
    dm = "(SELECT DISTINCT cedula, nombre, especialidad FROM medico)"
    dcot = ("(SELECT DISTINCT cedula, nombre, fecha_nacimiento, sexo, "
            "tipo_cotizante, nivel_escolaridad, fecha_afiliacion, "
            "proviene_otra_eps FROM cotizante)")
    dmed = ('(SELECT DISTINCT "Código" AS codigo, "Nombre Genérico", '
            '"Presentación", "Laboratorio y Registro", "Precio", '
            '"Tipo Medicamento" FROM medicamentos)')
    dcm = ("(SELECT DISTINCT id_ips, nombre, direccion, tipo_ips, "
           "municipio FROM ips)")
    dreg = "(SELECT DISTINCT municipio, departamento, region FROM regiones_co)"
    denf = "(SELECT DISTINCT enfermedad AS nombre FROM preexistencias)"
    demp = "(SELECT DISTINCT nit, nombre FROM empresa)"
    ddem = ("(SELECT DISTINCT direccion, estado_civil, estracto, "
            "tipo_discapacidad, salario_base FROM cotizante)")
    # dim_hora: minute labels HH:mm:00
    hora_ok = "regexp_matches({c}, '^([01][0-9]|2[0-3]):[0-5][0-9]:00$')"
    services = f"""
        SELECT id_usuario, id_medico, fecha_solicitud, hora_solicitud,
               fecha_atencion, hora_atencion FROM citas_generales
        UNION ALL SELECT id_usuario, id_medico, fecha_solicitud,
               hora_solicitud, fecha_atencion, hora_atencion FROM urgencias
        UNION ALL SELECT id_usuario, id_medico, fecha_solicitud,
               hora_solicitud, fecha_atencion, hora_atencion
               FROM hospitalizaciones
        UNION ALL SELECT r.id_usuario, r.id_medico, r.fecha_remision,
               r.hora_remision, r.fecha_atencion, r.hora_atencion
               FROM remisiones r JOIN servicios_pos s
               ON r.servicio_pos = s.id_servicio_pos"""
    region_aux = (f"(SELECT m.cedula, {_repair_sql('i.municipio')} "
                  "AS municipio FROM medico m JOIN ips i USING (id_ips))")
    return {
        "dim_usuario": f"SELECT count(*) FROM {du}",
        "dim_cotizante": f"SELECT count(*) FROM {dcot}",
        "dim_medico": f"SELECT count(*) FROM {dm}",
        "dim_medicamento": f"SELECT count(*) FROM {dmed}",
        "dim_centro_medico": f"SELECT count(*) FROM {dcm}",
        "dim_fecha": "SELECT 1826",
        "dim_hora": "SELECT 1440",
        "dim_region": f"SELECT count(*) FROM {dreg}",
        "dim_enfermedad": f"SELECT count(*) FROM {denf}",
        "dim_empresa": f"SELECT count(*) FROM {demp}",
        "dim_demografica": f"SELECT count(*) FROM {ddem}",
        "fact_medical_formula": f"""
            SELECT count(*) FROM (
              SELECT id_usuario, id_medico, fecha,
                     unnest(string_split(medicamentos_recetados, ';')) AS med
              FROM formulas_medicas) f
            JOIN {du} u ON f.id_usuario = u.identificacion
            JOIN {dm} m ON f.id_medico = m.cedula
            JOIN {dmed} d ON f.med = d.codigo
            WHERE f.fecha {in_window}""",
        "fact_facturacion": f"""
            SELECT count(*) FROM pagos p
            LEFT JOIN empresa_cotizante ec ON p.id_usuario = ec.cotizante
            LEFT JOIN preexistencias pr ON p.id_usuario = pr.id_usuario
            LEFT JOIN (SELECT cedula, id_ips FROM cotizante) c
                   ON p.id_usuario = c.cedula
            JOIN {dcot} dc ON p.id_usuario = dc.cedula
            JOIN {dcm} cm ON c.id_ips = cm.id_ips
            LEFT JOIN {demp} e ON ec.empresa = e.nit
            JOIN {denf} en ON pr.enfermedad = en.nombre
            WHERE p.fecha_pago {in_window}""",
        "fact_retiro": f"""
            SELECT count(*) FROM retiros r
            JOIN (SELECT cedula, id_ips FROM cotizante) c
              ON r.id_usuario = c.cedula
            JOIN (SELECT id_ips, {_repair_sql('municipio')} AS municipio
                  FROM {dcm}) cm ON c.id_ips = cm.id_ips
            JOIN {dreg} g ON cm.municipio = g.municipio
            JOIN {dcot} dc ON r.id_usuario = dc.cedula
            WHERE r.fecha_retiro {in_window}""",
        "fact_servicio": f"""
            SELECT count(*) FROM ({services}) s
            JOIN {du} u ON s.id_usuario = u.identificacion
            JOIN {dm} m ON s.id_medico = m.cedula
            LEFT JOIN {region_aux} ra ON s.id_medico = ra.cedula
            JOIN {dreg} g ON ra.municipio = g.municipio
            WHERE s.fecha_solicitud {in_window}
              AND s.fecha_atencion {in_window}
              AND {hora_ok.format(c='s.hora_solicitud')}
              AND {hora_ok.format(c='s.hora_atencion')}""",
    }


def check_warehouse(out_dir: str, co_dir: str) -> dict[str, list[str]]:
    """{table: problems} for the 15 written warehouse tables."""
    con = duckdb.connect()
    _duck_views(con, co_dir)
    problems: dict[str, list[str]] = {}
    written = {}
    for name, sql in _expected_counts_sql().items():
        path = os.path.join(out_dir, name)
        glob = (f"{path}/*/*.parquet" if name == "dim_fecha"
                else f"{path}/*.parquet")
        written[name] = f"w_{name}"
        try:
            con.execute(
                f"CREATE TABLE w_{name} AS SELECT * FROM "
                f"read_parquet('{glob}', hive_partitioning = true)"
            )
            got = con.sql(f"SELECT count(*) FROM w_{name}").fetchone()[0]
            want = con.sql(sql).fetchone()[0]
        except duckdb.Error as e:
            problems[name] = [f"read back failed: {e}"]
            continue
        problems[name] = [] if got == want else [f"rows {got} != {want}"]
    for fact, keys in FACT_KEYS.items():
        for col, dim, dim_col in keys:
            # company misses are filled with empresa_id 0 by design
            zero_ok = f"AND f.{col} <> 0" if col == "empresa_id" else ""
            try:
                bad = con.sql(
                    f"SELECT count(*) FROM {written[fact]} f "
                    f"WHERE f.{col} IS NULL OR (f.{col} NOT IN "
                    f"(SELECT {dim_col} FROM {written[dim]}) {zero_ok})"
                ).fetchone()[0]
            except duckdb.Error as e:
                problems[fact].append(f"key check {col} failed: {e}")
                continue
            if bad:
                problems[fact].append(f"{bad} rows with {col} not in {dim}")
    con.close()
    return problems
