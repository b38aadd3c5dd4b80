"""Seeded input generator for the benchmark.

Two table families, both written as parquet into one directory per
seed:

- ``tpch/``: the TPC-H-style fixture tables (``schemas.TESTDATA``) with
  the key relationships, domains and distributions of
  ``tools/gen_sf1.py``, parameterised by scale factor and seed. The
  registry's queries read them through ``catalog.load_table``.
- ``co/``: the CO operational source tables (``schemas.REFERENCE``) the
  warehouse pipelines consume, with the quirks ``tests/fixtures_co.py``
  pins: exact duplicate rows, dates outside the 2006-2010 ``dim_fecha``
  window, mojibake municipios, contributors without a company link or a
  preexistence, unknown medicine codes, multi-medicine formulas and
  remissions naming an unknown POS service.

The same (scale, seed) always gives byte-identical tables. Run
``python3 perfbench/gen.py OUT_DIR --seed N`` to write one seed's data
at the scale ``perfbench/workloads.py`` sets, with the DuckDB oracle
answers of the ``read_mix`` ops cached under ``OUT_DIR/oracle``.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window",
]
LANGS = ["en", "es", "fr", "de", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["large", "hot", "blue", "old", "cold", "small", "dark", "light"]
P_NOUN = ["ring", "bolt", "plate", "gear", "pin", "cap"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]

DAY_US = 86_400_000_000


def _days(date: str) -> int:
    return int(np.datetime64(date, "D").astype(np.int64))


def tpch_sizes(sf: float) -> dict[str, int]:
    """Row counts per table at scale factor ``sf`` (sf1 = 6M lineitem
    rows, the ratios of tools/gen_sf1.py; documents and embeddings keep
    the sf0.001 and sf0.01 fixtures' floor of 500 rows)."""
    return {
        "customer": max(10, int(150_000 * sf)),
        "supplier": max(10, int(10_000 * sf)),
        "part": max(20, int(200_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "events": max(100, int(1_000_000 * sf)),
        "event_users": max(10, int(15_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(8_000 * sf ** 0.6)),
    }


def gen_tpch(out: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten TPC-H-style tables; return {table: rows}."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = tpch_sizes(sf)
    ts_us = pa.timestamp("us")
    rows: dict[str, int] = {}

    def write(name: str, table: pa.Table) -> None:
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows

    write("region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }))
    write("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }))
    nc, ns, npart, no = n["customer"], n["supplier"], n["part"], n["orders"]
    write("customer", pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, nc), 2),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)]),
    }))
    write("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(ns), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, ns), 2),
    }))
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), npart)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), npart)]
    write("part", pa.table({
        "p_partkey": pa.array(np.arange(npart), pa.int64()),
        "p_name": [f"{a} {b}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, npart)],
        "p_type": pa.array(
            np.array(P_TYPES)[rng.integers(0, len(P_TYPES), npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": np.round(
            900.0 + (np.arange(npart) % 1000) / 10.0, 1),
    }))
    odate = (_days("1995-01-01") + rng.integers(0, 2404, no)) * DAY_US
    write("orders", pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype(np.int64)),
        "o_orderstatus": pa.array(
            np.array(["O", "P", "F"])[rng.integers(0, 3, no)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": pa.array(odate, ts_us),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES)[rng.integers(0, 5, no)]),
    }))
    lines_per = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no), lines_per)
    nli = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    ship = np.repeat(odate, lines_per) + rng.integers(1, 96, nli) * DAY_US
    write("lineitem", pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, npart, nli).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, ns, nli).astype(np.int64)),
        "l_linenumber": pa.array(lnum.astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nli).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(1000, 100000, nli), 2),
        "l_discount": rng.integers(0, 11, nli) / 100.0,
        "l_tax": rng.integers(0, 9, nli) / 100.0,
        "l_returnflag": pa.array(
            np.array(["A", "N", "R"])[rng.integers(0, 3, nli)]),
        "l_linestatus": pa.array(
            np.array(["F", "O"])[rng.integers(0, 2, nli)]),
        "l_shipdate": pa.array(ship, ts_us),
    }))
    ne = n["events"]
    gaps = rng.exponential(30 * 86_400 / ne, ne)
    ts = (_days("2024-01-01") * 86_400 + np.cumsum(gaps)) * 1_000_000
    write("events", pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts.astype(np.int64), ts_us),
        "user_id": pa.array(
            rng.integers(0, n["event_users"], ne).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [json.dumps({"k": int(k)})
                  for k in rng.integers(0, 101, ne)],
    }))
    nd = n["documents"]
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)])
             for k in rng.integers(10, 101, nd)]
    write("documents", pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P)),
        "source": [f"src{s}" for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts]), pa.int64()),
    }))
    nv = n["embeddings"]
    m = rng.standard_normal((nv, 64)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    write("embeddings", pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv).astype(np.int32)),
    }))
    return rows


# Broken municipio spellings the pipelines repair (pipelines.cleaning),
# plus clean names; regiones_co carries the repaired spellings.
MOJIBAKE = ["Bogota", "Facatativ�", "Medellin", "Quibd�",
            "Monter�a", "Nuqu�"]
CLEAN = ["Cali", "Pasto", "Tunja", "Neiva"]
REGIONES = [
    ("Bogotá D.C.", "Cundinamarca", "Andina"),
    ("Facatativá", "Cundinamarca", "Andina"),
    ("Medellín", "Antioquia", "Andina"),
    ("Quibdó", "Chocó", "Pacífica"),
    ("Montería", "Córdoba", "Caribe"),
    ("Nuquí", "Chocó", "Pacífica"),
    ("Cali", "Valle del Cauca", "Pacífica"),
    ("Pasto", "Nariño", "Pacífica"),
    ("Tunja", "Boyacá", "Andina"),
    ("Jamundí", "Valle del Cauca", "Pacífica"),
]
DISEASES = ["diabetes", "hipertension", "asma", "artritis", "epoc",
            "obesidad", "cancer", "renal"]
WINDOW = ("2006-01-01", "2010-12-31")


def co_sizes(n_users: int) -> dict[str, int]:
    """Row counts (before duplicates) of the CO sources for
    ``n_users`` contributors."""
    return {
        "cotizante": n_users,
        "beneficiario": n_users // 2,
        "ips": 40,
        "medico": max(20, n_users // 40),
        "empresa": max(10, n_users // 50),
        "formulas_medicas": n_users * 4,
        "pagos": n_users * 4,
        "retiros": n_users // 4,
        "citas_generales": n_users * 2,
        "urgencias": n_users,
        "hospitalizaciones": n_users // 2,
        "remisiones": n_users // 2,
        "servicios_pos": 30,
        "medicamentos": 400,
    }


def gen_co(out: str, n_users: int, seed: int) -> dict[str, int]:
    """Write the 17 CO source tables; return {table: rows}."""
    from data_warehouse_co_healthy_spark.schemas import REFERENCE  # noqa: PLC0415
    from pyspark.sql import types as T  # noqa: PLC0415

    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    n = co_sizes(n_users)
    arrow_type = {
        T.StringType(): pa.string(), T.IntegerType(): pa.int32(),
        T.DoubleType(): pa.float64(), T.DateType(): pa.date32(),
    }
    rows: dict[str, int] = {}
    epoch = dt.date(1970, 1, 1)
    lo, hi = (_days(d) for d in WINDOW)

    def dates(k: int, out_share: float = 0.1) -> list[dt.date]:
        """Service dates: mostly inside the dim_fecha window, a share in
        2011-2012 (dropped by the inner date join)."""
        d = rng.integers(lo, hi + 1, k)
        late = rng.random(k) < out_share
        d[late] = rng.integers(hi + 1, hi + 700, int(late.sum()))
        return [epoch + dt.timedelta(days=int(x)) for x in d]

    def times(k: int) -> list[str]:
        """HH:mm:ss labels; about 2% carry seconds, so they miss the
        minute-grain dim_hora and drop out of fact_servicio."""
        mins = rng.integers(0, 1440, k)
        secs = np.where(rng.random(k) < 0.02, rng.integers(1, 60, k), 0)
        return [f"{m // 60:02d}:{m % 60:02d}:{s:02d}"
                for m, s in zip(mins, secs)]

    def pick(vals: list, k: int) -> list:
        return [vals[i] for i in rng.integers(0, len(vals), k)]

    def with_dups(cols: dict[str, list], share: float) -> dict[str, list]:
        """Append exact copies of a random ``share`` of the rows."""
        k = len(next(iter(cols.values())))
        idx = rng.choice(k, int(k * share), replace=False)
        return {c: v + [v[i] for i in idx] for c, v in cols.items()}

    def write(name: str, cols: dict[str, list]) -> None:
        schema = REFERENCE[name]
        table = pa.table({
            f.name: pa.array(cols[f.name], arrow_type[f.dataType])
            for f in schema.fields
        })
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = table.num_rows

    ips_ids = [f"IPS{i}" for i in range(n["ips"])]
    municipios = MOJIBAKE + CLEAN
    write("ips", {
        "id_ips": ips_ids,
        "nombre": [f"Centro {i}" for i in range(n["ips"])],
        "direccion": [f"Cra {i}" for i in range(n["ips"])],
        "tipo_ips": pick(["clinica", "hospital", "centro"], n["ips"]),
        # "Pitalito" has no regiones_co row: its doctors drop out of
        # fact_servicio at the inner region join
        "municipio": [municipios[i % len(municipios)]
                      if i % 13 else "Pitalito"
                      for i in range(n["ips"])],
    })

    nu = n["cotizante"]
    ced = [f"C{i}" for i in range(nu)]
    births = [epoch + dt.timedelta(days=int(x))
              for x in rng.integers(_days("1940-01-01"), _days("2004-12-31"), nu)]
    write("cotizante", with_dups({
        "cedula": ced,
        "nombre": [f"Cotizante {i}" for i in range(nu)],
        "fecha_nacimiento": births,
        "sexo": pick(["F", "M"], nu),
        "tipo_cotizante": pick(["dependiente", "independiente"], nu),
        "nivel_escolaridad": pick(["pri", "sec", "uni", "pos"], nu),
        "fecha_afiliacion": dates(nu, 0.0),
        "proviene_otra_eps": [int(x) for x in rng.integers(0, 2, nu)],
        "id_ips": pick(ips_ids, nu),
        # a small attribute domain: many contributors share one
        # demographic tuple (dim_demografica recovery)
        "direccion": [f"Calle {x}" for x in rng.integers(0, 40, nu)],
        "estado_civil": pick(["soltero", "casado", "union", "viudo"], nu),
        "estracto": [int(x) for x in rng.integers(1, 7, nu)],
        "tipo_discapacidad": pick(["ninguna", "visual", "motriz"], nu),
        "salario_base": [float(x) for x in rng.integers(1, 6, nu) * 500.0],
    }, 0.02))

    nb = n["beneficiario"]
    ben = [f"B{i}" for i in range(nb)]
    write("beneficiario", with_dups({
        "id_beneficiario": ben,
        "nombre": [f"Beneficiario {i}" for i in range(nb)],
        "fecha_nacimiento": [epoch + dt.timedelta(days=int(x)) for x in
                             rng.integers(_days("1990-01-01"),
                                          _days("2010-12-31"), nb)],
        "sexo": pick(["F", "M"], nb),
    }, 0.02))

    nm = n["medico"]
    med_ids = [f"M{i}" for i in range(nm)]
    write("medico", {
        "cedula": med_ids,
        "nombre": [f"Dr {i}" for i in range(nm)],
        "especialidad": pick(["general", "pediatria", "cardio"], nm),
        "subespecialidad": [None if x else "sub" for x in
                            rng.integers(0, 3, nm)],
        "id_ips": pick(ips_ids, nm),
        "Direccion_Consultorio": [f"Consultorio {i}" for i in range(nm)],
    })

    # preexistencias: ~80% of contributors (the rest drop out of
    # fact_facturacion), some with two diseases (grain multiplies)
    has = [c for c in ced if rng.random() < 0.8]
    pre_users = has + [c for c in has if rng.random() < 0.15]
    write("preexistencias", {
        "id_usuario": pre_users,
        "enfermedad": pick(DISEASES, len(pre_users)),
    })

    ne = n["empresa"]
    nits = [f"E{i}" for i in range(ne)]
    write("empresa", with_dups({
        "nit": nits, "nombre": [f"Empresa {i}" for i in range(ne)],
    }, 0.05))
    # ~60% of contributors have a company; links to an unknown nit
    # fall through the left join and fill empresa_id with 0
    linked = [c for c in ced if rng.random() < 0.6]
    write("empresa_cotizante", {
        "cotizante": linked,
        "empresa": [f"E{x}" for x in rng.integers(0, ne + 3, len(linked))],
    })

    codes = [f"MED{i}" for i in range(n["medicamentos"])]
    nmed = len(codes)
    write("medicamentos", with_dups({
        "Código": codes,
        "Nombre Genérico": [f"Generico {i}" for i in range(nmed)],
        "Forma Farmacéutica": pick(["tableta", "capsula", "jarabe"], nmed),
        "Presentación": [f"{x}mg" for x in rng.integers(1, 20, nmed) * 50],
        "Laboratorio y Registro": [f"Lab {x}" for x in
                                   rng.integers(0, 30, nmed)],
        "Precio": [float(x) for x in np.round(rng.uniform(1, 90, nmed), 2)],
        "Tipo Medicamento": pick(["Genérico", "Comercial"], nmed),
    }, 0.03))

    users = ced + ben
    nf = n["formulas_medicas"]
    # 1-3 medicines per formula; codes past the catalog are unknown
    per = rng.integers(1, 4, nf)
    meds = [";".join(f"MED{x}" for x in rng.integers(0, nmed + 20, k))
            for k in per]
    write("formulas_medicas", {
        "Codigo_Formula": [f"F{i}" for i in range(nf)],
        "id_usuario": pick(users, nf),
        "id_medico": pick(med_ids, nf),
        "fecha": dates(nf),
        "medicamentos_recetados": meds,
    })

    npay = n["pagos"]
    write("pagos", {
        "id_usuario": pick(ced, npay),
        "fecha_pago": dates(npay),
        "valor_pagado": [float(x) for x in
                         np.round(rng.uniform(10, 900, npay), 2)],
    })

    nr = n["retiros"]
    write("retiros", {
        "id_usuario": pick(ced, nr),
        "fecha_retiro": dates(nr),
        "cambio_a_eps": pick(["EPS Sura", "EPS Sanitas", "EPS Salud"], nr),
    })

    def service(prefix: str, code_col: str, k: int) -> dict[str, list]:
        solicitud = dates(k)
        return {
            code_col: [f"{prefix}{i}" for i in range(k)],
            "id_usuario": pick(users, k),
            "id_medico": pick(med_ids, k),
            "fecha_solicitud": solicitud,
            "hora_solicitud": times(k),
            "fecha_atencion": [d + dt.timedelta(days=int(x)) for d, x in
                               zip(solicitud, rng.integers(0, 4, k))],
            "hora_atencion": times(k),
            "diagnostico": pick(["gripe", "fractura", "migrana",
                                 "neumonia", "control"], k),
        }

    write("citas_generales",
          service("CT", "codigo_cita", n["citas_generales"]))
    write("urgencias", service("UR", "codigo_urgencia", n["urgencias"]))
    hosp = service("HO", "codigo_hospitalizacion", n["hospitalizaciones"])
    hosp["duracion_hospitalizacion"] = [
        int(x) for x in rng.integers(1, 15, n["hospitalizaciones"])]
    write("hospitalizaciones", hosp)

    nrem = n["remisiones"]
    rem = service("RE", "codigo_remision", nrem)
    rem["id_medico_remite"] = pick(med_ids, nrem)
    rem["fecha_remision"] = rem.pop("fecha_solicitud")
    rem["hora_remision"] = rem.pop("hora_solicitud")
    # SP30-SP34 have no servicios_pos row: dropped by the inner join
    rem["servicio_pos"] = [f"SP{x}" for x in
                           rng.integers(0, n["servicios_pos"] + 5, nrem)]
    write("remisiones", rem)
    nsp = n["servicios_pos"]
    write("servicios_pos", {
        "id_servicio_pos": [f"SP{i}" for i in range(nsp)],
        "descripcion": [f"servicio {i}" for i in range(nsp)],
        "costo": [float(x) for x in np.round(rng.uniform(20, 500, nsp), 2)],
    })
    write("regiones_co", {
        "municipio": [r[0] for r in REGIONES],
        "departamento": [r[1] for r in REGIONES],
        "region": [r[2] for r in REGIONES],
    })
    return rows


def main() -> None:
    import sys  # noqa: PLC0415

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from perfbench import workloads as W  # noqa: PLC0415
    from perfbench.check import cache_oracles  # noqa: PLC0415

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    tpch, co = os.path.join(a.out, "tpch"), os.path.join(a.out, "co")
    rows = {"tpch": gen_tpch(tpch, W.TPCH_SF, a.seed),
            "co": gen_co(co, W.CO_USERS, a.seed)}
    cache_oracles(tpch, os.path.join(a.out, "oracle"), W.ops("read_mix"))
    manifest = {
        family: {t: [n, os.path.getsize(
            os.path.join(a.out, family, f"{t}.parquet"))]
            for t, n in tables.items()}
        for family, tables in rows.items()
    }
    with open(os.path.join(a.out, "READY.json"), "w") as fh:
        json.dump(manifest, fh, indent=1)

if __name__ == "__main__":
    main()
