"""Seeded RUES registry generator for the medallion and refresh workloads.

Writes ONE raw CSV shaped like the reference registry extract (29 columns,
non-snake headers) plus the two catalogs, and returns the values the
bronze -> silver -> gold -> analytics pipeline must produce on it, so
every pass can be checked exactly.

Planted pathologies (shares of companies, see ``SHARES``):

- RN-002 duplicates: older versions of a (matricula, nit) key with an
  earlier ``fecha_actualizacion`` day. Versions of one key never share a
  day, so keep-latest has exactly one answer.
- dates as ``yyyyMMdd``, as ``yyyy/MM/dd HH:mm:ss.SSSSSSSSS`` (nanosecond
  fraction) and as garbage; pre-1992 ``fecha_matricula`` values;
  ``fecha_matricula`` in the future (negative antiguedad).
- mixed-case / padded ``estado_matricula`` and ``clase_identificacion``.
- clase values outside the 9-row catalog and CIIU codes outside the
  ~500-code catalog.
- NULL mandatory fields (matricula, codigo_camara, clase_identificacion).
- razon_social values with quoted commas and escaped double quotes.
- the golden record 21590 and an older version of it.

The expected values mirror the pipeline's documented semantics (RN-001 ..
RN-010, gold star schema, analytics q1-q4) on the rows the generator
itself chose, never by running the engine.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import re
from collections import Counter, defaultdict

import numpy as np

RAW_HEADERS = [
    "MATRICULA", "NIT", "NUMERO IDENTIFICACION", "DIGITO VERIFICACION",
    "CLASE IDENTIFICACION", "RAZON SOCIAL", "PRIMER NOMBRE", "SEGUNDO NOMBRE",
    "PRIMER APELLIDO", "SEGUNDO APELLIDO", "SIGLA", "TIPO SOCIEDAD",
    "CODIGO TIPO SOCIEDAD", "ORGANIZACION JURIDICA",
    "CODIGO ORGANIZACION JURIDICA", "CATEGORIA MATRICULA",
    "CODIGO CATEGORIA MATRICULA", "COD CIIU ACT ECON PRI",
    "COD CIIU ACT ECON SEC", "CAMARA COMERCIO", "CODIGO CAMARA",
    "ESTADO MATRICULA", "CODIGO ESTADO MATRICULA", "FECHA MATRICULA",
    "FECHA RENOVACION", "FECHA VIGENCIA", "FECHA CANCELACION",
    "fechaActualizacion", "ULTIMO ANO RENOVADO",
]
COLUMNS = [
    "matricula", "nit", "numero_identificacion", "digito_verificacion",
    "clase_identificacion", "razon_social", "primer_nombre", "segundo_nombre",
    "primer_apellido", "segundo_apellido", "sigla", "tipo_sociedad",
    "codigo_tipo_sociedad", "organizacion_juridica",
    "codigo_organizacion_juridica", "categoria_matricula",
    "codigo_categoria_matricula", "cod_ciiu_act_econ_pri",
    "cod_ciiu_act_econ_sec", "camara_comercio", "codigo_camara",
    "estado_matricula", "codigo_estado_matricula", "fecha_matricula",
    "fecha_renovacion", "fecha_vigencia", "fecha_cancelacion",
    "fecha_actualizacion", "ultimo_ano_renovado",
]
DATE_COLUMNS = (
    "fecha_matricula", "fecha_renovacion", "fecha_actualizacion",
    "fecha_vigencia", "fecha_cancelacion",
)

CLASES = [
    ("NIT", "11"), ("CEDULA DE CIUDADANIA", "33"), ("CEDULA DE EXTRANJERIA", "44"),
    ("PASAPORTE", "55"), ("TARJETA DE IDENTIDAD", "66"),
    ("PERMISO POR PROTECCION TEMPORAL", "77"),
    ("PERMISO ESPECIAL DE PERMANENCIA", "88"),
    ("REGISTRO CIVIL DE NACIMIENTO", "99"), ("DOCUMENTO EXTRANJERO", "101"),
]
SOCIEDADES = [
    ("SOCIEDAD POR ACCIONES SIMPLIFICADA", "04"), ("SOCIEDAD LIMITADA", "03"),
    ("SOCIEDAD ANONIMA", "02"), ("PERSONA NATURAL", "01"),
    ("EMPRESA UNIPERSONAL", "05"), ("SOCIEDAD EN COMANDITA SIMPLE", "06"),
]
CAMARAS = [
    ("BOGOTA", "01"), ("MEDELLIN", "02"), ("CALI", "03"), ("BARRANQUILLA", "04"),
    ("CARTAGENA", "05"), ("BUCARAMANGA", "06"), ("MANIZALES", "07"),
    ("PEREIRA", "08"), ("CUCUTA", "09"), ("IBAGUE", "10"), ("PASTO", "11"),
    ("MONTERIA", "12"), ("NEIVA", "13"), ("VILLAVICENCIO", "14"),
    ("SANTA MARTA", "15"), ("TUNJA", "16"), ("POPAYAN", "17"), ("ARMENIA", "18"),
    ("MAGANGUE", "19"), ("SINCELEJO", "20"),
]
ESTADOS = [("ACTIVA", "01"), ("RENOVADA", "02"), ("CANCELADA", "03"), ("SUSPENDIDA", "04")]
ESTADO_P = [0.55, 0.15, 0.20, 0.10]

CIIU_CODES = 505
REFERENCE_YEAR = 2025  # RuesConfig.reference_year the benchmark pins
TODAY = "2025-06-30"  # RuesConfig.today the benchmark pins
GOLDEN = "21590"

# planted-pathology shares (of generated companies)
SHARES = {
    "two_versions": 0.20,
    "three_versions": 0.05,
    "date_ts9": 0.20,
    "date_garbage": 0.04,
    "pre_1992_matricula": 0.15,
    "future_matricula": 0.01,
    "estado_mixed_case": 0.30,
    "clase_mixed_case": 0.20,
    "clase_unknown": 0.02,
    "clase_null": 0.01,
    "ciiu_unknown": 0.03,
    "ciiu_null": 0.01,
    "matricula_null": 0.004,
    "codigo_camara_null": 0.005,
    "quoted_comma": 0.05,
    "escaped_quote": 0.01,
    "actualizacion_compact": 0.05,
    "actualizacion_garbage": 0.01,
}
GARBAGE_DATES = ("not-a-date", "20201345", "2021-02-30", "31/12/2019", "0000", "2019/13/01 25:61:00.000000000")


def ciiu_catalog(rng: np.random.Generator) -> list[tuple[str, str]]:
    """~500 zero-padded 4-digit codes; 0111/0112/4774 always present and
    9999 never (it is the planted unknown code)."""
    pool = np.setdiff1d(np.arange(100, 9900), [111, 112, 4774])
    codes = sorted({111, 112, 4774, *rng.choice(pool, CIIU_CODES - 3, replace=False).tolist()})
    return [(f"{c:04d}", f"Actividad {c:04d}, servicios y comercio") for c in codes]


def _fmt_date(kind: str, d: dt.date, rng: np.random.Generator) -> str:
    if kind == "compact":
        return d.strftime("%Y%m%d")
    if kind == "ts9":
        t = int(rng.integers(0, 86_400))
        return (
            f"{d.year:04d}/{d.month:02d}/{d.day:02d} {t // 3600:02d}:{t // 60 % 60:02d}:"
            f"{t % 60:02d}.{int(rng.integers(0, 10**9)):09d}"
        )
    return GARBAGE_DATES[int(rng.integers(0, len(GARBAGE_DATES)))]


def _date_kind(rng: np.random.Generator) -> str:
    u = rng.random()
    if u < SHARES["date_garbage"]:
        return "garbage"
    return "ts9" if u < SHARES["date_garbage"] + SHARES["date_ts9"] else "compact"


def _mixed_case(s: str, rng: np.random.Generator) -> str:
    v = int(rng.integers(0, 3))
    return (s.lower(), s.title(), f" {s.capitalize()} ")[v]


def _day(rng: np.random.Generator, y0: int, y1: int) -> dt.date:
    start = dt.date(y0, 1, 1).toordinal()
    return dt.date.fromordinal(int(rng.integers(start, dt.date(y1, 12, 31).toordinal() + 1)))


def _golden_versions() -> list[dict]:
    base = dict(
        matricula=GOLDEN, nit="900118485", numero_identificacion="900118485",
        digito_verificacion="7", razon_social="OPTICA CRISTAL MAGANGUE LTDA.",
        tipo_sociedad="SOCIEDAD LIMITADA", codigo_tipo_sociedad="03",
        organizacion_juridica="SOCIEDAD COMERCIAL", codigo_organizacion_juridica="01",
        categoria_matricula="SOCIEDAD O PERSONA JURIDICA PRINCIPAL O ESAL",
        codigo_categoria_matricula="01", cod_ciiu_act_econ_pri="4774",
        camara_comercio="MAGANGUE", codigo_camara="19", fecha_matricula="20061108",
    )
    latest = dict(
        base, clase_identificacion="NIT", estado_matricula=" Activa ",
        codigo_estado_matricula="01", fecha_renovacion="20250506",
        fecha_vigencia="20260331", fecha_actualizacion="2025/05/13 14:51:55.923000000",
        ultimo_ano_renovado="2025",
    )
    older = dict(
        base, clase_identificacion="nit ", estado_matricula="RENOVADA",
        codigo_estado_matricula="02", fecha_renovacion="20240502",
        fecha_vigencia="20250331", fecha_actualizacion="2024/05/02 10:00:00.000000000",
        ultimo_ano_renovado="2024",
    )
    return [latest, older]


_TS9 = re.compile(r"(\d{4})/(\d{2})/(\d{2}) (\d{2}):(\d{2}):(\d{2})\.\d{9}")


def _date(y: str, m: str, d: str) -> dt.date | None:
    try:
        return dt.date(int(y), int(m), int(d))
    except ValueError:
        return None


def _parse(raw: str | None) -> dt.date | None:
    """RN-001 on one value: yyyyMMdd, else the ts9 slash form, else NULL.
    Mirrors functions.dates.multi_format_date on the shapes planted here."""
    if raw is None:
        return None
    s = raw.strip()
    if len(s) == 8 and s.isdigit():
        return _date(s[:4], s[4:6], s[6:])
    m = _TS9.fullmatch(s)
    if m is None:
        return None
    y, mo, d, hh, mi, ss = m.groups()
    if int(hh) > 23 or int(mi) > 59 or int(ss) > 59:
        return None
    return _date(y, mo, d)


def _company(i: int, rng: np.random.Generator, ciiu: list[str]) -> list[dict]:
    """All versions of generated company ``i``; element 0 is the latest."""
    u = rng.random
    matricula = None if u() < SHARES["matricula_null"] else str(100_000 + i)
    r = u()
    if r < SHARES["clase_null"]:
        clase, codigo_clase = None, None
    elif r < SHARES["clase_null"] + SHARES["clase_unknown"]:
        clase, codigo_clase = "SIN IDENTIFICACION", None
    else:
        clase, codigo_clase = CLASES[0] if u() < 0.6 else CLASES[int(rng.integers(1, len(CLASES)))]
    juridica = clase == "NIT"
    # a NULL-matricula row keeps a unique nit so it stays its own RN-002 key
    nit = f"9{i:08d}" if juridica or matricula is None else None
    ident = nit or f"{10_000_000 + i}"
    soc = SOCIEDADES[3] if not juridica else SOCIEDADES[[0, 1, 2, 4, 5][int(rng.integers(0, 5))]]
    razon = f"EMPRESA {i} {soc[0].split()[-1]}"
    r = u()
    if r < SHARES["quoted_comma"]:
        razon = f"COMERCIAL {i}, {soc[0].split()[-1]}"
    elif r < SHARES["quoted_comma"] + SHARES["escaped_quote"]:
        razon = f'ALMACEN "EL {i}" LTDA'
    r = u()
    if r < SHARES["ciiu_null"]:
        ciiu_pri = None
    elif r < SHARES["ciiu_null"] + SHARES["ciiu_unknown"]:
        ciiu_pri = "9999"
    else:
        ciiu_pri = ciiu[int(rng.integers(0, len(ciiu)))]
    camara, codigo_camara = CAMARAS[int(rng.integers(0, len(CAMARAS)))]
    if u() < SHARES["codigo_camara_null"]:
        codigo_camara = None
    r = u()
    if r < SHARES["future_matricula"]:
        fm = _day(rng, REFERENCE_YEAR + 1, REFERENCE_YEAR + 15)
    elif r < SHARES["future_matricula"] + SHARES["pre_1992_matricula"]:
        fm = _day(rng, 1950, 1991)
    else:
        fm = _day(rng, 1992, 2024)
    fm_raw = _fmt_date(_date_kind(rng), fm, rng)
    common = dict(
        matricula=matricula, nit=nit, numero_identificacion=ident,
        digito_verificacion=str(i % 10), razon_social=razon,
        primer_nombre=None if juridica else "MARIA",
        segundo_nombre=None, primer_apellido=None if juridica else "GOMEZ",
        segundo_apellido=None, sigla=None if u() < 0.7 else f"E{i}",
        tipo_sociedad=soc[0], codigo_tipo_sociedad=soc[1],
        organizacion_juridica="SOCIEDAD COMERCIAL" if juridica else "PERSONA NATURAL",
        codigo_organizacion_juridica="01" if juridica else "02",
        categoria_matricula="SOCIEDAD O PERSONA JURIDICA PRINCIPAL O ESAL"
        if juridica else "PERSONA NATURAL",
        codigo_categoria_matricula="01" if juridica else "02",
        cod_ciiu_act_econ_pri=ciiu_pri,
        cod_ciiu_act_econ_sec=ciiu[int(rng.integers(0, len(ciiu)))] if u() < 0.3 else None,
        camara_comercio=camara, codigo_camara=codigo_camara, fecha_matricula=fm_raw,
    )
    r = u()
    n_versions = 3 if r < SHARES["three_versions"] else (
        2 if r < SHARES["three_versions"] + SHARES["two_versions"] else 1)
    last = _day(rng, 2023, 2025)
    versions = []
    for v in range(n_versions):
        upd = last - dt.timedelta(days=45 * v + int(rng.integers(1, 40)) * (v > 0))
        estado, codigo_estado = ESTADOS[int(rng.choice(4, p=ESTADO_P))]
        if u() < SHARES["estado_mixed_case"]:
            estado = _mixed_case(estado, rng)
        ren = _day(rng, 2015, upd.year)
        r = u()
        if n_versions == 1 and r < SHARES["actualizacion_garbage"]:
            upd_raw = _fmt_date("garbage", upd, rng)
        elif n_versions == 1 and r < SHARES["actualizacion_garbage"] + SHARES["actualizacion_compact"]:
            upd_raw = _fmt_date("compact", upd, rng)
        else:
            upd_raw = _fmt_date("ts9", upd, rng)
        row_clase = clase
        if clase is not None and u() < SHARES["clase_mixed_case"]:
            row_clase = _mixed_case(clase, rng)
        versions.append(dict(
            common,
            clase_identificacion=row_clase,
            estado_matricula=estado, codigo_estado_matricula=codigo_estado,
            fecha_renovacion=_fmt_date(_date_kind(rng), ren, rng),
            fecha_vigencia=_fmt_date(_date_kind(rng), ren.replace(year=ren.year + 1)
                                     if not (ren.month == 2 and ren.day == 29)
                                     else ren + dt.timedelta(days=365), rng),
            fecha_cancelacion=_fmt_date(_date_kind(rng), upd, rng)
            if estado.strip().upper() == "CANCELADA" else None,
            fecha_actualizacion=upd_raw,
            ultimo_ano_renovado=None if u() < 0.02 else str(ren.year),
        ))
    return versions


def _silver_row(raw: dict, catalog_codes: dict[str, str]) -> dict:
    """RN-001/003/008/009/005/004 applied to one kept raw row."""
    row = {c: raw.get(c) for c in COLUMNS}
    for c in DATE_COLUMNS:
        row[c] = _parse(row[c])
    row["estado_matricula"] = row["estado_matricula"].strip().upper()
    clase = row["clase_identificacion"]
    row["clase_identificacion"] = clase.strip().upper() if clase is not None else None
    row["codigo_identificacion"] = dict(CLASES).get(row["clase_identificacion"])
    row["tipo_persona"] = 2 if row["clase_identificacion"] == "NIT" else 1
    pri = row["cod_ciiu_act_econ_pri"]
    row["actividad_economica"] = catalog_codes.get(pri.strip()) if pri is not None else None
    fm = row["fecha_matricula"]
    row["antiguedad_empresa"] = REFERENCE_YEAR - fm.year if fm is not None else None
    return row


def _expected(kept: list[dict], n_rows: int) -> dict:
    violations = {f"{c}_null": sum(r[c] is None for r in kept) for c in DATE_COLUMNS}
    violations.update(
        codigo_identificacion_null=sum(r["codigo_identificacion"] is None for r in kept),
        actividad_economica_null=sum(r["actividad_economica"] is None for r in kept),
        antiguedad_negativa=sum((r["antiguedad_empresa"] or 0) < 0 for r in kept),
        llave_unica_invalida=sum(
            r["codigo_camara"] is None or r["matricula"] is None or r["razon_social"] is None
            for r in kept),
        matricula_null=sum(r["matricula"] is None for r in kept),
        codigo_camara_null=sum(r["codigo_camara"] is None for r in kept),
        clase_identificacion_null=sum(r["clase_identificacion"] is None for r in kept),
    )
    joined = [r for r in kept if r["matricula"] is not None]
    q1 = Counter(r["tipo_sociedad"] for r in joined if r["estado_matricula"] == "ACTIVA")
    by_act = defaultdict(list)
    for r in joined:
        if r["estado_matricula"] == "ACTIVA":
            by_act[r["actividad_economica"]].append(r["antiguedad_empresa"])
    q2 = []
    for act, ages in by_act.items():
        vals = [a for a in ages if a is not None]
        if len(ages) > 5:
            q2.append((act, float(sum(vals)) / len(vals) if vals else None, len(ages)))
    q2.sort(key=lambda t: (-(t[1] if t[1] is not None else float("-inf")),
                           t[0] is not None, t[0] or ""))
    by_cam = defaultdict(lambda: [0, 0])
    for r in joined:
        by_cam[r["camara_comercio"]][1] += 1
        by_cam[r["camara_comercio"]][0] += r["estado_matricula"] == "ACTIVA"
    q3 = sorted(
        ((c, a, t, float(a) * 100.0 / t) for c, (a, t) in by_cam.items()),
        key=lambda t: (-t[3], t[0]),
    )[:5]
    q4 = sum(
        1 for r in joined
        if r["estado_matricula"] in ("ACTIVA", "RENOVADA", "CANCELADA")
        and r["antiguedad_empresa"] is not None
        and r["ultimo_ano_renovado"] is not None
        and r["tipo_sociedad"] is not None
        and r["actividad_economica"] is not None
    )
    golden = next(r for r in kept if r["matricula"] == GOLDEN)
    return {
        "raw_rows": n_rows,
        "dim_rows": len(kept),
        "fact_rows": len(kept),
        "orphan_matriculas": int(len(joined) < len(kept)),
        "violations": violations,
        "q1": sorted(q1.items()),
        "q2": q2[:5],
        "q3": q3,
        "q4_rows": q4,
        "golden": {
            "codigo_identificacion": int(golden["codigo_identificacion"]),
            "tipo_persona": golden["tipo_persona"],
            "antiguedad_empresa": golden["antiguedad_empresa"],
            "estado_matricula": golden["estado_matricula"],
            "fecha_matricula": str(golden["fecha_matricula"]),
            "fecha_renovacion": str(golden["fecha_renovacion"]),
            "fecha_actualizacion": str(golden["fecha_actualizacion"]),
        },
    }


def generate(seed: int, n_companies: int) -> tuple[list[list], list[tuple[str, str]], dict]:
    """(raw rows in file order, CIIU catalog, expected pipeline values)."""
    rng = np.random.default_rng(seed)
    catalog = ciiu_catalog(rng)
    codes = [c for c, _ in catalog]
    companies = [_golden_versions()] + [_company(i, rng, codes) for i in range(n_companies)]
    rows = [[v.get(c) for c in COLUMNS] for versions in companies for v in versions]
    order = rng.permutation(len(rows))
    rows = [rows[j] for j in order]
    catalog_codes = dict(catalog)
    kept = [_silver_row(versions[0], catalog_codes) for versions in companies]
    return rows, catalog, _expected(kept, len(rows))


def write_inputs(out_dir: str, seed: int, n_companies: int) -> dict:
    """Raw CSV + catalogs under ``out_dir``; returns paths and expectations."""
    rows, catalog, expected = generate(seed, n_companies)
    os.makedirs(out_dir, exist_ok=True)
    raw = os.path.join(out_dir, "rues_empresas.csv")
    with open(raw, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_MINIMAL)
        w.writerow(RAW_HEADERS)
        w.writerows(rows)
    cat_dir = os.path.join(out_dir, "catalogs")
    os.makedirs(cat_dir, exist_ok=True)
    with open(os.path.join(cat_dir, "catalogo_clases_identificaciones.csv"), "w",
              newline="", encoding="utf-8") as fh:
        w = csv.writer(fh)
        w.writerow(["clase_identificacion", "codigo"])
        w.writerows(CLASES)
    with open(os.path.join(cat_dir, "catalogo_codigos_ciuu.csv"), "w",
              newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, quoting=csv.QUOTE_ALL)
        w.writerow(["codigo", "actividad"])
        w.writerows(catalog)
    return {"raw_csv": raw, "catalogs": cat_dir, "expected": expected}
