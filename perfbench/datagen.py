"""Seeded input generators for the benchmark.

Everything the program sees is produced here from ``--seed``:

- :func:`write_datatran` — raw per-year PRF accident files (``ocorrencia`` +
  ``causas``) in the raw dialect (``;``, latin1, empty string = null), with
  every dirty-data injection of ``etl/fixtures.py`` at the rates in
  :data:`DIRTY_RATES`, and the counts a correct pipeline must produce.
- :func:`write_star` — a 5-dimension star with the pipeline's output schema,
  drawn from the same accident model, for the analyst query mix.
- :func:`write_catalog` — the TPC-H-ish catalog tables (plus ``events``,
  ``documents`` and ``embeddings``) that the registry queries read.

The same seed gives byte-identical files; only ``random.Random(seed)`` and a
seeded NumPy generator are used.
"""

from __future__ import annotations

import csv
import datetime as dt
import os
import random

# Injection → rate per accident (or per vehicle row for causas columns).
# The numbers follow the fixture's list (etl/fixtures.py docstring):
DIRTY_RATES = {
    "null_text": 0.01,         # 1: nulls in every imputable text column
    "null_numeric": 0.02,      # 1: br / km / ano_fabricacao nulls
    "out_of_domain": 0.005,    # 2: per domain-validated column
    "mortos_gt_pessoas": 0.005,  # 3
    "feridos_gt_pessoas": 0.005,  # 3
    "pessoas_zero": 0.01,      # 4
    "veiculos_zero": 0.01,     # 4
    "ano_zero": 0.02,          # 4: ano_fabricacao 0 marker
    "dirty_tracado": 0.02,     # 5: 'Acli' / padded labels
    "marca_import": 0.10,      # 6: 'I/…' import form
    "marca_null": 0.02,        # 6
    "fase_dia_wrong": 0.05,    # 7: recomputed from horario by the pipeline
    "hour_boundary": 0.03,     # 12: horario exactly on 5/7/12/18/23 h
    "location_reuse": 0.03,    # same spot as an earlier accident (dim_local)
}
# 8 (decimal-comma lat/lon) holds for every row, 9 (duplicate causas ids)
# for every accident with 2–3 vehicles, 10 (several years) by construction,
# 11 (holidays + weekends) because dates cover whole years.

YEARS_5 = (2019, 2020, 2021, 2022, 2023)

OCORRENCIA_COLS = (
    "id", "data_inversa", "dia_semana", "horario", "uf", "br", "km",
    "municipio", "causa_acidente", "tipo_acidente", "classificacao_acidente",
    "fase_dia", "sentido_via", "condicao_metereologica", "tipo_pista",
    "tracado_via", "uso_solo", "pessoas", "mortos", "feridos_leves",
    "feridos_graves", "ilesos", "ignorados", "feridos", "veiculos",
    "latitude", "longitude", "regional", "delegacia", "uop",
)
CAUSAS_COLS = ("id", "tipo_veiculo", "marca", "ano_fabricacao_veiculo")

_UFS = (
    "AC", "AL", "AP", "AM", "BA", "CE", "DF", "ES", "GO", "MA", "MT", "MS",
    "MG", "PA", "PB", "PR", "PE", "PI", "RJ", "RN", "RS", "RO", "RR", "SC",
    "SP", "SE", "TO",
)
_DIAS = ("segunda-feira", "terça-feira", "quarta-feira", "quinta-feira",
         "sexta-feira", "sábado", "domingo")  # by date.weekday()
_MESES = ("Janeiro", "Fevereiro", "Março", "Abril", "Maio", "Junho", "Julho",
          "Agosto", "Setembro", "Outubro", "Novembro", "Dezembro")
_BOUNDARY_TIMES = ("04:59:59", "05:00:00", "06:59:59", "07:00:00", "11:59:59",
                   "12:00:00", "17:59:59", "18:00:00", "23:00:00")
_CONDICOES = ("Céu Claro", "Nublado", "Chuva", "Sol", "Garoa/Chuvisco",
              "Nevoeiro/Neblina", "Vento", "Ignorado", "Granizo", "Neve")
_CONDICAO_WEIGHTS = (50, 18, 12, 10, 4, 3, 1.5, 1, 0.3, 0.2)
_TRACADO_LABELS = ("Reta", "Curva", "Aclive", "Declive", "Em Obras", "Viaduto",
                   "Ponte", "Rotatória", "Interseção de Vias",
                   "Desvio Temporário", "Retorno Regulamentado", "Túnel")
_TRACADO_WEIGHTS = (50, 20, 8, 8, 2, 2, 2, 2, 3, 1, 1, 1)
_DIRTY_TRACADO = ("Acli", "Aclive    ", " Curva", "Reta;;Curva")
_TIPOS_VEICULO = ("Automóvel", "Motocicleta", "Caminhão", "Camioneta",
                  "Ônibus", "Utilitário", "Bicicleta", "Caminhonete",
                  "Semireboque", "Motoneta")
_MAKES = {
    "VW": ("GOL 1.0", "FOX", "POLO", "SAVEIRO"),
    "FIAT": ("UNO MILLE", "PALIO", "STRADA", "SIENA"),
    "GM": ("CELTA", "ONIX", "CORSA", "S10"),
    "FORD": ("KA", "FIESTA", "RANGER"),
    "HONDA": ("CG 150", "CIVIC LX", "BIZ 125"),
    "TOYOTA": ("COROLLA XEI", "HILUX", "ETIOS"),
    "SCANIA": ("R 440", "P 360"),
    "MBENZ": ("ATEGO 2426", "ACCELO 815"),
}
_CAUSAS = tuple(f"Causa {k:02d}" for k in range(25))
# Zipf-like skew: the top cause is ~20 % of accidents, as in PRF data.
_CAUSA_WEIGHTS = tuple(1.0 / (k + 1) for k in range(25))
_TIPOS_ACIDENTE = tuple(f"Tipo {k:02d}" for k in range(16))
_N_MUNICIPIOS = 400
_DELEGACIAS = tuple(f"DEL{k:02d}" for k in range(30))
_BRS = (101.0, 116.0, 381.0, 40.0, 153.0, 364.0, 163.0, 70.0, 262.0, 230.0,
        20.0, 222.0, 50.0, 60.0, 282.0, 470.0, 277.0, 290.0, 376.0, 158.0)


def _maybe(rng: random.Random, rate: float, value, alt=None):
    return alt if rng.random() < rate else value


def _fase_dia(hour: int) -> str:
    if 5 <= hour < 7:
        return "Amanhecer"
    if 7 <= hour < 18:
        return "Pleno dia"
    if 18 <= hour < 23:
        return "Anoitecer"
    return "Plena Noite"


class _AccidentModel:
    """Draws accidents and their vehicles; shared by the raw writer and the
    star writer so both see the same distributions for one seed."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.spots: list[tuple] = []
        self.coords: set[tuple[str, str]] = set()

    def _coord(self) -> tuple[str, str]:
        rng = self.rng
        while True:
            lat = f"-{rng.randint(3, 31)},{rng.randint(0, 999999):06d}"
            lon = f"-{rng.randint(35, 60)},{rng.randint(0, 999999):06d}"
            if (lat, lon) not in self.coords:
                self.coords.add((lat, lon))
                return lat, lon

    def accident(self, year: int, acc_id: int) -> tuple[dict, list[dict]]:
        rng = self.rng
        r = DIRTY_RATES
        day = dt.date(year, 1, 1) + dt.timedelta(days=rng.randrange(365))
        if rng.random() < r["hour_boundary"]:
            horario = rng.choice(_BOUNDARY_TIMES)
        else:
            horario = f"{rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
        hour = int(horario[:2])
        if self.spots and rng.random() < r["location_reuse"]:
            uf, municipio, delegacia, lat, lon, src_day = rng.choice(self.spots)
            if src_day == day:  # keep the fact grain unique: other day
                day = day + dt.timedelta(days=1 if day.month < 12 or day.day < 31 else -1)
        else:
            uf = _maybe(rng, r["null_text"], rng.choice(_UFS))
            uf = _maybe(rng, r["out_of_domain"], uf, "XX")
            municipio = _maybe(rng, r["null_text"], f"MUNICIPIO {rng.randrange(_N_MUNICIPIOS):03d}")
            delegacia = _maybe(rng, r["null_text"], rng.choice(_DELEGACIAS))
            lat, lon = self._coord()
        self.spots.append((uf, municipio, delegacia, lat, lon, day))

        pessoas = rng.randint(1, 6)
        mortos = rng.choice((1, 1, 2)) if rng.random() < 0.05 else 0
        mortos = min(mortos, pessoas)
        feridos = rng.randint(0, pessoas - mortos)
        n_veh = rng.choices((1, 2, 3), (55, 35, 10))[0]
        veiculos = n_veh
        if rng.random() < r["mortos_gt_pessoas"]:
            mortos = pessoas + rng.randint(1, 3)
        if rng.random() < r["feridos_gt_pessoas"]:
            feridos = pessoas + rng.randint(1, 3)
        if rng.random() < r["pessoas_zero"]:
            pessoas, mortos, feridos = 0, 0, 0
        if rng.random() < r["veiculos_zero"]:
            veiculos = 0
        if mortos > 0:
            classif = "Com Vítimas Fatais"
        elif feridos > 0:
            classif = "Com Vítimas Feridas"
        else:
            classif = "Sem Vítimas"
        n_labels = rng.choices((1, 2, 3), (70, 25, 5))[0]
        tracado = ";".join(sorted(set(rng.choices(_TRACADO_LABELS, _TRACADO_WEIGHTS, k=n_labels))))
        if rng.random() < r["dirty_tracado"]:
            tracado = rng.choice(_DIRTY_TRACADO)
        fase = _fase_dia(hour)
        if rng.random() < r["fase_dia_wrong"]:
            fase = rng.choice(("Pleno dia", "Plena Noite", "Anoitecer"))
        leves = rng.randint(0, max(feridos, 0))
        ooc = r["out_of_domain"]
        nt = r["null_text"]
        row = {
            "id": acc_id,
            "data_inversa": day.isoformat(),
            "dia_semana": _maybe(rng, ooc, _DIAS[day.weekday()], "Segunda"),
            "horario": horario,
            "uf": uf,
            "br": _maybe(rng, r["null_numeric"], rng.choice(_BRS)),
            "km": _maybe(rng, r["null_numeric"], f"{rng.randint(0, 800)},{rng.randint(0, 9)}"),
            "municipio": municipio,
            "causa_acidente": _maybe(rng, nt, rng.choices(_CAUSAS, _CAUSA_WEIGHTS)[0]),
            "tipo_acidente": _maybe(rng, nt, rng.choice(_TIPOS_ACIDENTE)),
            "classificacao_acidente": _maybe(rng, nt, _maybe(rng, ooc, classif, "Ignorado")),
            "fase_dia": fase,
            "sentido_via": _maybe(rng, nt, _maybe(rng, ooc, rng.choice(("Crescente", "Decrescente", "Não Informado")), "Ambos")),
            "condicao_metereologica": _maybe(rng, nt, _maybe(rng, ooc, rng.choices(_CONDICOES, _CONDICAO_WEIGHTS)[0], "Chuvisco")),
            "tipo_pista": _maybe(rng, nt, _maybe(rng, ooc, rng.choice(("Dupla", "Simples", "Múltipla")), "Tripla")),
            "tracado_via": _maybe(rng, nt, tracado),
            "uso_solo": _maybe(rng, nt, _maybe(rng, ooc, rng.choice(("Sim", "Não")), "Talvez")),
            "pessoas": pessoas,
            "mortos": mortos,
            "feridos_leves": leves,
            "feridos_graves": max(feridos - leves, 0),
            "ilesos": max(pessoas - feridos - mortos, 0),
            "ignorados": 0,
            "feridos": feridos,
            "veiculos": veiculos,
            "latitude": lat,
            "longitude": lon,
            "regional": f"SPRF-{uf or 'NA'}",
            "delegacia": delegacia,
            "uop": f"UOP{rng.randrange(10):02d}",
        }
        vehicles = []
        for _ in range(n_veh):
            make = rng.choice(tuple(_MAKES))
            model = rng.choice(_MAKES[make])
            marca = f"{make}/{model}"
            if rng.random() < r["marca_import"]:
                marca = f"I/{make} {model}"
            ano = rng.randint(1985, 2023)
            if rng.random() < r["ano_zero"]:
                ano = 0
            vehicles.append({
                "id": acc_id,
                "tipo_veiculo": _maybe(rng, nt * 2, rng.choice(_TIPOS_VEICULO)),
                "marca": _maybe(rng, r["marca_null"], marca),
                "ano_fabricacao_veiculo": _maybe(rng, r["null_numeric"], ano),
            })
        return row, vehicles


def _write_raw(path: str, cols: tuple[str, ...], rows: list[dict]) -> None:
    with open(path, "w", encoding="latin1", newline="") as fh:
        w = csv.writer(fh, delimiter=";")
        w.writerow(cols)
        for r in rows:
            w.writerow(["" if r[c] is None else r[c] for c in cols])


def write_datatran(
    dest_dir: str, seed: int, per_year: int, years: tuple[int, ...] = YEARS_5
) -> dict:
    """Write ``datatran{Y}.csv`` + ``causas{Y}.csv`` per year.

    Returns a manifest: ``files`` ({year: {'ocorrencia', 'causas'}} — the
    ``run_pipeline`` argument), ``raw_rows``, ``csv_bytes`` and
    ``expected`` — the fact and ``dim_local`` row counts a correct
    pipeline produces (filters F1/F2 drop ``mortos``/``feridos`` >
    ``pessoas``; every surviving accident is one fact grain, because
    coordinates are unique apart from reused spots, which get another day).
    """
    os.makedirs(dest_dir, exist_ok=True)
    model = _AccidentModel(seed)
    files: dict[int, dict[str, str]] = {}
    raw_rows = csv_bytes = survivors = 0
    locations: set[tuple] = set()
    for year in years:
        occ, veh = [], []
        for i in range(per_year):
            row, vehicles = model.accident(year, year * 1_000_000 + i)
            occ.append(row)
            veh.extend(vehicles)
            if row["mortos"] <= row["pessoas"] and row["feridos"] <= row["pessoas"]:
                survivors += 1
                uf = row["uf"] if row["uf"] in _UFS else None
                locations.add((uf, row["municipio"], row["delegacia"],
                               row["latitude"], row["longitude"]))
        opath = os.path.join(dest_dir, f"datatran{year}.csv")
        cpath = os.path.join(dest_dir, f"causas{year}.csv")
        _write_raw(opath, OCORRENCIA_COLS, occ)
        _write_raw(cpath, CAUSAS_COLS, veh)
        files[year] = {"ocorrencia": opath, "causas": cpath}
        raw_rows += len(occ) + len(veh)
        csv_bytes += os.path.getsize(opath) + os.path.getsize(cpath)
    return {
        "files": files,
        "raw_rows": raw_rows,
        "csv_bytes": csv_bytes,
        "expected": {"fato_acidentes": survivors, "dim_local": len(locations)},
    }


# --- the star, drawn directly (analyst workload input) ------------------------

_HOLIDAYS = {(1, 1), (4, 21), (5, 1), (9, 7), (10, 12), (11, 2), (11, 15), (12, 25)}
_TRACADO_COLS = ("reta", "curva", "aclive", "declive", "em_obras", "viaduto",
                 "ponte", "rotatoria", "intersecao_vias", "desvio_temporario",
                 "retorno_regulamentado", "tunel")
NOT_INFORMED = "não informado"


def _star_fase(hour: int) -> str:
    if hour < 5:
        return "Madrugada"
    if hour < 7:
        return "Amanhecer"
    if hour < 12:
        return "Dia"
    if hour < 18:
        return "Tarde"
    return "Noite"


def _dim(rows: list[tuple], names: tuple[str, ...], id_col: str) -> tuple[dict, dict]:
    """Distinct natural keys → contiguous ids in key order (the pipeline's
    surrogate-key contract).  Returns (columns, key→id)."""
    keys = sorted(set(rows), key=lambda k: tuple((v is None, v) for v in k))
    ids = {k: i + 1 for i, k in enumerate(keys)}
    cols = {n: [k[j] for k in keys] for j, n in enumerate(names)}
    cols[id_col] = list(range(1, len(keys) + 1))
    return cols, ids


def write_star(dest_dir: str, seed: int, per_year: int,
               years: tuple[int, ...] = YEARS_5) -> dict:
    """Write the 5 dimensions + fact as parquet under ``dest_dir/<table>``.

    Values are a cleaned form of the raw model's accidents (nulls →
    'não informado' / -1, fixed stand-ins for 0-markers, constraint
    violators dropped, first vehicle per accident), so cardinalities are
    those of the pipeline's output for the same size: ``dim_local`` and
    ``dim_rodovia`` near fact cardinality, skewed ``causa_acidente``.
    Returns {table: row count}.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    model = _AccidentModel(seed)
    facts = []
    for year in years:
        for i in range(per_year):
            row, vehicles = model.accident(year, year * 1_000_000 + i)
            if row["mortos"] > row["pessoas"] or row["feridos"] > row["pessoas"]:
                continue
            facts.append((row, vehicles[0]))

    def txt(v):
        return NOT_INFORMED if v is None else v

    tempo, rodovia, local, descr, veic, measures = [], [], [], [], [], []
    for row, veh in facts:
        day = dt.date.fromisoformat(row["data_inversa"])
        hour = int(row["horario"][:2])
        tempo.append((hour, day.day, _MESES[day.month - 1], day.year,
                      (day.month - 1) // 3 + 1, _star_fase(hour),
                      _DIAS[day.weekday()], (day.month, day.day) in _HOLIDAYS,
                      day.weekday() < 5))
        labels = set((row["tracado_via"] or "").split(";"))
        flags = tuple(lbl in labels for lbl in _TRACADO_LABELS)
        rodovia.append((-1.0 if row["br"] is None else row["br"],
                        "-1" if row["km"] is None else row["km"],
                        txt(row["sentido_via"]),
                        {"Sim": "Urbano", "Não": "Rural"}.get(row["uso_solo"], NOT_INFORMED),
                        txt(row["tipo_pista"]), *flags))
        lat = row["latitude"].replace(",", ".")
        lon = row["longitude"].replace(",", ".")
        local.append((row["uf"] if row["uf"] in _UFS else NOT_INFORMED,
                      txt(row["municipio"]), txt(row["delegacia"]), f"{lat},{lon}"))
        descr.append((txt(row["causa_acidente"]), txt(row["tipo_acidente"]),
                      txt(row["classificacao_acidente"]),
                      txt(row["condicao_metereologica"])))
        marca = veh["marca"] or NOT_INFORMED
        if marca.startswith("I/"):
            make, _, model_name = marca[2:].partition(" ")
        else:
            make, _, model_name = marca.partition("/")
        ano = veh["ano_fabricacao_veiculo"] or 2005
        veic.append((txt(veh["tipo_veiculo"]), make, model_name or NOT_INFORMED, float(ano)))
        measures.append((row["pessoas"] or 3, row["veiculos"] or 1,
                         row["feridos"], row["mortos"]))

    specs = {
        "dim_tempo": (tempo, ("hora", "dia", "mes", "ano", "trimestre", "fase_dia",
                              "dia_semana", "feriado", "dia_util"), "id_tempo"),
        "dim_rodovia": (rodovia, ("rodovia", "posicao_rodovia", "sentido_via",
                                  "uso_solo", "tipo_pista", *_TRACADO_COLS), "id_rodovia"),
        "dim_local": (local, ("uf", "municipio", "delegacia", "lat_log"), "id_local"),
        "dim_descritivo": (descr, ("causa_acidente", "tipo_acidente",
                                   "classificacao_acidente",
                                   "condicao_metereologica"), "id_descritivo"),
        "dim_veiculo": (veic, ("tipo_veiculo", "marca", "modelo",
                               "ano_fabricacao_veiculo"), "id_veiculo"),
    }
    counts = {}
    fk_cols = {}
    int32 = pa.int32()
    for table, (rows, names, id_col) in specs.items():
        cols, ids = _dim(rows, names, id_col)
        fk_cols[id_col] = [ids[k] for k in rows]
        arrays = {n: pa.array(v) for n, v in cols.items()}
        arrays[id_col] = pa.array(cols[id_col], int32)
        for n in ("hora", "dia", "ano", "trimestre"):
            if n in arrays:
                arrays[n] = pa.array(cols[n], int32)
        pq.write_table(pa.table(arrays), _table_file(dest_dir, table))
        counts[table] = len(cols[id_col])
    fact = {k: pa.array(v, int32) for k, v in fk_cols.items()}
    for j, n in enumerate(("pessoas_envolvidas", "veiculos_envolvidos", "feridos", "obitos")):
        fact[n] = pa.array([m[j] for m in measures], int32)
    pq.write_table(pa.table(fact), _table_file(dest_dir, "fato_acidentes"))
    counts["fato_acidentes"] = len(measures)
    return counts


def _table_file(dest_dir: str, table: str) -> str:
    path = os.path.join(dest_dir, table)
    os.makedirs(path, exist_ok=True)
    return os.path.join(path, "part-0.parquet")


# --- TPC-H-ish catalog (registry queries) --------------------------------------

_COLORS = ("blue", "old", "small", "new", "red", "hot", "large", "cold")
_NOUNS = ("widget", "gizmo", "bolt", "plate", "anvil", "rod", "ring", "gear")
_PTYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
_SEGMENTS = ("MACHINERY", "AUTOMOBILE", "FURNITURE", "BUILDING", "HOUSEHOLD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")
_WORDS = ("row the query stream fast spark line small customer group key agg "
          "scan slow table part a merge window order column join vector value "
          "hash batch sort data big filter dup").split()


def write_catalog(dest_dir: str, seed: int, sf: float) -> dict:
    """Write the ten catalog tables as ``<table>.parquet`` (the layout
    ``catalog.table_path`` reads).  Row counts follow TPC-H ratios at
    scale ``sf`` (lineitem ≈ 6M·sf).  Returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dest_dir, exist_ok=True)
    g = np.random.default_rng(seed)
    rng = random.Random(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 50)
    n_ord = max(int(1_500_000 * sf), 100)
    n_ev = max(int(1_000_000 * sf), 100)
    n_doc = max(int(50_000 * sf), 50)
    n_emb = max(int(50_000 * sf), 50)
    day0 = np.datetime64("1995-01-01")

    def money(lo, hi, n):
        return np.round(g.uniform(lo, hi, n), 2)

    def pick(values, n):
        return pa.array(np.asarray(values, dtype=object)[g.integers(0, len(values), n)].tolist())

    tables: dict[str, pa.Table] = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
            "c_nationkey": g.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": pick(_SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
            "s_nationkey": g.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }),
        "part": pa.table({
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_COLORS[a]} {_NOUNS[b]}" for a, b in
                       zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
            "p_brand": pick([f"Brand#{k}" for k in range(1, 26)], n_part),
            "p_type": pick(_PTYPES, n_part),
            "p_size": g.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
        }),
    }
    odate = day0 + g.integers(0, 2404, n_ord).astype("timedelta64[D]")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": pick(("F", "O", "P"), n_ord),
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": pick(_PRIORITIES, n_ord),
    })
    lines = g.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    n_li = len(l_ord)
    l_num = (np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = g.integers(1, 51, n_li).astype(np.float64)
    ship = np.repeat(odate, lines) + g.integers(1, 122, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": g.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": l_num,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * g.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": np.round(g.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(g.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": pick(("A", "N", "R"), n_li),
        "l_linestatus": pick(("F", "O"), n_li),
        "l_shipdate": ship.astype("datetime64[us]"),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        g.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": g.integers(0, max(n_ev // 66, 10), n_ev, dtype=np.int64),
        "event_type": pick(_EVENT_TYPES, n_ev),
        "value": np.round(g.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 110)))
             for _ in range(n_doc)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": [rng.choice(_LANGS) for _ in range(n_doc)],
        "source": [f"src{rng.randrange(20)}" for _ in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = g.normal(0.0, 0.12, (n_emb, 64)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": g.integers(0, 10, n_emb, dtype=np.int32),
    })
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dest_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in tables.items()}
