"""The read side: the notebook's EDA shapes over the star, and a fixed
subset of the headline registry queries over the TPC-H-ish catalog.

Every query has a DuckDB twin that reads the same parquet files; a query's
output is correct when its rows match the twin's as a multiset (floats to
a relative 1e-9).
"""

from __future__ import annotations

import datetime as dt
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass
from decimal import Decimal

from pyspark.sql import functions as F

STAR_TABLES = ("dim_tempo", "dim_rodovia", "dim_local", "dim_descritivo",
               "dim_veiculo", "fato_acidentes")

# Registry queries copied from bench.py's HEADLINE list.  A subset: the
# 37-query cold pass alone outlasts one benchmark run.  Chosen to cover
# plans, ml (incl. the Arrow/Python boundary) and operators.graph and
# the headline's largest cost (PageRank); the MinHash and Bloom heads are
# left out because their DuckDB twins alone take seconds per check.
REGISTRY = (
    "graph_pagerank_distributed",
    "q1_pricing_summary",
    "star_fact_assembly",
    "multimodal_png_decode",
)


def _pagerank_plain(spark, sf_dir):
    """bench.py's PageRank override: plain map-side-combinable sum
    (``bit_deterministic=False``) instead of the oracle's sorted fold."""
    from processo_etl_spark.operators import graph
    from processo_etl_spark.plans.events import pagerank_order_graph_edges

    return graph.pagerank_distributed(
        pagerank_order_graph_edges(spark, sf_dir),
        damping=0.85,
        iterations=3,
        bit_deterministic=False,
    )


REGISTRY_OVERRIDES = {"graph_pagerank_distributed": _pagerank_plain}
# The override skips the oracle's ROUND(rank, 9); compare within its half-unit.
ABS_TOL = {"graph_pagerank_distributed": 1e-9}


# --- EDA shapes -----------------------------------------------------------------
# Each variant: (shape, params).  build(star, params) → DataFrame through the
# program's public functions; sql(params) → the DuckDB twin over views named
# like the star tables.


def _eda_build(star: dict, shape: str, p: dict):
    from processo_etl_spark.operators import relational
    from processo_etl_spark.quality import audit

    fact = star["fato_acidentes"]
    if shape == "null_counts":
        return audit.null_counts(star[p["table"]], list(p["cols"]))
    if shape == "value_counts":
        return relational.value_counts(fact.join(star["dim_descritivo"], "id_descritivo"), p["col"])
    if shape == "top_k":
        return relational.top_k(fact.join(star["dim_local"], "id_local"), p["col"], p["k"])
    if shape == "quartiles":
        return audit.quartiles(fact, p["col"])
    if shape == "histogram_auto":
        return audit.histogram_auto(fact, p["col"], 10)
    if shape == "constraint_probe":
        return audit.constraint_probe(fact, p["pred"])
    if shape == "tracado_filter":
        rod = star["dim_rodovia"].filter(p["pred"])
        return (fact.join(F.broadcast(rod), "id_rodovia").groupBy("uso_solo")
                .agg(F.count("*").alias("n"), F.sum("obitos").alias("obitos")))
    if shape == "tempo_groupby":
        return (fact.join(star["dim_tempo"], "id_tempo").groupBy(*p["keys"])
                .agg(F.count("*").alias("n"), F.sum("obitos").alias("obitos"),
                     F.sum("feridos").alias("feridos")))
    if shape == "local_groupby":
        return (fact.join(star["dim_local"], "id_local").groupBy(p["col"])
                .agg(F.count("*").alias("n"), F.sum("obitos").alias("obitos")))
    if shape == "tempo_descritivo":
        return (fact.join(star["dim_tempo"], "id_tempo")
                .join(star["dim_descritivo"], "id_descritivo")
                .groupBy("fase_dia", p["col"]).count())
    raise KeyError(shape)


def _eda_sql(shape: str, p: dict) -> str:
    if shape == "null_counts":
        return "SELECT " + ", ".join(
            f"sum(CAST({c} IS NULL AS BIGINT))" for c in p["cols"]) + f" FROM {p['table']}"
    if shape == "value_counts":
        return (f"SELECT {p['col']}, count(*) FROM fato_acidentes "
                f"JOIN dim_descritivo USING (id_descritivo) GROUP BY 1")
    if shape == "top_k":
        return (f"SELECT {p['col']}, count(*) AS n FROM fato_acidentes "
                f"JOIN dim_local USING (id_local) GROUP BY 1 "
                f"ORDER BY n DESC, 1 ASC LIMIT {p['k']}")
    if shape == "quartiles":
        c = p["col"]
        return (f"SELECT quantile_cont({c}, 0.25)::DOUBLE, quantile_cont({c}, 0.5)::DOUBLE, "
                f"quantile_cont({c}, 0.75)::DOUBLE FROM fato_acidentes")
    if shape == "histogram_auto":
        c = p["col"]
        return (f"WITH b AS (SELECT min({c})::DOUBLE lo, max({c})::DOUBLE hi FROM fato_acidentes) "
                f"SELECT least(CAST(floor(({c} - lo) * 10 / (hi - lo)) AS INTEGER), 9) AS bin, "
                f"count(*) FROM fato_acidentes, b GROUP BY 1")
    if shape == "constraint_probe":
        return f"SELECT * FROM fato_acidentes WHERE {p['pred']}"
    if shape == "tracado_filter":
        return (f"SELECT uso_solo, count(*), sum(obitos) FROM fato_acidentes "
                f"JOIN (SELECT * FROM dim_rodovia WHERE {p['pred']}) USING (id_rodovia) GROUP BY 1")
    if shape == "tempo_groupby":
        keys = ", ".join(p["keys"])
        return (f"SELECT {keys}, count(*), sum(obitos), sum(feridos) FROM fato_acidentes "
                f"JOIN dim_tempo USING (id_tempo) GROUP BY {keys}")
    if shape == "local_groupby":
        return (f"SELECT {p['col']}, count(*), sum(obitos) FROM fato_acidentes "
                f"JOIN dim_local USING (id_local) GROUP BY 1")
    if shape == "tempo_descritivo":
        return (f"SELECT fase_dia, {p['col']}, count(*) FROM fato_acidentes "
                f"JOIN dim_tempo USING (id_tempo) JOIN dim_descritivo USING (id_descritivo) "
                f"GROUP BY 1, 2")
    raise KeyError(shape)


EDA_VARIANTS = (
    ("null_counts", {"table": "fato_acidentes", "cols": (
        "id_descritivo", "id_tempo", "id_rodovia", "id_local", "id_veiculo",
        "pessoas_envolvidas", "veiculos_envolvidos", "feridos", "obitos")}),
    ("value_counts", {"col": "causa_acidente"}),
    ("top_k", {"col": "municipio", "k": 10}),
    ("quartiles", {"col": "pessoas_envolvidas"}),
    ("histogram_auto", {"col": "feridos"}),
    ("constraint_probe", {"pred": "obitos > pessoas_envolvidas"}),
    # The checkpoint's conjunctive filter on dim_rodovia.
    ("tracado_filter", {"pred": "aclive AND curva"}),
    ("tempo_groupby", {"keys": ("ano", "mes")}),
    ("local_groupby", {"col": "uf"}),
    ("tempo_descritivo", {"col": "classificacao_acidente"}),
)

@dataclass
class Op:
    """One query of the mix: ``build`` returns the DataFrame and ``sql`` its
    DuckDB twin.  Every query is forced with ``collect()`` — the analyst
    reads the result — so every execution's output can be checked."""

    kind: str
    name: str
    build: Callable
    sql: str
    abs_tol: float = 0.0


def make_mix(spark, seed: int, star_dir: str, sf_dir: str) -> list[Op]:
    """The fixed query mix for ``seed``: every EDA variant and every
    registry query once, in a seeded order."""
    from processo_etl_spark import plans

    star = {t: spark.read.parquet(os.path.join(star_dir, t)) for t in STAR_TABLES}
    registered = plans.all_queries()
    oracles = plans.all_oracles()
    ops = []
    for shape, p in EDA_VARIANTS:
        ops.append(Op("eda", shape, lambda shape=shape, p=p: _eda_build(star, shape, p),
                      _eda_sql(shape, p)))
    for name in REGISTRY:
        fn = REGISTRY_OVERRIDES.get(name) or registered[name]
        ops.append(Op("registry", name, lambda fn=fn: fn(spark, sf_dir),
                      oracles[name], ABS_TOL.get(name, 0.0)))
    random.Random(seed).shuffle(ops)
    return ops


# --- output checking ------------------------------------------------------------


def _cell(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (dt.datetime, dt.date)):
        return v.isoformat()
    return v


def _sort_key(row):
    return tuple(
        (0, round(v, 6 - int(math.floor(math.log10(abs(v))))) if v else 0.0)
        if isinstance(v, float) and math.isfinite(v) else (1, str(v))
        for v in row
    )


def _canon(rows) -> list[tuple]:
    out = [tuple(_cell(v) for v in r) for r in rows]
    return sorted(out, key=_sort_key)


def rows_match(got, want, abs_tol: float = 0.0) -> bool:
    """Multiset equality; numbers to rel 1e-9 (or ``abs_tol``)."""
    a, b = _canon(got), _canon(want)
    if len(a) != len(b):
        return False
    for ra, rb in zip(a, b):
        if len(ra) != len(rb):
            return False
        for x, y in zip(ra, rb):
            if isinstance(x, (int, float)) and isinstance(y, (int, float)) \
                    and not isinstance(x, bool) and not isinstance(y, bool):
                if not math.isclose(x, y, rel_tol=1e-9, abs_tol=max(abs_tol, 1e-12)):
                    return False
            elif x != y:
                return False
    return True


def duckdb_connection(star_dir: str, sf_dir: str):
    import duckdb

    from processo_etl_spark import catalog

    con = duckdb.connect()
    for t in STAR_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(star_dir, t)}/*.parquet')")
    for t in catalog.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{catalog.table_path(sf_dir, t)}'")
    return con
