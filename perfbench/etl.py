"""The paper's monthly batch: raw per-year CSVs → ``run_pipeline`` → the
5 dimensions and the fact written as parquet, plus its output checks.

The checks read the written parquet with DuckDB, so they add no Spark jobs
to the session being measured.
"""

from __future__ import annotations

import os

DIMS = (("dim_tempo", "id_tempo"), ("dim_rodovia", "id_rodovia"),
        ("dim_local", "id_local"), ("dim_descritivo", "id_descritivo"),
        ("dim_veiculo", "id_veiculo"))
FACT = "fato_acidentes"
TABLES = tuple(t for t, _ in DIMS) + (FACT,)


def run_pass(spark, files: dict, out_dir: str, counters, tracer) -> dict:
    """One batch: build the star (plan + the eager median jobs), then sink
    the dimensions and the fact.  Returns {step: Probe} for the steps
    ``etl.build`` and ``sink.<table>`` (6), in that order."""
    from processo_etl_spark.etl import pipeline
    from processo_etl_spark.sources import readers

    steps = {}
    with counters.measure("etl.build") as steps["etl.build"], tracer.span("etl.build"):
        star = pipeline.run_pipeline(spark, files)
    for table in TABLES:
        group = "sink.fact" if table == FACT else "sink.dims"
        with counters.measure(f"sink.{table}") as steps[f"sink.{table}"], tracer.span(group):
            readers.write_parquet(getattr(star, table), os.path.join(out_dir, table))
    # run_pipeline persists the unioned lanes; a batch process would exit
    # here, so free them before the next pass.
    spark.catalog.clearCache()
    return steps


def _scan(out_dir: str, table: str) -> str:
    return f"read_parquet('{os.path.join(out_dir, table)}/*.parquet')"


def table_digests(con, out_dir: str) -> dict:
    """Per table: rows, id range, distinct ids, and an order-independent
    content hash (sum of per-row hashes)."""
    out = {}
    for table in TABLES:
        id_col = dict(DIMS).get(table, "NULL")
        cols = [r[0] for r in con.execute(f"DESCRIBE SELECT * FROM {_scan(out_dir, table)}").fetchall()]
        row = con.execute(
            f"SELECT count(*), min({id_col}), max({id_col}), count(DISTINCT {id_col}), "
            f"sum(hash({', '.join(cols)}))::VARCHAR FROM {_scan(out_dir, table)}").fetchone()
        out[table] = dict(zip(("rows", "min_id", "max_id", "ids", "hash"), row))
    return out


def fact_violations(con, out_dir: str) -> dict:
    """Counts that must all be 0: null FKs, FKs with no dimension row,
    ``obitos > pessoas`` and ``feridos > pessoas``."""
    joins, aggs = [], []
    for k, (table, id_col) in enumerate(DIMS):
        joins.append(f"LEFT JOIN {_scan(out_dir, table)} d{k} ON f.{id_col} = d{k}.{id_col}")
        aggs += [f"count(*) FILTER (WHERE f.{id_col} IS NULL) AS null_{id_col}",
                 f"count(*) FILTER (WHERE f.{id_col} IS NOT NULL AND d{k}.{id_col} IS NULL) "
                 f"AS orphan_{id_col}"]
    aggs += ["count(*) FILTER (WHERE f.obitos > f.pessoas_envolvidas) AS obitos_gt_pessoas",
             "count(*) FILTER (WHERE f.feridos > f.pessoas_envolvidas) AS feridos_gt_pessoas"]
    cur = con.execute(f"SELECT {', '.join(aggs)} FROM {_scan(out_dir, FACT)} f {' '.join(joins)}")
    names = [d[0] for d in cur.description]
    return dict(zip(names, cur.fetchone()))


def check_outputs(out_dir: str, expected: dict, reference: dict | None) -> tuple[dict, set[str]]:
    """Check one pass's written star.  Returns (digests, failed tables).

    A table fails when its row count differs from the generator's
    prediction (fact, ``dim_local``), its ids are not exactly 1..N (dims),
    its digest differs from the run's first pass (``reference``), or — for
    the fact — any FK is null or dangling or a count constraint fails.
    """
    import duckdb

    con = duckdb.connect()
    try:
        digests = table_digests(con, out_dir)
        violations = fact_violations(con, out_dir)
    finally:
        con.close()
    failed = set()
    for table in TABLES:
        d = digests[table]
        if d["rows"] == 0 or (table in expected and d["rows"] != expected[table]):
            failed.add(table)
        if table != FACT and not (d["min_id"] == 1 and d["max_id"] == d["rows"] == d["ids"]):
            failed.add(table)
        if reference is not None and reference[table] != d:
            failed.add(table)
    if any(violations.values()):
        failed.add(FACT)
    return digests, failed
