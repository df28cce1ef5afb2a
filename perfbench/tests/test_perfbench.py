"""Tests of the benchmark's own parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import counters, datagen, etl, queries, tracing  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from processo_etl_spark import session

    return session.get_spark(app_name="perfbench-tests", cpus=2, shuffle_partitions=2)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


@pytest.mark.parametrize("write", [
    lambda d, s: datagen.write_datatran(d, s, 200, (2021, 2022)),
    lambda d, s: datagen.write_star(d, s, 200, (2021, 2022)),
    lambda d, s: datagen.write_catalog(d, s, 0.001),
])
def test_generators_deterministic_per_seed(tmp_path, write):
    write(str(tmp_path / "a"), 7)
    write(str(tmp_path / "b"), 7)
    write(str(tmp_path / "c"), 8)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_datatran_manifest_and_injections(tmp_path):
    m = datagen.write_datatran(str(tmp_path), 3, 3000, (2022,))
    occ = (tmp_path / "datatran2022.csv").read_text(encoding="latin1")
    cau = (tmp_path / "causas2022.csv").read_text(encoding="latin1")
    assert m["raw_rows"] == occ.count("\n") - 1 + cau.count("\n") - 1
    assert m["csv_bytes"] == os.path.getsize(tmp_path / "datatran2022.csv") + \
        os.path.getsize(tmp_path / "causas2022.csv")
    # Constraint violators are dropped from the expected fact; reused spots
    # keep dim_local below fact cardinality but near it.
    assert m["expected"]["fato_acidentes"] < 3000
    assert 0.9 * m["expected"]["fato_acidentes"] < m["expected"]["dim_local"] \
        < m["expected"]["fato_acidentes"]
    for marker in (";XX;", "I/", "Acli", "Segunda", "Chuvisco", "04:59:59", ";;"):
        assert marker in occ or marker in cau, marker


def test_self_time_subtracts_children():
    S = tracing.Span
    spans = [S(0, "root", 0.0, 10.0, None, "r"),
             S(1, "a", 1.0, 4.0, 0, "r"),
             S(2, "a.child", 2.0, 3.0, 1, "r"),
             S(3, "b", 5.0, 9.0, 0, "r")]
    own = tracing.self_times(spans)
    assert own == {0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0}
    assert sum(own.values()) == 10.0  # self times partition the root
    assert tracing.self_time_by_name(spans) == {"root": 3.0, "a": 2.0, "a.child": 1.0, "b": 4.0}


def test_tracer_wrap_records_nesting_and_unwraps():
    import types

    mod = types.SimpleNamespace()
    mod.inner = lambda: 1
    mod.outer = lambda: mod.inner() + 1
    t = tracing.Tracer()
    t.wrap(mod, "inner", "inner")
    t.wrap(mod, "outer", "outer")
    assert mod.outer() == 2
    t.unwrap_all()
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]
    assert mod.outer() == 2 and len(t.spans) == 2


def test_covered_union():
    assert counters.covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert counters.covered([(0, 2)], 1, 10) == 1


def test_counters_one_job(spark):
    c = counters.SparkCounters(spark)
    with c.measure("one") as probe:
        assert spark.sparkContext.parallelize(range(100), 2).count() == 100
    got = c.fill(probe)
    assert (got.jobs, got.stages, got.tasks) == (1, 1, 2)
    assert got.driver_only_s <= probe.wall_s


def test_service_cpu_is_part_of_process_cpu(spark):
    service = counters.service_cpu_seconds(spark)
    assert set(service) == {"jit", "gc"}
    assert service["jit"] > 0  # starting a session compiles
    assert sum(service.values()) <= counters.cpu_seconds(spark)


def test_rows_match():
    assert queries.rows_match([(1, 0.1 + 0.2)], [(1, 0.3)])
    assert not queries.rows_match([(1, 0.31)], [(1, 0.3)])
    assert queries.rows_match([("a", 1), ("b", 2)], [("b", 2), ("a", 1)])
    assert not queries.rows_match([("a", 1)], [("a", 1), ("a", 1)])
    assert queries.rows_match([(2.2225055e-05,)], [(2.2225e-05,)], abs_tol=1e-9)


def test_etl_checks_catch_a_dangling_fk(tmp_path):
    import pyarrow.parquet as pq

    counts = datagen.write_star(str(tmp_path), 5, 100, (2022,))
    expected = {"fato_acidentes": counts["fato_acidentes"], "dim_local": counts["dim_local"]}
    digests, bad = etl.check_outputs(str(tmp_path), expected, None)
    assert not bad
    assert etl.check_outputs(str(tmp_path), expected, digests)[1] == set()
    path = tmp_path / "dim_local" / "part-0.parquet"
    table = pq.read_table(path)
    pq.write_table(table.slice(0, table.num_rows - 1), path)
    assert etl.check_outputs(str(tmp_path), expected, digests)[1] == {"dim_local", "fato_acidentes"}


def test_golden_cross_check(spark, tmp_path):
    """The benchmark's ETL path on the 36-row fixture reproduces the
    etl_star_pipeline golden table."""
    import duckdb

    from processo_etl_spark.etl import fixtures
    from processo_etl_spark.plans import star as star_plans

    files = fixtures.write_fixture(str(tmp_path / "raw"))
    out = str(tmp_path / "star")
    etl.run_pass(spark, files, out, counters.SparkCounters(spark), tracing.Tracer(False))
    digests, bad = etl.check_outputs(out, {}, None)
    assert not bad
    con = duckdb.connect()
    got = con.execute(
        "SELECT id_tempo, id_rodovia, id_local, id_descritivo, id_veiculo, "
        "pessoas_envolvidas, veiculos_envolvidos, feridos, obitos, "
        "ano, mes, fase_dia, feriado, dia_util "
        f"FROM read_parquet('{out}/fato_acidentes/*.parquet') f "
        f"JOIN read_parquet('{out}/dim_tempo/*.parquet') t USING (id_tempo)").fetchall()
    want = con.execute(star_plans._ETL_GOLDEN).fetchall()
    assert sorted(got) == sorted(want)
