"""The referential-integrity audit (operators/dq.py::dq_fk_orphans): a
clean fixture, injected orphans, and an empty child table checked against
its DuckDB oracle.
"""

from .conftest import SF_SMOKE


def test_fk_orphans_clean_fixture(spark):
    """The generated fixture is referentially intact: every audited
    relationship reports zero orphans, and child counts match the tables."""
    from mysql_cdc_debezium_starrocks_spark.catalog import load
    from mysql_cdc_debezium_starrocks_spark.operators.dq import (
        _FK_RELS,
        dq_fk_orphans,
    )

    rows = {r.rel: r for r in dq_fk_orphans(spark, SF_SMOKE).collect()}
    assert set(rows) == {rel for rel, *_ in _FK_RELS}
    for rel, child_t, _fk, _pt, _pk in _FK_RELS:
        r = rows[rel]
        assert r.n_orphan == 0 and r.orphan_ppm == 0 and r.n_orphan_keys == 0
        assert r.n_child == load(spark, SF_SMOKE, child_t).count()


def test_fk_orphans_detects_injected_orphans(spark, tmp_path):
    """Audit a corrupted copy: dropping parents MUST surface as orphans —
    the audit is the detection path for exactly this CDC failure mode."""
    from mysql_cdc_debezium_starrocks_spark.catalog import TABLES, load
    from mysql_cdc_debezium_starrocks_spark.operators.dq import dq_fk_orphans

    bad = str(tmp_path / "bad_sf")
    for t in TABLES:
        df = load(spark, SF_SMOKE, t)
        if t == "customer":  # delete half the parents
            df = df.filter("c_custkey % 2 = 0")
        df.write.mode("overwrite").parquet(f"{bad}/{t}.parquet")

    rows = {r.rel: r for r in dq_fk_orphans(spark, bad).collect()}
    r = rows["orders.o_custkey->customer.c_custkey"]
    orders = load(spark, SF_SMOKE, "orders")
    expect = orders.filter("o_custkey % 2 = 1").count()
    assert r.n_orphan == expect > 0
    assert r.orphan_ppm == (expect * 1_000_000) // r.n_child


def test_fk_orphans_empty_child_matches_oracle(spark, tmp_path):
    """An empty child table still reports its relationship: zero counts
    and a NULL orphan_ppm, on the engine and on its DuckDB oracle alike
    (and every lineitem row is then an orphan of orders)."""
    import shutil

    import duckdb

    from mysql_cdc_debezium_starrocks_spark.operators.dq import (
        ORACLE,
        dq_fk_orphans,
    )
    from tools.parity import TABLES, df_to_multiset

    con = duckdb.connect()
    for t in TABLES:
        if t == "orders":
            con.execute(
                f"COPY (SELECT * FROM read_parquet('{SF_SMOKE}/orders.parquet')"
                f" LIMIT 0) TO '{tmp_path}/orders.parquet' (FORMAT PARQUET)"
            )
        else:
            shutil.copy(f"{SF_SMOKE}/{t}.parquet", tmp_path)
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{tmp_path}/{t}.parquet')"
        )

    sdf = dq_fk_orphans(spark, str(tmp_path))
    cur = con.execute(ORACLE["dq_fk_orphans"])
    dcols = [d[0] for d in cur.description]
    drows = cur.fetchall()
    srows = [tuple(r) for r in sdf.collect()]
    assert df_to_multiset(sdf.columns, srows) == df_to_multiset(dcols, drows)

    rows = {r.rel: r for r in sdf.collect()}
    empty = rows["orders.o_custkey->customer.c_custkey"]
    assert (empty.n_child, empty.n_null_fk, empty.n_orphan,
            empty.n_orphan_keys, empty.orphan_ppm) == (0, 0, 0, 0, None)
    li = rows["lineitem.l_orderkey->orders.o_orderkey"]
    assert li.n_child > 0 and li.n_orphan == li.n_child
    assert li.orphan_ppm == 1_000_000
