"""Output checks against a real table (small scale)."""

import pytest

from perfbench import check
from perfbench.gen import ORDER_COLUMNS, OrderStream
from perfbench.spans import Tracer
from perfbench.workloads import Abort, Loop, Outcome


@pytest.fixture(scope="module")
def orders_table(spark, tmp_path_factory):
    from hoodie_spark import HoodieTable

    g = OrderStream(2, base_rows=3000, delete_every=2, delete_rows=20)
    batches = [g.next_batch() for _ in range(2)]
    tbl = HoodieTable.create(
        spark, str(tmp_path_factory.mktemp("t") / "orders"), "orders",
        ["o_orderkey"], "o_version",
        partition_expr="cast(year(o_orderdate) as string)",
        table_type="MERGE_ON_READ")
    tbl.bulk_insert(check.frame(spark, g.base(), check.ORDERS_SCHEMA))
    for b in batches:
        tbl.upsert(check.frame(spark, b.upserts, check.ORDERS_SCHEMA))
        if b.deletes:
            tbl.delete(check.frame(spark, b.deletes, check.ORDERS_SCHEMA))
    return g, batches, tbl


def _model(g, batches):
    model = check.OrdersModel(g.base())
    for b in batches:
        model.apply_upserts(b.upserts)
        model.apply_deletes(b.deletes)
    return model


def test_final_check_passes_on_the_table(spark, orders_table):
    g, batches, tbl = orders_table
    rows = list(_model(g, batches).rows.values())
    assert check.final_orders(spark, tbl.snapshot(), rows) == []


def test_read_check_matches_model(spark, orders_table):
    g, batches, tbl = orders_table
    model = _model(g, batches)
    assert check.orders_read(tbl.snapshot()) == model.expected_read()


def test_corrupted_expected_checksum_fails_and_counts(spark, orders_table):
    g, batches, tbl = orders_table
    rows = list(_model(g, batches).rows.values())
    exp = check.checksum(check.frame(spark, rows, check.ORDERS_SCHEMA),
                         ORDER_COLUMNS)
    bad = (exp[0], exp[1] + 1)
    out = Outcome("t")
    loop = Loop(out, Tracer())
    loop.op("final", lambda: tbl.snapshot(),
            lambda snap: check.final_orders(spark, snap, rows,
                                            expected_sum=bad))
    assert out.attempted == 1 and out.failed == 1
    assert "final snapshot" in out.failures[0]


def test_a_raising_operation_counts_and_aborts():
    out = Outcome("t")
    loop = Loop(out, Tracer())
    with pytest.raises(Abort):
        loop.op("commit", lambda: 1 / 0)
    assert (out.attempted, out.failed) == (1, 1)
    assert "ZeroDivisionError" in out.failures[0]


def test_warm_up_operations_are_checked_but_not_sampled():
    out = Outcome("t")
    loop = Loop(out, Tracer())
    loop.timing = False
    loop.op("read", lambda: 1, lambda got: ["wrong"])
    loop.record("round", 1.0)
    assert (out.attempted, out.failed, out.samples) == (1, 1, {})
    loop.timing = True
    loop.op("read", lambda: 1)
    assert len(out.samples["read"]) == 1


def test_same_keys():
    assert check.same_keys("x", [1, 2], {2, 1}) == []
    assert check.same_keys("x", [1, 1, 2], {1, 2}) != []
    assert check.same_keys("x", [1], {1, 2}) == [
        "x: 0 unexpected, 1 missing keys"]
