"""The strict output check: dtype-tagged values, and row order compared
only for the queries in ``check.ORDERED``."""

import pandas as pd
import pytest

from perfbench import check, gen

SORT_SQL = "SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem"


@pytest.fixture(scope="module")
def oracle():
    o = check.Oracle(gen.FIXTURE_DIR)
    yield o
    o.close()


@pytest.fixture(scope="module")
def sorted_lineitem(oracle):
    return oracle._con.sql(f"SELECT * FROM ({SORT_SQL}) {check.ORDERED['total_order_sort']}").df()


def test_total_order_in_order_passes(oracle, sorted_lineitem):
    assert oracle.compare("total_order_sort", SORT_SQL, sorted_lineitem) is None


def test_total_order_out_of_order_fails(oracle, sorted_lineitem):
    flipped = sorted_lineitem.iloc[::-1].reset_index(drop=True)
    assert oracle.compare("total_order_sort", SORT_SQL, flipped) is not None


def test_unordered_query_ignores_row_order(oracle, sorted_lineitem):
    flipped = sorted_lineitem.iloc[::-1].reset_index(drop=True)
    assert oracle.compare("some_query", SORT_SQL, flipped) is None


def test_int_and_float_differ():
    assert check.canon(pd.DataFrame({"x": [148]})) != check.canon(pd.DataFrame({"x": [148.0]}))
    assert check.canon(pd.DataFrame({"x": [1.0, None]})) == [("<NULL>",), ("f:1.0",)]
