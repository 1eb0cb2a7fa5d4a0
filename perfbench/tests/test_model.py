"""The table model's semantics, and that the engine agrees with it."""

import pytest

from model import TableModel

COLS = ["k", "a", "b"]


def model():
    return TableModel(COLS, "k", [{"k": 1, "a": 10, "b": "x"}, {"k": 2, "a": None, "b": "y"}])


def test_upsert_keeps_stored_values_where_the_incoming_field_is_null():
    m = model()
    m.upsert([{"k": 1, "a": None, "b": "z"}, {"k": 3, "a": 30, "b": None}])
    assert sorted(m.rows()) == [(1, 10, "z"), (2, None, "y"), (3, 30, None)]


def test_upsert_with_overwrite_with_null_clobbers():
    m = model()
    m.upsert([{"k": 1, "a": None}], overwrite_with_null=True)
    assert (1, None, "x") in m.rows()


def test_update_writes_nulls_through_and_never_inserts():
    m = model()
    assert m.update([{"k": 1, "a": None}, {"k": 9, "a": 5}]) == 1
    assert sorted(m.rows()) == [(1, None, "x"), (2, None, "y")]


def test_delete_in_keeps_rows_where_the_column_is_null():
    m = model()
    assert m.delete_in("a", [10, 20]) == 1
    assert m.rows() == [(2, None, "y")]


@pytest.fixture(scope="module")
def spark():
    from revtron_utils_spark.session import get_spark

    s = get_spark(app_name="perfbench-model-test", master="local[2]")
    yield s
    s.stop()


@pytest.mark.parametrize("versioned", [False, True])
def test_engine_matches_the_model(spark, tmp_path, versioned):
    from pyspark.sql import types as T

    from revtron_utils_spark import Engine
    from tools.check_correctness import value_hash

    schema = T.StructType([T.StructField("k", T.LongType()),
                           T.StructField("a", T.LongType()),
                           T.StructField("b", T.StringType())])
    m = model()
    eng = Engine(spark, warehouse_dir=str(tmp_path / "wh"), versioned=versioned)
    eng.save_table("t", spark.createDataFrame(m.rows(), schema), primary_key=["k"])
    steps = [
        ("upsert", [{"k": 1, "a": None, "b": "z"}, {"k": 3, "a": 30, "b": None}]),
        ("update", [{"k": 3, "a": None, "b": "w"}, {"k": 8, "a": 1, "b": "v"}]),
        ("delete", [10, 30]),
    ]
    for verb, arg in steps:
        if verb == "upsert":
            eng.upsert("t", arg)
            m.upsert(arg)
        elif verb == "update":
            eng.update("t", arg, on="k")
            m.update(arg)
        else:
            eng.delete("t", {"a": {"operator": "in", "value": arg}})
            m.delete_in("a", arg)
        got = [tuple(r) for r in eng.get("t").collect()]
        assert value_hash(got, COLS) == value_hash(m.rows(), COLS), verb
