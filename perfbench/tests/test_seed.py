"""The seed alone decides a pass's op order and mutation batches; the
fixtures never see it."""

import pyarrow.parquet as pq
import pytest

import fixtures
import workloads


@pytest.fixture(scope="module")
def data_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("data")
    fixtures.write(d)
    return d


def etl(data_dir, work, seed):
    wl = workloads.EtlRw("etl_rw", None, data_dir, work, seed)
    wl.load_models()
    wl.swap = wl.vers = wl.syncer = None  # ops are built, never run
    (work / "batches").mkdir(parents=True, exist_ok=True)
    return wl


def order(wl, pass_no):
    return [op.name for unit in wl.units(pass_no) for op in unit]


def test_fixtures_are_the_same_bytes_every_time(tmp_path, data_dir):
    fixtures.write(tmp_path)
    for p in sorted(data_dir.glob("*.parquet")):
        assert pq.read_table(p).equals(pq.read_table(tmp_path / p.name)), p.name


def test_same_seed_same_inputs(tmp_path, data_dir):
    a = etl(data_dir, tmp_path / "a", 7)
    b = etl(data_dir, tmp_path / "b", 7)
    for p in (0, 1, 2):
        assert a.mutations(p) == b.mutations(p)
        assert order(a, p) == order(b, p)
        assert (a.work_dir / "batches" / f"events_p{p}.parquet").read_bytes() == (
            b.work_dir / "batches" / f"events_p{p}.parquet").read_bytes()


def test_other_seed_other_inputs(tmp_path, data_dir):
    a = etl(data_dir, tmp_path / "a", 7)
    b = etl(data_dir, tmp_path / "b", 8)
    assert a.mutations(1) != b.mutations(1)
    assert order(a, 1) != order(b, 1)
    assert sorted(order(a, 1)) == sorted(order(b, 1))


def test_passes_differ_within_a_run(tmp_path, data_dir):
    a = etl(data_dir, tmp_path / "a", 7)
    assert a.mutations(1) != a.mutations(2)


def test_upsert_batch_shape(tmp_path, data_dir):
    m = etl(data_dir, tmp_path, 3).mutations(1)["orders_upsert"]
    keys = [r["o_orderkey"] for r in m]
    n = fixtures.N_ORDERS
    assert len(keys) == len(set(keys)) == 600
    assert sum(k >= n for k in keys) == 100
    assert any(v is None for r in m for v in r.values())


def test_registry_order_is_seeded(tmp_path, data_dir):
    a = workloads.ResultsSink("driver_heavy", None, data_dir, tmp_path, 1)
    b = workloads.ResultsSink("driver_heavy", None, data_dir, tmp_path, 1)
    assert order(a, 3) == order(b, 3)
    assert sorted(order(a, 3)) == sorted(workloads.REGISTRY_OPS["driver_heavy"])
