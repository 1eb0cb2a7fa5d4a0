"""The benchmark's workloads: what one pass runs, and how each output is
checked.

A pass is a list of ops. Registry ops call a ``__spark_entry__`` query
(build: the call that returns the DataFrame; exec: ``collect()``); the
digest of each output is compared, after the timed passes, with the
digest of the query's DuckDB oracle (``oracle_sql()``) on the same
fixtures. Engine ops go through ``Engine``/``IncrementalSyncer`` and are
checked against a ``TableModel`` of the table they touch, by a
read-after-write ``Engine.get`` that is itself a timed read op.

The workload seed decides the order of each pass's units (a unit is an
op, or a write and the get that reads it back) and the etl_rw mutation
batches. The engine sees only the generated inputs.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass
from datetime import datetime, timedelta
from pathlib import Path
from typing import Any, Callable

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from model import TableModel

# The nine TPC-H shapes BASELINE.md uses as its host-drift canary.
CANARY = [
    "join_q3", "groupby_q1", "where_theta", "join_q5", "window_topk",
    "rollup", "exists_q4", "outerjoin_q13", "having_q18",
]

REGISTRY_OPS = {
    # relational reads of the revtron surface: six of the canary shapes
    "etl_rw": CANARY[:6],
    # driver build dominates (eager build-time probes and sketches):
    # 67-85% of each op's time on these fixtures, and among the cheapest
    "driver_heavy": ["token_budget", "cap_per_domain", "quantile_filter"],
}

_DAY = timedelta(days=1)
_EVENTS_T0 = datetime(2024, 1, 1)


@dataclass
class Op:
    """One timed call. ``build`` (optional) returns what ``execute``
    consumes; ``check`` runs untimed on the result and returns a problem
    description, or None when the output is right."""

    name: str
    kind: str  # "read", "write" or "maintenance"
    execute: Callable[[Any], Any]
    check: Callable[[Any], str | None]
    build: Callable[[], Any] | None = None

    @property
    def phase(self) -> str:
        return "exec" if self.kind == "read" else "write"


def collect(df) -> tuple[list[str], list[tuple]]:
    return df.columns, [tuple(r) for r in df.collect()]


def digest(columns: list[str], rows: list) -> tuple:
    """(sorted columns, row count, order-insensitive value hash)."""
    from tools.check_correctness import value_hash

    return sorted(columns), len(rows), value_hash(rows, columns)


def _mismatch(got: tuple, want: tuple) -> str | None:
    if got == want:
        return None
    return f"columns/rows/hash {got} != expected {want}"


def oracle_digests(names: list[str], data_dir: Path) -> dict[str, tuple]:
    """Digest of each query's DuckDB oracle on the fixtures in ``data_dir``."""
    import duckdb

    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    con = duckdb.connect()
    try:
        for p in sorted(data_dir.glob("*.parquet")):
            con.execute(f"CREATE VIEW {p.stem} AS SELECT * FROM '{p}'")
        out = {}
        for n in names:
            res = con.execute(oracles[n])
            out[n] = digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()


class Workload:
    """Base: the registry ops of ``REGISTRY_OPS[name]``, shuffled."""

    #: untimed passes before the timed ones: the first compiles and
    #: loads everything; later ones let the JIT catch up
    WARM_PASSES: int
    #: seconds a warmed pass takes on a 4-core host, which turns
    #: ``--seconds`` into a fixed number of timed passes
    PASS_S: float

    def __init__(self, name: str, spark, data_dir: Path, work_dir: Path, seed: int):
        import __spark_entry__ as entry

        self.name = name
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.queries = entry.queries()
        self.outputs: list[tuple[int, str, tuple]] = []  # (pass, op, digest)
        self.warehouses: list[tuple[Any, list[str]]] = []

    def prepare(self) -> None:
        """Workload state the passes need (managed tables, models)."""

    def registry_op(self, name: str, pass_no: int) -> Op:
        fn = self.queries[name]

        def check(out):
            self.outputs.append((pass_no, name, digest(*out)))
            return None

        return Op(name, "read", build=lambda: fn(self.spark, str(self.data_dir)),
                  execute=collect, check=check)

    def units(self, pass_no: int) -> list[list[Op]]:
        """The pass's units, in seeded order."""
        units = [[self.registry_op(n, pass_no)] for n in REGISTRY_OPS[self.name]]
        random.Random(f"{self.seed}:{pass_no}").shuffle(units)
        return units

    def tail(self, pass_no: int) -> list[Op]:
        """Ops that close the pass, after its units."""
        return []

    def verify(self) -> list[tuple[int, str, str]]:
        """``(pass, op, problem)`` for every registry output whose digest
        differs from its oracle's, and for every managed table that
        differs from its model."""
        want = oracle_digests(REGISTRY_OPS[self.name], self.data_dir)
        bad = [(p, n, _mismatch(got, want[n])) for p, n, got in self.outputs]
        return [b for b in bad if b[2]]

    def storage(self) -> tuple[int, int]:
        """(bytes stored under the warehouses, bytes of the latest version)."""
        stored = live = 0
        for engine, tables in self.warehouses:
            root = Path(engine.warehouse_dir)
            stored += sum(p.stat().st_size for p in root.rglob("*") if p.is_file())
            for t in tables:
                live += _live_bytes(engine, t)
        return stored, live


def _live_bytes(engine, table: str) -> int:
    base = Path(engine.warehouse_dir) / table
    if engine.versioned:
        v = engine.table_history(table)[-1]
        files = json.loads((base / "_log" / f"{v:08d}.json").read_text())["files"]
        return sum((base / f).stat().st_size for f in files)
    return sum(p.stat().st_size for p in (base / "current").glob("*.parquet"))


class ResultsSink(Workload):
    """driver_heavy: after the registry ops, each pass upserts the
    digests of its outputs into a managed results table, as a job that
    keeps what it computed. The table is checked whole after the run."""

    COLUMNS = ["seq", "pass_no", "op", "n_rows", "digest"]
    # a pass keeps getting faster, ~25% over its first five, as the JIT
    # compiles the driver-side build paths; a third warm-up pass would
    # not fit the benchmark's time budget
    WARM_PASSES = 2
    PASS_S = 3.5

    def prepare(self) -> None:
        from pyspark.sql import types as T
        from revtron_utils_spark import Engine

        self.engine = Engine(self.spark, warehouse_dir=str(self.work_dir / "wh_results"))
        schema = T.StructType([
            T.StructField("seq", T.LongType()), T.StructField("pass_no", T.LongType()),
            T.StructField("op", T.StringType()), T.StructField("n_rows", T.LongType()),
            T.StructField("digest", T.StringType()),
        ])
        first = {"seq": -1, "pass_no": -1, "op": "", "n_rows": 0, "digest": ""}
        self.engine.save_table(
            "results", self.spark.createDataFrame([tuple(first.values())], schema),
            primary_key=["seq"],
        )
        self.model = TableModel(self.COLUMNS, "seq", [first])
        self.warehouses = [(self.engine, ["results"])]

    def tail(self, pass_no: int) -> list[Op]:
        names = REGISTRY_OPS[self.name]
        mine = {n: d for p, n, d in self.outputs if p == pass_no}
        records = [
            {"seq": pass_no * 100 + i, "pass_no": pass_no, "op": n,
             "n_rows": mine[n][1] if n in mine else -1,
             "digest": mine[n][2] if n in mine else ""}
            for i, n in enumerate(names)
        ]
        return [
            write_op("results_upsert",
                     lambda: self.engine.upsert("results", records, return_keys=False),
                     lambda: self.model.upsert(records)),
        ]

    def verify(self) -> list[tuple[int, str, str]]:
        problems = super().verify()
        bad = _mismatch(digest(*collect(self.engine.get("results"))),
                        digest(self.model.columns, self.model.rows()))
        if bad:
            problems.append((-1, "results (whole table)", bad))
        return problems


def write_op(name: str, call: Callable[[], Any], apply: Callable[[], Any]) -> Op:
    """A mutation; its check brings the model level with it and, where
    the model returns a row count (update, delete), compares the
    engine's count with it."""

    def check(out):
        want = apply()
        if want is None or out == want:
            return None
        return f"returned {out}, expected {want}"

    return Op(name, "write", execute=lambda _: call(), check=check)


def get_op(name, engine, table, model: TableModel, where, keep) -> Op:
    """Read-after-write: ``Engine.get`` with ``where``, compared with the
    model rows ``keep`` selects."""

    def check(out):
        cols, rows = out
        want = digest(model.columns, model.rows(keep))
        return _mismatch(digest(cols, rows), want)

    return Op(name, "read", build=lambda: engine.get(table, where=where),
              execute=collect, check=check)


def vacuum_op(engine, table: str) -> Op:
    def check(_):
        n = len(engine.table_history(table))
        return None if n <= 2 else f"{n} versions after vacuum(keep_last=2)"

    return Op(f"{table}_vacuum", "maintenance",
              execute=lambda _: engine.vacuum_table(table, keep_last=2), check=check)


class EtlRw(Workload):
    """etl_rw: registry reads interleaved with a seeded mutation stream
    on managed copies of orders (versioned engine: a file-pruned merge
    every pass), customer and events (directory-swap engine: a keyed
    update, an ``in`` delete, and an incremental window sync into
    events_sync). Every write is followed by a get of the rows it
    touched; every pass ends with a vacuum of the versioned table.

    The keyed update goes to customer, not orders: a versioned update
    rewrites the whole table as one file, after which no merge could
    skip a file."""

    ORDERS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
    CUSTOMER = ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"]
    EVENTS = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    # a pass after the first is only a few % slower than the next one
    WARM_PASSES = 1
    PASS_S = 5.5

    def prepare(self) -> None:
        from pyspark.sql import functions as F
        from revtron_utils_spark import Engine
        from revtron_utils_spark.io import read_table
        from revtron_utils_spark.streaming.incremental import IncrementalSyncer

        self.load_models()
        d = str(self.data_dir)
        self.swap = Engine(self.spark, warehouse_dir=str(self.work_dir / "wh_swap"))
        self.vers = Engine(self.spark, warehouse_dir=str(self.work_dir / "wh_versioned"),
                           versioned=True)
        events = read_table(self.spark, d, "events").withColumn(
            "user_id",
            F.when(F.col("event_id") % 50 == 0, F.lit(None)).otherwise(F.col("user_id")),
        )
        self.swap.save_table("events", events, primary_key=["event_id"])
        self.swap.save_table("customer", read_table(self.spark, d, "customer"),
                             primary_key=["c_custkey"])
        # key-ranged files, so a merge on a key band can skip the others
        self.vers.save_table(
            "orders",
            read_table(self.spark, d, "orders").repartitionByRange(8, "o_orderkey"),
            primary_key=["o_orderkey"],
        )
        self.syncer = IncrementalSyncer(self.swap, "events_sync", ["event_id"], date_field="ts")
        (self.work_dir / "batches").mkdir(parents=True, exist_ok=True)
        self.warehouses = [(self.swap, ["events", "events_sync", "customer"]),
                           (self.vers, ["orders"])]

    def load_models(self) -> None:
        """The models start from the fixtures, as the managed copies do;
        every 50th event loses its user, so ``in`` deletes meet NULLs."""
        self.orders = TableModel(
            self.ORDERS, "o_orderkey",
            pq.read_table(self.data_dir / "orders.parquet").to_pylist(),
        )
        self.customer = TableModel(
            self.CUSTOMER, "c_custkey",
            pq.read_table(self.data_dir / "customer.parquet").to_pylist(),
        )
        self.events_source = pq.read_table(self.data_dir / "events.parquet")
        events = self.events_source.to_pylist()
        for r in events:
            if r["event_id"] % 50 == 0:
                r["user_id"] = None
        self.events = TableModel(self.EVENTS, "event_id", events)
        self.events_sync = TableModel(self.EVENTS, "event_id")
        self.n_orders = len(self.orders)
        self.sync_day0 = random.Random(f"{self.seed}:sync").randrange(0, 12)

    def mutations(self, pass_no: int) -> dict[str, Any]:
        """The pass's mutation batches, drawn from the seed alone."""
        rng = np.random.default_rng([self.seed, pass_no])

        def maybe(value, p_null):
            return None if rng.random() < p_null else value

        # upsert: 500 of the newest 2,000 orders, with NULL fields that
        # must not clobber, plus 100 new keys. The source's key range
        # stays at the top of the table, so every merge can skip the
        # files below it (a band lower down would, once a merge had
        # rewritten the files above it as one, never skip again).
        old = (self.n_orders - 2_000 + rng.choice(2_000, 500, replace=False)).tolist()
        first_new = self.n_orders + 100 * pass_no
        upsert = [
            {
                "o_orderkey": k,
                "o_custkey": int(rng.integers(0, 1_500)),
                "o_orderstatus": maybe("F", 0.3),
                "o_totalprice": maybe(round(float(rng.uniform(1e3, 5e5)), 2), 0.3),
                "o_orderpriority": maybe("2-HIGH", 0.3),
            }
            for k in old + list(range(first_new, first_new + 100))
        ]
        # keyed update: NULLs write through
        update = [
            {"c_custkey": k, "c_mktsegment": maybe("MACHINERY", 0.3)}
            for k in rng.choice(len(self.customer), 200, replace=False).tolist()
        ]
        users = rng.choice(150, 6, replace=False).tolist()
        # sync: a 3-day window a day after the previous pass's, so
        # consecutive windows overlap by two days; the source batch is
        # the fixture's events around it, with seeded edits
        start = _EVENTS_T0 + (self.sync_day0 + pass_no) * _DAY
        end = start + 3 * _DAY
        ts = self.events_source.column("ts").to_numpy()
        near = (ts >= np.datetime64(start - _DAY / 2, "us")) & (
            ts < np.datetime64(end + _DAY / 2, "us"))
        batch = self.events_source.filter(pa.array(near)).to_pylist()
        for r in batch:
            if rng.random() < 0.2:
                r["value"] = round(r["value"] * 1.1 + 1.0, 2)
            if rng.random() < 0.05:
                r["user_id"] = None
        return {
            "orders_upsert": upsert,
            "customer_update": update,
            "events_delete": (users[:3], users[3:]),
            "events_sync": (start, end, batch),
        }

    def units(self, pass_no: int) -> list[list[Op]]:
        m = self.mutations(pass_no)
        units = [[self.registry_op(n, pass_no)] for n in REGISTRY_OPS[self.name]]
        units += [
            self._keyed_write("orders_upsert", self.vers, "orders", self.orders,
                              m["orders_upsert"]),
            self._keyed_write("customer_update", self.swap, "customer", self.customer,
                              m["customer_update"]),
            self._events_delete(*m["events_delete"]),
            self._events_sync(pass_no, *m["events_sync"]),
        ]
        random.Random(f"{self.seed}:{pass_no}").shuffle(units)
        return units

    def tail(self, pass_no: int) -> list[Op]:
        return [vacuum_op(self.vers, "orders")]

    def _keyed_write(self, name: str, engine, table: str, model: TableModel,
                     recs: list[dict]) -> list[Op]:
        """An upsert (``*_upsert``) or keyed update of ``recs``, then a get
        of their keys."""
        key = model.key
        if name.endswith("_upsert"):
            call = lambda: engine.upsert(table, recs)  # noqa: E731
            apply = lambda: model.upsert(recs)  # noqa: E731
        else:
            call = lambda: engine.update(table, recs, on=key)  # noqa: E731
            apply = lambda: model.update(recs)  # noqa: E731
        keys = {r[key] for r in recs}
        return [
            write_op(name, call, apply),
            get_op(f"{name}_get", engine, table, model,
                   {key: {"operator": "in", "value": sorted(keys)}},
                   lambda r: r[key] in keys),
        ]

    def _events_delete(self, doomed: list[int], kept: list[int]) -> list[Op]:
        keep = set(kept)
        return [
            write_op(
                "events_delete",
                lambda: self.swap.delete("events", {"user_id": {"operator": "in",
                                                                "value": doomed}}),
                lambda: self.events.delete_in("user_id", doomed),
            ),
            get_op("events_get", self.swap, "events", self.events,
                   {"user_id": {"operator": "in", "value": doomed + kept}},
                   lambda r: r["user_id"] in keep),
        ]

    def _events_sync(self, pass_no: int, start, end, batch: list[dict]) -> list[Op]:
        from revtron_utils_spark.io import read_parquet

        path = self.work_dir / "batches" / f"events_p{pass_no}.parquet"
        pq.write_table(pa.Table.from_pylist(batch, schema=self.events_source.schema), path)
        in_window = [r for r in batch if start <= r["ts"] < end]
        s, e = start.isoformat(sep=" "), end.isoformat(sep=" ")

        def call():
            return self.syncer.sync_window(read_parquet(self.spark, str(path)), s, e)

        def check(n):
            self.events_sync.upsert(in_window)
            return None if n == len(in_window) else f"synced {n} rows, expected {len(in_window)}"

        return [
            Op("events_sync", "write", execute=lambda _: call(), check=check),
            get_op("events_sync_get", self.swap, "events_sync", self.events_sync,
                   [{"ts": {"operator": ">=", "value": s}},
                    {"ts": {"operator": "<", "value": e}}],
                   lambda r: start <= r["ts"] < end),
        ]

    def verify(self) -> list[tuple[int, str, str]]:
        """Registry outputs against their oracles, then every managed
        table, whole, against its model."""
        problems = super().verify()
        for engine, table, model in (
            (self.swap, "events", self.events), (self.swap, "events_sync", self.events_sync),
            (self.swap, "customer", self.customer), (self.vers, "orders", self.orders),
        ):
            bad = _mismatch(digest(*collect(engine.get(table))),
                            digest(model.columns, model.rows()))
            if bad:
                problems.append((-1, f"{table} (whole table)", bad))
        return problems


WORKLOADS = {"etl_rw": EtlRw, "driver_heavy": ResultsSink}


def build(name: str, spark, data_dir: Path, work_dir: Path, seed: int) -> Workload:
    return WORKLOADS[name](name, spark, data_dir, work_dir, seed)
