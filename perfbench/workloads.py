"""The benchmark's two workloads, each a fixed mix of two op families.

Each family makes its inputs from the seed before the session starts,
prepares untimed state after set-up, and hands the harness its share of one
pass at a time. A pass has a fixed composition and a fixed order, so every
run measures the same sequence of ops whatever the seed; the seed changes
the data. A seeded order would move single ops by 2-5x (which op runs first
in the cold JVM, whether a compaction finds anything to compact) and the
median op time by ~18% from seed to seed.

- ``tables`` = ``StarSql`` + ``LakehouseDml``: relational and TPC-H lanes
  over a seeded sf0.1 star schema, checked against DuckDB, beside writes and
  reads on one Delta-lite and one Iceberg-lite table, checked against a
  DuckDB model of the same writes. Python plan building, Catalyst, collect
  and the lakehouse write path carry this workload.
- ``iterative`` = ``MlReference`` + ``GraphCc``: the reference's four Spark
  ML programs, then connected components over a seeded graph. Many small
  eager jobs: driver-side time, MLlib and the fixpoint's checkpoints carry
  this workload.
"""

from __future__ import annotations

import os
import statistics
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
from harness import Bench, Op

SF = 0.1
N_ORDERS = int(datagen.ROWS_PER_SF["orders"] * SF)
N_CUSTOMERS = int(datagen.ROWS_PER_SF["customer"] * SF)


def star_dir(bench: Bench) -> str:
    return os.path.join(bench.wd.data, "star")


def star_schema(bench: Bench) -> str:
    """The seeded sf0.1 star schema, written once per run."""
    path = star_dir(bench)
    if not os.path.exists(os.path.join(path, "orders.parquet")):
        datagen.star_schema(path, bench.seed, SF)
    return path


def _duckdb(bench: Bench, views_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")  # never download
    con.execute(f"SET threads = {bench.cpus}")
    con.execute(f"SET temp_directory = '{bench.wd.tmp}'")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{views_dir}/{t}.parquet')")
    return con


class StarSql:
    """Every ``STRIDE``-th lane of the oracle pool is played each pass, in
    registry order. Op = build the query fresh and
    collect it; the same DataFrame is then collected again as the prepared
    run. The lane set is fixed so that runs with different seeds measure the
    same mix: a seeded draw of ~14 lanes from the whole pool moves the
    median op time by 15-30% from seed to seed."""

    STRIDE = 12

    def __init__(self, bench: Bench) -> None:
        from big_data_analytics_machine_learning_poc_spark.operators import relational, tpch

        self.b = bench
        self.queries = {}
        self.oracles = {}
        for reg in (relational.REG, tpch.REG):
            for name, fn in reg.queries.items():
                if name in reg.oracles:
                    self.queries[name] = fn
                    self.oracles[name] = reg.oracles[name]
        self.pool = list(self.queries)
        self.lanes = self.pool[:: self.STRIDE]
        self.data = star_dir(bench)
        self.want: dict[str, tuple[list[str], str]] = {}
        self.duckdb_ms: dict[str, float] = {}

    def make_inputs(self) -> None:
        from big_data_analytics_machine_learning_poc_spark import oracle

        star_schema(self.b)
        con = _duckdb(self.b, self.data, [f[:-8] for f in os.listdir(self.data)])
        for lane in self.lanes:
            sql = self.oracles[lane]
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            self.want[lane] = (sorted(cols), oracle.fingerprint(cols, cur.fetchall()))
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            self.duckdb_ms[lane] = (time.perf_counter() - t0) * 1e3
        con.close()

    def prepare(self) -> None:
        pass

    def _check(self, lane: str, df, rows) -> str | None:
        from big_data_analytics_machine_learning_poc_spark import oracle

        cols, fp = self.want[lane]
        if sorted(df.columns) != cols:
            return f"columns {sorted(df.columns)} != oracle {cols}"
        got = oracle.fingerprint(df.columns, [tuple(r) for r in rows])
        return None if got == fp else f"fingerprint {got} != oracle {fp} ({len(rows)} rows)"

    def _op(self, lane: str) -> Op:
        b, fn = self.b, self.queries[lane]

        def run() -> dict:
            with b.span("operators", "build", lane=lane):
                df = fn(b.spark, self.data)
            with b.span("collect", "fresh", lane=lane) as sp:
                rows = df.collect()
                sp.attrs["rows"] = len(rows)
            return {"df": df, "rows": rows}

        def after(out: dict) -> tuple[dict, str | None]:
            df = out["df"]
            with b.span("collect", "prepared", lane=lane) as sp:
                rows = df.collect()
            problem = self._check(lane, df, rows)
            return {"prepared_s": sp.dur, "duckdb_ms": self.duckdb_ms[lane]}, (
                f"prepared: {problem}" if problem else None
            )

        return Op(lane, "lane", run, lambda out: self._check(lane, out["df"], out["rows"]), after)

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(lane) for lane in self.lanes]

    def finish(self) -> dict:
        prepared = [r.extra["prepared_s"] for r in self.b.ops if "prepared_s" in r.extra]
        return {
            "prepared_p50_s": statistics.median(prepared) if prepared else None,
            "lanes": self.lanes,
            "pool_size": len(self.pool),
            "duckdb_ms": self.duckdb_ms,
        }


class MlReference:
    """The reference's four programs at the reference's sizes, on the
    fixture frames at their default seed: the golden floors that
    ``tests/test_ml.py`` asserts were set on those frames, and other fixture
    seeds put the random-forest f1 under its 0.6 floor (3 of the 14 seeds
    0-13). The seed therefore leaves the inputs unchanged here. The order is
    the reference's, so the cold-JVM cost always lands on the same program."""

    FLOORS = "clean_count = n - 13, f1 > 0.6, rf_accuracy > 0.8, dt_accuracy > 0.9, rmse < 1.3"

    def __init__(self, bench: Bench) -> None:
        self.b = bench

    def make_inputs(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def _op(self, program: str) -> Op:
        from big_data_analytics_machine_learning_poc_spark.ml import (
            correlator,
            fixtures,
            random_forest,
            spam,
            tfidf_regression,
        )

        b = self.b
        fixture, module, check = {
            "correlator": (fixtures.medical_charges, correlator, _check_correlator),
            "random_forest": (fixtures.user_know, random_forest, _check_random_forest),
            "spam": (fixtures.spam, spam, _check_spam),
            "tfidf_regression": (fixtures.hotel_reviews, tfidf_regression, _check_tfidf),
        }[program]

        def run() -> dict:
            with b.span("ml", "fixtures", program=program):
                frame = fixture(b.spark)
            with b.span("ml", program):
                return {"result": module.run(frame)}

        return Op(program, "program", run, lambda out: check(out["result"]))

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(p) for p in ("correlator", "random_forest", "spam", "tfidf_regression")]

    def finish(self) -> dict:
        return {"floors": self.FLOORS}


def _floor(ok: bool, what: str) -> str | None:
    return None if ok else what


def _check_correlator(out: dict) -> str | None:
    return _floor(out["clean_count"] == 1338 - 13, f"clean_count {out['clean_count']} != 1325")


def _check_random_forest(out: dict) -> str | None:
    return _floor(out["f1"] > 0.6, f"f1 {out['f1']:.4f} <= 0.6")


def _check_spam(out: dict) -> str | None:
    return _floor(
        out["rf_accuracy"] > 0.8 and out["dt_accuracy"] > 0.9,
        f"rf_accuracy {out['rf_accuracy']:.4f}, dt_accuracy {out['dt_accuracy']:.4f}",
    )


def _check_tfidf(out: dict) -> str | None:
    return _floor(out["rmse"] < 1.3, f"rmse {out['rmse']:.4f} >= 1.3")


# the lakehouse tables: every other order (75k rows at sf0.1) with the
# ordering customer's segment and nation
_LAKE_COLS = (
    "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, "
    "o_orderpriority, c_mktsegment, c_nationkey"
)
_LAKE_ROWS = "JOIN {customer} ON o_custkey = c_custkey WHERE o_orderkey % 2 = 0"
_LAKE_AGG_SQL = (
    "SELECT o_orderstatus, COUNT(*) AS n, CAST(SUM(ROUND(o_totalprice * 100)) AS BIGINT) AS cents, "
    "CAST(SUM(o_orderkey) AS BIGINT) AS keys, COUNT(DISTINCT o_orderpriority) AS prios "
    "FROM {t} GROUP BY o_orderstatus"
)


class _Table:
    """One lakehouse table under test and the functions of its format."""

    def __init__(self, fmt: str, path: str) -> None:
        from big_data_analytics_machine_learning_poc_spark.sources import delta_lite, iceberg_lite

        self.fmt = fmt
        self.path = path
        if fmt == "delta_lite":
            m = delta_lite
            self.write = lambda df: m.write_delta(df, path, mode="append")
            self.create = lambda df: m.write_delta(df, path)
            self.merge = lambda spark, src: m.merge_delta(spark, path, src, ["o_orderkey"])
            self.compact = lambda spark: m.compact_table(spark, path)
            self.read = lambda spark, v=None: m.read_delta(spark, path, version=v)
            self.current = lambda: m.snapshot_summary(path)["version"]
            self.metadata_dir = os.path.join(path, "_delta_log")
        else:
            m = iceberg_lite
            self.write = lambda df: m.write_iceberg(df, path, mode="append")
            self.create = lambda df: m.write_iceberg(df, path)
            self.merge = lambda spark, src: m.merge_iceberg(spark, path, src, ["o_orderkey"])
            self.compact = lambda spark: m.compact_iceberg(spark, path)
            self.read = lambda spark, v=None: m.read_iceberg(spark, path, snapshot_id=v)
            self.current = lambda: m.load_metadata(path)["current-snapshot-id"]
            self.metadata_dir = os.path.join(path, "metadata")
        self.delete = lambda spark, pred: m.delete_where(spark, path, pred)
        self.update = lambda spark, assign, pred: m.update_where(spark, path, assign, pred)
        self.listing: dict[str, int] = {}  # files seen after the last write

    def list_files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out


class LakehouseDml:
    """Each pass plays, alternating between the two tables: an append, a
    ``delete_where``, an ``update_where``, a merge, a current-snapshot read,
    a compaction and a time-travel read to the version the pass started
    from; each read is followed by an aggregate. The seed makes the batches
    and picks the predicates. Per table, a DuckDB model replays every write,
    and each read's aggregate must equal the model's at the read version."""

    APPEND_ROWS = 2000
    MERGE_ROWS = 1500

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.rng = np.random.default_rng(bench.seed)
        self.src = star_dir(bench)
        self.batches = os.path.join(bench.wd.data, "batches")
        self.tables: list[_Table] = []
        self.con = None
        self.pass_start: dict[str, tuple[object, str]] = {}  # fmt -> (version, model snapshot)
        self.next_key = 10_000_000
        self.write_stats: list[tuple[int, int, int]] = []  # data files, bytes, metadata files added

    def make_inputs(self) -> None:
        star_schema(self.b)
        os.makedirs(self.batches, exist_ok=True)
        self.con = _duckdb(self.b, self.src, ("customer", "orders"))
        for fmt in ("delta_lite", "iceberg_lite"):
            self.con.execute(
                f"CREATE TABLE model_{fmt} AS SELECT {_LAKE_COLS} FROM orders "
                + _LAKE_ROWS.format(customer="customer")
            )

    def prepare(self) -> None:
        src = self.b.spark.sql(
            f"SELECT {_LAKE_COLS} FROM parquet.`{self.src}/orders.parquet` "
            + _LAKE_ROWS.format(customer=f"parquet.`{self.src}/customer.parquet`")
        )
        for fmt in ("delta_lite", "iceberg_lite"):
            t = _Table(fmt, os.path.join(self.b.wd.run, "tables", fmt))
            t.create(src)
            t.listing = t.list_files()
            self.tables.append(t)

    def _batch(self, name: str, keys: np.ndarray) -> str:
        """A seeded batch of order rows with the given keys, as parquet."""
        n, rng = len(keys), self.rng

        def pick(values) -> pa.Array:
            return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)], pa.string())

        days = np.datetime64("1995-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")
        batch = pa.table(
            {
                "o_orderkey": pa.array(keys.astype(np.int64)),
                "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, n, dtype=np.int64)),
                "o_orderstatus": pick(["F", "O", "P"]),
                "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n), 2),
                "o_orderdate": pa.array(days.astype("datetime64[us]"), pa.timestamp("us")),
                "o_orderpriority": pick(datagen.PRIORITIES),
                "c_mktsegment": pick(datagen.SEGMENTS),
                "c_nationkey": pa.array(rng.integers(0, 25, n, dtype=np.int32)),
            }
        )
        path = os.path.join(self.batches, f"{name}.parquet")
        pq.write_table(batch, path)
        return path

    def ops(self, pass_no: int) -> list[Op]:
        """One pass; its seeded batches and predicates are made here,
        before the pass starts."""
        con, rng = self.con, self.rng
        for t in self.tables:
            snap = f"snap_{t.fmt}_{pass_no}"
            con.execute(f"CREATE TABLE {snap} AS SELECT * FROM model_{t.fmt}")
            self.pass_start[t.fmt] = (t.current(), snap)
        new_keys = np.arange(self.next_key, self.next_key + self.APPEND_ROWS + self.MERGE_ROWS // 3)
        self.next_key += len(new_keys)
        append = self._batch(f"append_{pass_no}", new_keys[: self.APPEND_ROWS])
        merge_keys = np.concatenate(
            [rng.choice(N_ORDERS, self.MERGE_ROWS - self.MERGE_ROWS // 3, replace=False), new_keys[self.APPEND_ROWS :]]
        )
        merge = self._batch(f"merge_{pass_no}", merge_keys)
        delete_pred = f"o_custkey % 53 = {int(rng.integers(0, 53))}"
        update_pred = f"o_custkey % 59 = {int(rng.integers(0, 59))}"
        spark = self.b.spark
        calls = {
            "append": lambda t: t.write(spark.read.parquet(append)),
            "delete": lambda t: t.delete(spark, delete_pred),
            "update": lambda t: t.update(
                spark, {"o_totalprice": "o_totalprice + 1.5", "o_orderpriority": "'1-URGENT'"}, update_pred
            ),
            "merge": lambda t: t.merge(spark, spark.read.parquet(merge)),
            "compact": lambda t: t.compact(spark),
        }
        # the same writes in DuckDB, on the table's model ({m})
        model_sql = {
            "append": [f"INSERT INTO {{m}} SELECT * FROM read_parquet('{append}')"],
            "delete": [f"DELETE FROM {{m}} WHERE {delete_pred}"],
            "update": [
                "UPDATE {m} SET o_totalprice = o_totalprice + 1.5, o_orderpriority = '1-URGENT' "
                f"WHERE {update_pred}"
            ],
            "merge": [
                f"DELETE FROM {{m}} WHERE o_orderkey IN (SELECT o_orderkey FROM read_parquet('{merge}'))",
                f"INSERT INTO {{m}} SELECT * FROM read_parquet('{merge}')",
            ],
            "compact": [],
        }
        ops = []
        for kind in ("append", "delete", "update", "merge", "read", "compact", "time_travel"):
            for t in self.tables:
                if kind in calls:
                    ops.append(self._write_op(t, kind, calls[kind], model_sql[kind]))
                else:
                    ops.append(self._read_op(t, kind))
        return ops

    def _read_op(self, t: _Table, kind: str) -> Op:
        b = self.b
        version, model = (None, f"model_{t.fmt}") if kind == "read" else self.pass_start[t.fmt]

        def run() -> dict:
            with b.span("sources", f"{t.fmt}.read", time_travel=kind == "time_travel"):
                df = t.read(b.spark, version)
            with b.span("collect", "fresh") as sp:
                agg = _spark_agg(df)
                rows = agg.collect()
                sp.attrs["rows"] = len(rows)
            return {"df": agg, "rows": rows}

        def check(out: dict) -> str | None:
            want = sorted(self.con.execute(_LAKE_AGG_SQL.format(t=model)).fetchall())
            got = sorted(tuple(r) for r in out["rows"])
            return None if got == want else f"aggregate {got} != model {want}"

        return Op(f"{t.fmt}.{kind}", kind, run, check)

    def _write_op(self, t: _Table, kind: str, call, model_sql: list[str]) -> Op:
        b = self.b

        def run() -> dict:
            with b.span("sources", f"{t.fmt}.{kind}"):
                return {"version": call(t)}

        def check(out: dict) -> str | None:
            for sql in model_sql:
                self.con.execute(sql.format(m=f"model_{t.fmt}"))
            if b.tracer.enabled:
                listing = t.list_files()
                added = {p: s for p, s in listing.items() if p not in t.listing}
                meta = sum(1 for p in added if p.startswith(t.metadata_dir))
                self.write_stats.append((len(added) - meta, sum(added.values()), meta))
                t.listing = listing
            if kind != "compact" and out["version"] is None:
                return f"{kind} committed nothing"
            return None

        return Op(f"{t.fmt}.{kind}", kind, run, check)

    def finish(self) -> dict:
        """Table-directory bytes over the bytes of the live snapshots
        written once as plain parquet."""
        table_bytes = plain_bytes = 0
        for t in self.tables:
            table_bytes += sum(t.list_files().values())
            plain = os.path.join(self.b.wd.run, "plain", t.fmt)
            t.read(self.b.spark).write.parquet(plain)
            plain_bytes += sum(
                os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(plain) for f in fs if f.endswith(".parquet")
            )
        self.con.close()
        out = {"bytes_per_live_byte": table_bytes / plain_bytes}
        if self.write_stats:
            n = len(self.write_stats)
            out["sources.files_added"] = sum(s[0] for s in self.write_stats) / n
            out["sources.bytes_added"] = sum(s[1] for s in self.write_stats) / n
            out["sources.metadata_files"] = sum(s[2] for s in self.write_stats) / n
        return out


def _spark_agg(df):
    from pyspark.sql import functions as F

    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100)).cast("long").alias("cents"),
        F.sum("o_orderkey").cast("long").alias("keys"),
        F.countDistinct("o_orderpriority").alias("prios"),
    )


class GraphCc:
    """Each pass runs connected components on a fresh seeded graph: 400
    shallow components (diameter <= 3) plus four chains, the longest of
    diameter 16, so label propagation needs 16 rounds. The edge list becomes
    a DataFrame before the op starts, and labels are checked against a
    union-find over the same edges."""

    DIAMETERS = (16,)

    def __init__(self, bench: Bench) -> None:
        self.b = bench
        self.rng = np.random.default_rng(bench.seed)

    def make_inputs(self) -> None:
        pass

    def prepare(self) -> None:
        pass

    def _op(self, g: datagen.Graph) -> Op:
        from big_data_analytics_machine_learning_poc_spark.operators.dedup import connected_components

        b = self.b
        edges = b.spark.createDataFrame(g.edges, "doc_a long, doc_b long")

        def run() -> dict:
            with b.span("operators.dedup", "cc", diameter=g.diameter):
                labels = connected_components(edges)
            with b.span("collect", "fresh") as sp:
                rows = labels.collect()
                sp.attrs["rows"] = len(rows)
            return {"df": labels, "rows": rows}

        def check(out: dict) -> str | None:
            got = {r["doc_id"]: r["component"] for r in out["rows"]}
            if got == g.labels:
                return None
            wrong = sum(1 for k, v in g.labels.items() if got.get(k) != v)
            return f"{wrong} of {len(g.labels)} labels differ from union-find"

        return Op(f"cc_d{g.diameter}", "cc", run, check, attrs={"diameter": g.diameter})

    def ops(self, pass_no: int) -> list[Op]:
        return [self._op(datagen.cc_graph(self.rng, d)) for d in self.DIAMETERS]

    def finish(self) -> dict:
        return {"diameters": list(self.DIAMETERS)}


class Mix:
    """A workload made of op families: inputs, preparation and each pass
    run family by family, in the order given."""

    def __init__(self, bench: Bench, families) -> None:
        self.families = [f(bench) for f in families]

    def make_inputs(self) -> None:
        for f in self.families:
            f.make_inputs()

    def prepare(self) -> None:
        for f in self.families:
            f.prepare()

    def ops(self, pass_no: int) -> list[Op]:
        return [op for f in self.families for op in f.ops(pass_no)]

    def finish(self) -> dict:
        out: dict = {}
        for f in self.families:
            out.update(f.finish())
        return out


WORKLOADS = {
    "tables": lambda bench: Mix(bench, (StarSql, LakehouseDml)),
    "iterative": lambda bench: Mix(bench, (MlReference, GraphCc)),
}
