"""``connector-http``: bulk writes beside reads through the Cypher connector,
against the benchmark's fake Neo4j endpoint (``endpoint.py``) over
localhost HTTP.

The data is a seeded 50k-row table (an int key, a variable-length string, a
double and a boolean, with a seeded share of nulls) stored as one parquet
part per core and loaded through the catalog. Each round runs six ops in a
seeded order:

- ``write_cypher`` with ``CREATE`` at batch sizes 100, 1,000 and 10,000,
  each into an emptied label;
- ``df.write.format("cypher")`` with ``MERGE`` on the key;
- ``read_cypher`` and ``spark.read.format("cypher")`` of the merged label,
  each with one id-modulo split per core, drained by a count-and-checksum
  aggregate.

A write is checked on the rows the endpoint received during the op, and on
the row count and row checksum it then holds for the label; a read on its
row count and an ``xxhash64`` checksum against the source table's.
"""

from __future__ import annotations

import functools
import http.client
import json
import os
import random
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import harness
from endpoint import row_checksum

N_ROWS = 50_000
SCHEMA = "k bigint, s string, x double, b boolean"
COLUMNS = ("k", "s", "x", "b")
WRITES = {"b100": 100, "b1000": 1_000, "b10000": 10_000}
READ_QUERY = "MATCH (n:DS) RETURN n.k AS k, n.s AS s, n.x AS x, n.b AS b"
READ_SPLIT = "MATCH (n:DS) WHERE n.k % {n} = {i} RETURN n.k AS k, n.s AS s, n.x AS x, n.b AS b"
OPS = ("write.b100", "write.b1000", "write.b10000", "write.ds", "read.fn", "read.ds")
_MASK = (1 << 64) - 1


def make_rows(seed: int, n: int = N_ROWS) -> pa.Table:
    """The seeded source table."""
    rng = np.random.default_rng(seed)
    null_share = rng.uniform(0.02, 0.2)

    def nulls() -> np.ndarray:
        return rng.random(n) < null_share

    lengths = rng.integers(0, 41, n)
    alphabet = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz0123456789 ", dtype="S1")
    chars = alphabet[rng.integers(0, len(alphabet), int(lengths.sum()))].tobytes().decode()
    ends = np.cumsum(lengths)
    strings = [chars[e - ln:e] for e, ln in zip(ends.tolist(), lengths.tolist())]
    return pa.table({
        "k": pa.array(rng.permutation(n), pa.int64()),
        "s": pa.array(strings, pa.string(), mask=nulls()),
        "x": pa.array(np.round(rng.normal(0, 1000, n), 3), pa.float64(), mask=nulls()),
        "b": pa.array(rng.random(n) < 0.5, pa.bool_(), mask=nulls()),
    })


def endpoint_checksum(table: pa.Table) -> int:
    """What the endpoint's label checksum must read after storing ``table``."""
    total = 0
    for row in table.to_pylist():
        total += row_checksum([row[c] for c in sorted(row)])
    return total & _MASK


def digest():
    """Order-independent checksum of a frame of :data:`COLUMNS`, as a Spark
    aggregate (decimal, so the sum of 64-bit hashes cannot overflow)."""
    from pyspark.sql import functions as F

    return F.sum(F.xxhash64(*COLUMNS).cast("decimal(38,0)"))


def round_order(seed: int, round_idx: int) -> list[str]:
    order = list(OPS)
    random.Random(f"connector-http:{seed}:{round_idx}").shuffle(order)
    return order


class Endpoint:
    """The fake endpoint as a child process, and a client for its control
    paths."""

    def __init__(self):
        script = os.path.join(os.path.dirname(os.path.abspath(__file__)), "endpoint.py")
        self.proc = subprocess.Popen(
            [sys.executable, script], stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True
        )
        self.port = int(self.proc.stdout.readline())
        self.rest_uri = f"http://127.0.0.1:{self.port}/db/data/"

    def _call(self, method: str, path: str) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=60)
        try:
            conn.request(method, path, body=b"" if method == "POST" else None)
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stats(self) -> dict:
        return self._call("GET", "/bench/stats")

    def clear(self, label: str) -> None:
        self._call("POST", f"/bench/clear?label={label}")

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait(timeout=60)
        self.proc.stdout.close()


class ConnectorHttp:
    name = "connector-http"
    tables = ("rows",)

    def __init__(self, seed: int, run_dir: str):
        self.seed = seed
        self.data_dir = run_dir
        table = make_rows(seed)
        parts = os.path.join(run_dir, "rows.parquet")
        os.makedirs(parts, exist_ok=True)
        step = -(-N_ROWS // harness.cpus())
        for i, start in enumerate(range(0, N_ROWS, step)):
            pq.write_table(table.slice(start, step), os.path.join(parts, f"part-{i}.parquet"))
        self.want_checksum = endpoint_checksum(table)
        self.endpoint = Endpoint()
        self._stats: dict = {}

    def build(self, spark) -> None:
        from flink_neo4j_spark.catalog import load_table
        from flink_neo4j_spark.sources.datasource import CypherDataSource
        from flink_neo4j_spark.sources.transport import HttpTransport

        self.spark = spark
        spark.dataSource.register(CypherDataSource)
        self.rows = load_table(spark, self.data_dir, "rows")
        self.factory = functools.partial(HttpTransport, self.endpoint.rest_uri, read_timeout_s=60.0)

    def warm_up(self) -> None:
        (self.want_hash,) = self.rows.agg(digest()).first()
        # fills the merged label and the endpoint's read cache, and runs each
        # write and read path once
        for name in ("write.ds", "write.b10000", "read.fn", "read.ds"):
            harness.warm(lambda n=name: self._op(n).run(harness.NullTracer()))
        self.endpoint.clear("B10000")

    def round(self, round_idx: int) -> list["harness.Op"]:
        return [self._op(name) for name in round_order(self.seed, round_idx)]

    # -- ops -----------------------------------------------------------
    def _op(self, name: str) -> "harness.Op":
        kind, variant = name.split(".")
        if kind == "read":
            run, label = (lambda tracer: self._read(variant, tracer)), None
        else:
            label = "DS" if variant == "ds" else variant.upper()
            run = lambda tracer: self._write(variant, label, tracer)  # noqa: E731
        return harness.Op(
            kind, name, run,
            before=lambda: self._before(label),
            after=lambda tracer, rows, check: self._after(label, tracer, rows, check),
        )

    def _write(self, variant: str, label: str, tracer):
        from flink_neo4j_spark.sources.cypher import write_cypher

        if variant == "ds":
            with tracer.call("sources.write.ds"):
                (
                    self.rows.write.format("cypher").mode("append")
                    .option("transport", "http").option("rest_uri", self.endpoint.rest_uri)
                    .option("read_timeout_s", "60").option("label", label)
                    .option("merge_key", "k").option("batch_size", "1000")
                    .save()
                )
        else:
            with tracer.call(f"sources.write.{variant}"):
                write_cypher(self.rows, self.factory, label=label, batch_size=WRITES[variant])
        return 0, None

    def _before(self, label: str | None) -> None:
        if label not in (None, "DS"):
            self.endpoint.clear(label)
        self._stats = self.endpoint.stats()

    def _after(self, label: str | None, tracer, rows: int, check):
        """Counts the endpoint's side of the op; for a write, the rows it
        acknowledged and the check of what it stored."""
        stats = self.endpoint.stats()
        delta = {k: stats[k] - self._stats[k] for k in stats if k != "labels"}
        delta["connections"] -= 1  # the stats request's own connection
        for key in ("requests", "connections", "bytes_in", "bytes_out"):
            tracer.count(f"endpoint.{key}", delta[key])
        tracer.count("endpoint.busy_ms", delta["busy_ns"] / 1e6)
        if label is None:
            return rows, check
        got = stats["labels"].get(label, {"rows": 0, "checksum": 0})
        written = delta["rows_written"]

        def check_store() -> str | None:
            # the MERGE label already holds every row from the warm-up and
            # earlier rounds, so the store alone cannot show a short write
            if written != N_ROWS:
                return f"{written} rows sent, expected {N_ROWS}"
            if got["rows"] != N_ROWS:
                return f"{got['rows']} rows stored, expected {N_ROWS}"
            if got["checksum"] != self.want_checksum:
                return "stored row checksum differs from the source table's"
            return None

        return written, check_store

    def _read(self, variant: str, tracer):
        from pyspark.sql import functions as F

        from flink_neo4j_spark.sources.cypher import read_cypher

        n = harness.cpus()
        with tracer.call(f"sources.read.{variant}"):
            if variant == "ds":
                df = (
                    self.spark.read.format("cypher")
                    .option("transport", "http").option("rest_uri", self.endpoint.rest_uri)
                    .option("read_timeout_s", "60").option("query", READ_QUERY)
                    .option("schema", SCHEMA).option("num_partitions", str(n))
                    .option("partition_template", READ_SPLIT)
                    .load()
                )
            else:
                df = read_cypher(
                    self.spark, self.factory, READ_QUERY, SCHEMA,
                    num_partitions=n, partition_template=READ_SPLIT,
                )
            agg = df.agg(F.count(F.lit(1)), digest())
        with tracer.call("spark.action", agg):
            count, checksum = agg.first()

        def check() -> str | None:
            if count != N_ROWS:
                return f"{count} rows read, expected {N_ROWS}"
            if checksum != self.want_hash:
                return "read checksum differs from the source table's"
            return None

        return count, check

    def close(self) -> None:
        self.endpoint.close()
