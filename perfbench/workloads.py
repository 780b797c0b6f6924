"""The benchmark's workloads: what one op does and how its output is
checked.

A query op calls a registry function (`taps_spark.queries`), forces
the plan it returns through `digest_frame` and compares the digest with the
committed reference. A transfer op is one leg of a taps transfer,
driven through `TransferOperation` between endpoints built the way the
CLI builds them (`taps_spark.cli._endpoint`); each leg keeps
`verify=True` and is further checked on source/target row counts.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Workload → ops of one pass. Why each was chosen is in README.md.
QUERY_OPS = (
    "q5_region_revenue",
    "scan_python_datasource",
    "dedup_minhash_lsh",
)
TRANSFER_OPS = ("push", "pull", "resume_pull")
WORKLOADS = {"query": QUERY_OPS, "transfer": TRANSFER_OPS}

#: Transfer tables and their idempotency keys (`--keys` form).
TRANSFER_KEYS = {"orders": ["o_orderkey"]}
TRANSFER_TABLES = "^(orders|lineitem)$"
#: Rows per chunk of the resumable pull of `orders`.
CHUNK_ROWS = 1000

#: Doubles are hashed as text with this many significant digits, so a
#: different fold order in the last bits cannot change a digest.
DIGITS = 9


def pass_order(workload: str, seed: int, pass_no: int) -> list[str]:
    """Seed-chosen op order of one pass. `push` fills the database the
    other transfer legs read, so it always goes first."""
    ops = list(WORKLOADS[workload])
    rng = random.Random(f"{seed}:{pass_no}")
    if workload == "transfer":
        rest = ops[1:]
        rng.shuffle(rest)
        return ops[:1] + rest
    rng.shuffle(ops)
    return ops


def _canonical(col, dtype):
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        # + 0.0 folds -0.0 into 0.0; %.Ne keeps N+1 significant digits.
        return F.format_string(f"%.{DIGITS - 1}e", col.cast("double") + F.lit(0.0))
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, (T.DoubleType, T.FloatType)):
        return F.transform(col, lambda x: _canonical(x, dtype.elementType))
    return col


def digest_frame(df: DataFrame) -> DataFrame:
    """One-row frame: row count and an order-insensitive sum of
    per-row xxhash64 values over every column."""
    cols = [_canonical(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("hash"),
    )


def digest_value(row) -> dict:
    return {"rows": int(row["rows"]), "hash": str(int(row["hash"] or 0))}


class InjectedCrash(RuntimeError):
    """Raised by CountingTarget; stands for the process dying."""


@dataclass
class CountingTarget:
    """Endpoint proxy that counts the rows each chunk write appended
    and, when `crash_at` is set, raises after that many writes have
    landed (before the manifest records the chunk's watermark)."""

    inner: object
    crash_at: int | None = None
    writes: int = 0
    appended: int = 0

    def tables(self) -> list[str]:
        return self.inner.tables()

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return self.inner.read(spark, table)

    def write(self, spark: SparkSession, table: str, df: DataFrame, key_cols) -> int:
        n = self.inner.write(spark, table, df, key_cols)
        self.writes += 1
        self.appended += max(n, 0)
        if self.writes == self.crash_at:
            raise InjectedCrash(f"crash after chunk {self.writes} of {table}")
        return n


@dataclass
class TransferBench:
    """Endpoints and scratch paths of the transfer workload. The
    database is embedded Derby under `work_dir`; targets are dropped
    after every pass so the next push is a full load."""

    data_dir: str
    work_dir: str
    source_rows: dict[str, int]
    orders_keys: list[int]
    last: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        from taps_spark.cli import _endpoint

        self.url = f"jdbc:derby:{os.path.join(self.work_dir, 'db')};create=true"
        self.lake = _endpoint(self.data_dir, TRANSFER_KEYS)
        self.db = _endpoint(self.url, TRANSFER_KEYS)

    def _path(self, name: str) -> str:
        return os.path.join(self.work_dir, name)

    def _operation(self, source, target, manifest: str, pattern: str, chunk_rows=None):
        from taps_spark.transfer.manifest import TransferManifest
        from taps_spark.transfer.operation import TransferOperation

        return TransferOperation(
            source=source,
            target=target,
            manifest=TransferManifest.load(self._path(manifest)),
            table_pattern=pattern,
            key_cols=TRANSFER_KEYS,
            verify=True,
            chunk_rows=chunk_rows,
        )

    def _check(self, result, tables: list[str]) -> list[str]:
        errors = []
        for t in tables:
            if result.transferred.get(t) != self.source_rows[t]:
                errors.append(f"{t}: {result.transferred.get(t)} rows, want {self.source_rows[t]}")
            if t not in result.verified:
                errors.append(f"{t}: not verified")
        return errors

    def push(self, spark: SparkSession) -> tuple[int, list[str]]:
        result = self._operation(self.lake, self.db, "push.json", TRANSFER_TABLES).run(spark)
        tables = sorted(self.source_rows)
        return sum(self.source_rows.values()), self._check(result, tables)

    def pull(self, spark: SparkSession) -> tuple[int, list[str]]:
        from taps_spark.cli import _endpoint

        target = _endpoint(self._path("lake_pull"), TRANSFER_KEYS)
        result = self._operation(self.db, target, "pull.json", TRANSFER_TABLES).run(spark)
        return sum(self.source_rows.values()), self._check(result, sorted(self.source_rows))

    def resume_pull(self, spark: SparkSession, crash_at: int) -> tuple[int, list[str]]:
        """Chunked pull of `orders`: the first attempt dies after chunk
        `crash_at` has landed, a second operation resumes from the
        manifest. Records what the resume re-read and re-shipped."""
        from taps_spark.cli import _endpoint
        from taps_spark.transfer.manifest import TransferManifest

        lake = self._path("lake_resume")
        first = CountingTarget(_endpoint(lake, TRANSFER_KEYS), crash_at=crash_at)
        try:
            self._operation(self.db, first, "resume.json", "^orders$", CHUNK_ROWS).run(spark)
        except InjectedCrash:
            pass
        else:
            return 0, [f"injected crash at chunk {crash_at} never fired"]
        mark = TransferManifest.load(self._path("resume.json")).watermark("orders")
        second = CountingTarget(_endpoint(lake, TRANSFER_KEYS))
        result = self._operation(self.db, second, "resume.json", "^orders$", CHUNK_ROWS).run(spark)
        n = self.source_rows["orders"]
        read_again = sum(1 for k in self.orders_keys if mark is None or k > mark)
        reshipped = read_again - second.appended
        self.last = {
            "chunks": first.writes + second.writes,
            "reshipped_rows": reshipped,
            "read_amplification": (first.appended + read_again) / n,
        }
        errors = []
        if result.transferred.get("orders") != second.appended or "orders" not in result.verified:
            errors.append(f"orders: resumed run {result.transferred}, verified {result.verified}")
        if first.appended + second.appended != n:
            errors.append(f"orders: {first.appended}+{second.appended} rows landed, want {n}")
        if not 0 <= reshipped <= CHUNK_ROWS:
            errors.append(f"orders: {reshipped} rows re-shipped, more than one chunk")
        return n, errors

    def n_chunks(self) -> int:
        return -(-self.source_rows["orders"] // CHUNK_ROWS)

    def reset(self, spark: SparkSession) -> None:
        """Drop every target of the pass (tables that exist only)."""
        from taps_spark.io.jdbc import execute_jdbc_sql, list_jdbc_tables

        present = set(list_jdbc_tables(spark, self.url))
        drops = [f"DROP TABLE {t}" for t in sorted(self.source_rows) if t in present]
        if drops:
            execute_jdbc_sql(spark, self.url, *drops)
        for name in ("lake_pull", "lake_resume", "push.json", "pull.json", "resume.json"):
            path = self._path(name)
            if os.path.isdir(path):
                shutil.rmtree(path)
            elif os.path.exists(path):
                os.unlink(path)


def crash_chunk(seed: int, pass_no: int, n_chunks: int) -> int:
    """Seed-chosen chunk after which the first resume attempt dies;
    never the last chunk, so there is always something to resume."""
    return random.Random(f"crash:{seed}:{pass_no}").randint(1, n_chunks - 1)
