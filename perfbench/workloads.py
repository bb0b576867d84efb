"""The benchmark workloads.  Each one drives the package's public functions
on generated inputs; every timed call sits inside a tracer span named after
the layer it enters.

Protocol (used by ``run.py``):

- ``setup_round(root)`` generates and writes the inputs under ``root``
  (timed; repeated, and the median goes into ``setup_s``);
- ``prime()`` is the program's one-time set-up work on those inputs (timed
  once, added to ``setup_s``);
- ``warm_up()`` runs untimed, checked warm-up work; returns failed checks;
- ``prepare(i)`` makes op ``i``'s input arrive (untimed);
- ``op(i, prep)`` is the timed op; returns its stats;
- ``check(i, prep, stats)`` verifies op ``i``'s outputs (untimed);
- ``done(i, traced)`` tells whether the run may stop after op ``i`` once
  its time is spent;
- ``traced(i)`` tells whether op ``i`` of a traced run is traced (traced
  runs interleave traced and untraced ops for ``trace.overhead_pct``).
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import gen, mix
from perfbench.trace import dir_files, written


class EtlHourly:
    """The reference cron job, one simulated hour per op: paged ingest →
    keyed-dedup ingest → parquet append → cursor merge; every 6th hour a
    holders snapshot through the streaming Top-100 maintenance; every hour
    the Top-100 derivation and the whale-activity report, rendered and
    handed to a notifier.  The first measured hour opens a new bucket, so
    every run holds exactly one snapshot hour in its first six ops, and at
    least three ops."""

    name = "etl_hourly"
    history_hours = 47  # hours 0..46 stored at set-up; hour 47 warms up
    warm_hours = 1
    n_holders = 20_000
    rows_per_hour = 3_000

    def __init__(self, spark, seed: int, tracer, traced_io: bool):
        from merl_etl_spark.plans.reporting import CollectingNotifier

        self.spark = spark
        self.chain = gen.Chain(seed, n_holders=self.n_holders,
                               rows_per_hour=self.rows_per_hour)
        self.tr = tracer
        self.traced_io = traced_io
        self.notifier = CollectingNotifier()
        self._top100: dict[int, list[tuple]] = {}

    # -- set-up ----------------------------------------------------------------

    def setup_round(self, root: str) -> None:
        for k in ("transfers", "cursors", "snapshots", "state", "top100", "checkpoint"):
            setattr(self, f"{k}_dir", os.path.join(root, k))
        hours = range(self.history_hours)
        part = os.path.join(self.transfers_dir, f"contract_address={gen.TOKEN}")
        os.makedirs(part)
        transfers, cursors = self.chain.stored_tables(hours)
        pq.write_table(transfers, os.path.join(part, "history.parquet"))
        os.makedirs(self.cursors_dir)
        pq.write_table(cursors, os.path.join(self.cursors_dir, "cursors.parquet"))
        os.makedirs(self.snapshots_dir)
        self._land_snapshot(gen.bucket_of_hour(self.history_hours - 1), n_files=1)

    def prime(self) -> None:
        """First Top-100 maintenance run: builds the holders state and the
        Top-100 output of the current bucket (one file, one micro-batch)."""
        self._maintain().awaitTermination()

    def _land_snapshot(self, b: int, n_files: int = 3) -> int:
        """Write bucket ``b``'s snapshot files into the stream's source
        directory; returns their size in bytes."""
        size = 0
        for i, part in enumerate(self.chain.holders_snapshot_files(b, n_files)):
            path = os.path.join(self.snapshots_dir, f"bucket-{b:05d}-{i}.parquet")
            pq.write_table(gen.to_arrow(part), path + ".tmp")
            os.rename(path + ".tmp", path)
            size += os.path.getsize(path)
        return size

    def _maintain(self):
        from merl_etl_spark.streaming.pipeline import run_top100_maintenance

        stream = (
            self.spark.readStream.schema(gen.HOLDERS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(self.snapshots_dir)
        )
        return run_top100_maintenance(
            self.spark, stream, gen.TOKEN, self.state_dir, self.top100_dir, self.checkpoint_dir
        )

    def warm_up(self) -> list[str]:
        failures = []
        b0 = gen.bucket_of_hour(self.history_hours - 1)
        if not self._top100_ok(b0):
            failures.append(f"primed Top-100 of bucket {b0}")
        for i in range(-self.warm_hours, 0):
            prep = self.prepare(i)
            if not self.check(i, prep, self.op(i, prep)):
                failures.append(f"warm-up hour {self.hour(i)}")
        return failures

    # -- ops -------------------------------------------------------------------

    def hour(self, i: int) -> int:
        return self.history_hours + self.warm_hours + i

    def kind(self, i: int) -> str:
        return "snapshot" if self.hour(i) % 6 == 0 else "plain"

    def done(self, i: int, traced: bool) -> bool:
        # at least the snapshot hour and two plain hours: the median is then
        # the slower plain hour.  A traced run traces every other hour and
        # needs as many traced hours, plus two untraced plain hours.
        return i + 1 >= (5 if traced else 3)

    def traced(self, i: int) -> bool:
        return i % 2 == 0

    def expected_top100(self, b: int) -> list[tuple]:
        if b not in self._top100:
            self._top100[b] = self.chain.top100(b)
        return self._top100[b]

    def _listing(self) -> dict:
        out = {}
        for d in (self.transfers_dir, self.cursors_dir, self.state_dir, self.top100_dir):
            out.update(dir_files(d))
        return out

    def prepare(self, i: int) -> dict:
        h = self.hour(i)
        prep = {"h": h, "fetch": self.chain.page_fn(h), "snapshot_bytes": 0}
        if self.traced_io:
            prep["files_before"] = self._listing()
        if h % 6 == 0:
            prep["snapshot_bytes"] = self._land_snapshot(gen.bucket_of_hour(h))
        return prep

    def op(self, i: int, prep: dict) -> dict:
        from merl_etl_spark.plans.jobs import activity_report, derive_top100, ingest_transfers
        from merl_etl_spark.plans.reporting import render_activity_report
        from merl_etl_spark.sinks import merge_into_parquet, write_partitioned
        from merl_etl_spark.sources.paged import ingest_pages_to_df

        spark, tr, h = self.spark, self.tr, prep["h"]
        stats: dict = {"groups": []}
        with tr.span("sources.paged.ingest"):
            raw, page_stats = ingest_pages_to_df(
                spark, prep["fetch"], gen.RAW_SCHEMA, gen.RAW_COLUMNS,
                page_size=self.chain.page_size, rate_limiter=None,
            )
        stats.update(pages=page_stats["pages"], rows=page_stats["rows"])
        with tr.span("jobs.ingest_transfers"):
            new_rows, cursors = ingest_transfers(
                raw, spark.read.parquet(self.transfers_dir), spark.read.parquet(self.cursors_dir)
            )
            # the job's stats step (rows appended this hour); the cached rows
            # then feed both the append and the cursor merge
            new_rows = new_rows.cache()
            stats["appended"] = new_rows.count()
        with tr.span("sinks.append"):
            write_partitioned(new_rows, self.transfers_dir, ["contract_address"])
        with tr.span("sinks.merge_into_parquet"):
            merge_into_parquet(
                spark, self.cursors_dir, cursors, keys=["stream"],
                order_by=[F.col("last_scanned_block").desc(), F.col("last_page").desc()],
            )
        new_rows.unpersist()
        if h % 6 == 0:
            with tr.span("streaming.maintenance"):
                query = self._maintain()
                query.awaitTermination()
            progress = query.recentProgress
            stats["groups"].append(str(query.runId))
            stats["batches"] = sum(1 for p in progress if p.numInputRows > 0)
            stats["trigger_ms"] = sum(p.durationMs.get("triggerExecution", 0) for p in progress)
            stats["add_batch_ms"] = sum(p.durationMs.get("addBatch", 0) for p in progress)
        asof = gen.hour_start(h + 1)
        with tr.span("jobs.derive_top100"):
            top = derive_top100(spark.read.parquet(self.state_dir), gen.TOKEN)
        with tr.span("jobs.activity_report"):
            totals, movers = activity_report(spark.read.parquet(self.transfers_dir), top,
                                             gen.TOKEN, asof)
        with tr.span("reporting.render"):
            message = render_activity_report(totals, movers, gen.TOKEN_SYMBOL,
                                             asof.strftime("%Y-%m-%d %H:%M UTC"))
        self.notifier.send(message)
        stats["message"] = message
        return stats

    def _top100_ok(self, b: int) -> bool:
        rows = (
            self.spark.read.parquet(self.top100_dir)
            .filter(F.col("bucket_start_utc") == F.lit(gen.bucket_start(b)))
            .select("rnk", "holder_address", "balance")
            .orderBy("rnk")
            .collect()
        )
        got = [(r.rnk, r.holder_address, r.balance) for r in rows]
        return got == [(e[0], e[1], e[4]) for e in self.expected_top100(b)]

    def check(self, i: int, prep: dict, stats: dict) -> bool:
        h = prep["h"]
        b = gen.bucket_of_hour(h)
        if self.traced_io:
            after = self._listing()
            files, nbytes = written(prep["files_before"], after)
            appended = sum(size for p, (size, _m) in after.items()
                           if p.startswith(self.transfers_dir) and p not in prep["files_before"])
            stats.update(files_written=files, bytes_written=nbytes,
                         input_bytes=appended + prep["snapshot_bytes"])
        if stats["appended"] != self.chain.rows_per_hour:
            return False
        if h % 6 == 0 and not self._top100_ok(b):
            return False
        wallets = {e[1] for e in self.expected_top100(b)}
        totals = gen.report_totals(self.chain.hour_rows(h), wallets)
        lines = stats["message"].split("\n")
        return (lines[1:3] == gen.expected_report_lines(totals)
                and len(lines) == 5 + min(10, totals["active_wallets"]))


class OperatorMix:
    """Registered queries on fixture-shaped tables, each forced through the
    noop sink.  A run measures whole passes over the mix, each in the
    recorded order of ``mix.json``.  The run seed changes nothing here: the
    tables come from the recorded ``fixture_seed``, and the order is fixed
    because the first measured pass still warms up along its length (its
    first ops ran ~10% above their query's median, its last ~14% below), so
    a seeded shuffle moved each query's latency by up to ±10% from run to
    run."""

    name = "operator_mix"
    check_threads = 4

    def __init__(self, spark, seed: int, tracer, traced_io: bool):
        from merl_etl_spark import registry

        self.registry = registry
        self.spark = spark
        self.tr = tracer
        self.mix = mix.load_mix()
        self.queries = mix.mix_queries(self.mix)
        self.bad: set[str] = set()
        self.rows_in: dict[str, int] = {}

    def setup_round(self, root: str) -> None:
        self.data_dir = os.path.join(root, "fixture")
        self.file_rows = gen.write_fixture(
            gen.fixture_tables(self.mix["fixture_seed"], self.mix["fixture_scale"]),
            self.data_dir,
        )

    def prime(self) -> None:
        """Load every registering module (the queries' first, cold runs are
        the checked warm-up pass)."""
        self.registry.load_all()

    def _run(self, q: str) -> None:
        fn = self.registry.QUERIES[q]
        fn(self.spark, self.data_dir).write.mode("overwrite").format("noop").save()

    def _check_one(self, q: str) -> str | None:
        """Collect ``q`` and hash-compare it with its DuckDB oracle; returns
        the failure, if any.  Also records the query's input rows."""
        from merl_etl_spark.sources.tables import TABLES

        try:
            df = self.registry.QUERIES[q](self.spark, self.data_dir)
            files = {os.path.abspath(f.removeprefix("file:")) for f in df.inputFiles()}
            self.rows_in[q] = sum(self.file_rows.get(f, 0) for f in files)
            got = mix.result_hash(df.toPandas())
            con = mix.duck_connect(self.data_dir, TABLES)
            try:
                want = mix.oracle_hash(con, self.registry.ORACLES[q])
            finally:
                con.close()
        except Exception as exc:  # a failing query is a finding, not a crash
            return f"{q}: {exc!r}"[:300]
        return None if got == want else f"{q}: result differs from its oracle"

    def warm_up(self) -> list[str]:
        """A checked pass over the mix, ``check_threads`` queries at a time
        (the measured loop itself stays single-client); it is also each
        query's first, cold execution."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(self.check_threads) as ex:
            outcomes = list(ex.map(self._check_one, self.queries))
        failures = []
        for q, problem in zip(self.queries, outcomes):
            if problem:
                self.bad.add(q)
                failures.append(problem)
        return failures

    def module(self, q: str) -> str:
        return self.registry.QUERIES[q].__module__.removeprefix("merl_etl_spark.")

    def query(self, i: int) -> str:
        return self.queries[i % len(self.queries)]

    def kind(self, i: int) -> str:
        return self.query(i)

    def done(self, i: int, traced: bool) -> bool:
        n = len(self.queries)
        return (i + 1) % n == 0 and (not traced or i + 1 >= 2 * n)

    def traced(self, i: int) -> bool:
        # each query is traced in one of the first two passes and untraced
        # in the other; half of them are traced in the first pass
        n = len(self.queries)
        return (i % n + i // n) % 2 == 0

    def prepare(self, i: int) -> dict:
        return {"q": self.query(i)}

    def op(self, i: int, prep: dict) -> dict:
        q = prep["q"]
        with self.tr.span(f"{self.module(q)}.query"):
            self._run(q)
        return {"groups": [], "rows": self.rows_in.get(q, 0), "module": self.module(q)}

    def check(self, i: int, prep: dict, stats: dict) -> bool:
        return prep["q"] not in self.bad


WORKLOADS = {w.name: w for w in (EtlHourly, OperatorMix)}
