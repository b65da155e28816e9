"""The benchmark workloads.

Each workload makes its inputs from the seed in :meth:`setup`, then
exposes a fixed, seeded sequence of ops.  The first ``warmup_ops`` ops
run untimed inside set-up; the rest are timed one after another by a
single closed-loop client.  :meth:`verify` runs after the timed phase
and returns a list of problems (empty when every output is right).

An op is ``(name, kind, fn)``: ``kind`` is ``"read"`` or ``"write"`` and
``fn()`` does the work.  Results an op must hand to verification are
kept in memory and checked only after timing ends.
"""

from __future__ import annotations

import datetime as dt
import os
import pathlib
import statistics
import sys
import time

import numpy as np

import datagen

#: The eleven reference-corpus queries (the paper's analyst SQL).
ANALYST_QUERIES = (
    "q1_pruned_multi_agg q2_minute_vwap q3_order_flow q4_hourly_heatmap "
    "q5_whales q6_full_outer_align q6_pivot_align q7_dq_audit q8_pruned_count "
    "q9_daily_summary q9b_recent_activity".split()
)
#: Similarity/dedup queries run with them, so the ``llm`` package (exact
#: content-hash dedup; LSH top-k with its Python/Arrow UDFs) is measured.
#: At sf0.1 on local[4] these two took 0.4-2.9 s each and their DuckDB
#: oracles under 0.01 s.  The rest of the family took 2.2-5.7 s each warm
#: with oracles of up to 339 s (``llm_incremental_dedup``), more than a
#: run's time allows.
LLM_QUERIES = ["llm_exact_dedup", "llm_ann_lsh_topk"]
#: Registry tables scale: 600k lineitem rows, 5,000 documents, 2,000 vectors.
QUERY_SCALE = 0.1
_TABLES = "region nation customer supplier part orders lineitem events documents embeddings"


def _rowkey():
    """The row key of the repo's oracle gate (``tools/check.py``): each
    value canonicalized as the gate does it, so results are compared
    exactly as the gate compares them."""
    path = list(sys.path)
    from tools import check

    # check.py prepends a fixed checkout to sys.path; keep this run's
    sys.path[:] = path
    return check.rowkey


def same_result(cols, rows, ocols, orows) -> str | None:
    """``None`` when a query result equals its oracle's as the oracle gate
    compares them (same columns, same rows in any order), else what
    differs."""
    rowkey = _rowkey()
    if sorted(cols) != sorted(ocols):
        return f"columns {sorted(cols)} != oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"{len(rows)} rows != oracle {len(orows)}"
    cs = sorted(cols)
    got = sorted(rowkey(r, cs, {c: i for i, c in enumerate(cols)}) for r in rows)
    want = sorted(rowkey(r, cs, {c: i for i, c in enumerate(ocols)}) for r in orows)
    for g, w in zip(got, want):
        if g != w:
            return f"row {g} != oracle {w}"
    return None


def dir_bytes(path) -> tuple[int, int]:
    """``(files, bytes)`` of every regular file under ``path``."""
    n = b = 0
    for p in pathlib.Path(path).rglob("*"):
        if p.is_file():
            n += 1
            b += p.stat().st_size
    return n, b


class QueryWorkload:
    """Registered queries, each op one ``REGISTRY[name].fn`` + collect."""

    def __init__(self, names, passes: int):
        self.names = list(names)
        self.passes = passes

    def setup(self, ctx) -> None:
        from market_etl_spark.queries import REGISTRY

        self.ctx = ctx
        self.registry = REGISTRY
        self.data = str(ctx.run_dir / f"perfbench_sf{QUERY_SCALE}")
        datagen.write_star_schema(self.data, ctx.seed, QUERY_SCALE)
        rng = np.random.default_rng(ctx.seed)
        order = [n for _ in range(self.passes + 1) for n in rng.permutation(self.names)]
        self.warmup_ops = len(self.names)
        self.results: list[tuple[str, list, list]] = []
        self.ops = [(str(n), "read", self._op(str(n))) for n in order]

    def _op(self, name: str):
        spark, tr = self.ctx.spark, self.ctx.tracer
        fn = self.registry[name].fn

        def run():
            with tr.span("queries.build"):
                df = fn(spark, self.data)
            with tr.span("spark.action"):
                rows = df.collect()
            tr.catalyst(df)
            self.results.append((name, df.columns, rows))

        return run

    def verify(self) -> list[str]:
        import duckdb

        con = duckdb.connect()
        for t in _TABLES.split():
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data}/{t}.parquet')"
            )
        want: dict[str, tuple] = {}
        problems = []
        for name, cols, rows in self.results:
            if name not in want:
                res = con.execute(self.registry[name].oracle)
                want[name] = ([d[0] for d in res.description], res.fetchall())
            diff = same_result(cols, rows, *want[name])
            if diff:
                problems.append(f"{name}: {diff}")
        con.close()
        return problems

    def layer_metrics(self, spark) -> dict:
        return {"spark.persisted_rdds_end": len(spark._jsc.getPersistentRDDs())}


SYMBOLS = ("BTCUSDT", "ETHUSDT", "BNBUSDT")
#: Logical bytes of one lakehouse row: long id, int k, long v, 1-char tag.
ROW_BYTES = 21


class EtlWorkload:
    """Each op lands one new month for every symbol: download over
    ``file://`` from a seeded mirror, unzip, then the CSV→Parquet ETL
    into one growing catalog table."""

    rows_per_file = 10_000
    #: the reference's expected DQ drop rate with realistic data (FIXTURES.md, F1)
    bad_frac = 0.0005
    load_dt = dt.date(2025, 1, 1)
    table = "perfbench_trades"

    def __init__(self, months: int, warmup_ops: int):
        self.months = months
        self.warmup_ops = warmup_ops

    def setup(self, ctx) -> None:
        from market_etl_spark import etl
        from market_etl_spark.ingest.downloader import build_archive_path

        self.ctx = ctx
        # the ETL's single action and its catalog step are program calls
        # made inside run_trades_etl
        ctx.tracer.wrap(etl, "write_partitioned_parquet", "sinks.write")
        ctx.tracer.wrap(etl, "register_trades_table", "catalog.register")
        self.mirror = ctx.run_dir / "mirror"
        self.lake = ctx.run_dir / "lake"
        self.out = self.lake / "processed" / "trades"
        rng = np.random.default_rng(ctx.seed)
        self.expect: list[dict] = []
        self.csv_bytes = 0
        n_ops = self.warmup_ops + self.months
        for i in range(n_ops):
            year, month = 2024 + i // 12, i % 12 + 1
            exp = {"zip_bytes": 0, "rows": 0, "bad": 0}
            for sym in SYMBOLS:
                csv, bad = datagen.trade_month(
                    rng, sym, year, month, self.rows_per_file, self.bad_frac
                )
                key = build_archive_path(sym, year, month)
                name = key.rsplit("/", 1)[1][: -len(".zip")] + ".csv"
                blob = datagen.zip_member(name, csv)
                dest = self.mirror / key
                dest.parent.mkdir(parents=True, exist_ok=True)
                dest.write_bytes(blob)
                exp["zip_bytes"] += len(blob)
                exp["rows"] += self.rows_per_file
                exp["bad"] += bad
                if i >= self.warmup_ops:
                    self.csv_bytes += len(csv)
            self.expect.append(exp)
        self.got: list[dict] = []
        self.ops = [(f"month_{i:02d}", "write", self._op(i)) for i in range(n_ops)]

    def after_warmup(self) -> None:
        self.files_before_timed = dir_bytes(self.out)

    def _op(self, i: int):
        from market_etl_spark import etl
        from market_etl_spark.ingest.downloader import ArchiveDownloader
        from market_etl_spark.ingest.unzipper import StreamingUnzipper

        spark, tr = self.ctx.spark, self.ctx.tracer
        ym = f"{2024 + i // 12}-{i % 12 + 1:02d}"

        def run():
            dl = ArchiveDownloader(base_url=self.mirror.as_uri(), dest_root=str(self.lake))
            with tr.span("ingest.download"):
                dstats = dl.run(list(SYMBOLS), ym, ym)
            tr.add("ingest.download_bytes", dstats["bytes"])
            uz = StreamingUnzipper(lake_root=str(self.lake))
            with tr.span("ingest.unzip"):
                ustats = uz.run()
            tr.add("ingest.unzip_bytes", self._csv_bytes(ym) if tr.enabled else 0)
            src = (
                f"{self.lake}/raw_unzipped/binance/spot/trades/symbol=*/"
                f"year={ym[:4]}/month={ym[5:]}"
            )
            with tr.span("etl.run_trades_etl"):
                res = etl.run_trades_etl(
                    spark, src, str(self.out), table=self.table, load_dt=self.load_dt
                )
            self.got.append({"dl": dstats, "uz": ustats, "dq": res.metrics})
            tr.add("quality.kept_rows", res.metrics["kept_rows"])
            tr.add("quality.initial_rows", res.metrics["initial_rows"])

        return run

    def _csv_bytes(self, ym: str) -> int:
        root = self.lake / "raw_unzipped"
        return sum(p.stat().st_size for p in root.rglob(f"*-{ym}.csv"))

    def verify(self) -> list[str]:
        problems = []
        for i, (exp, got) in enumerate(zip(self.expect, self.got)):
            dl, uz, dq = got["dl"], got["uz"], got["dq"]
            want_dl = {
                "attempted": len(SYMBOLS), "downloaded": len(SYMBOLS),
                "skipped_exists": 0, "skipped_404": 0, "failed": 0,
                "bytes": exp["zip_bytes"],
            }
            want_uz = {
                "found": len(SYMBOLS) * (i + 1), "processed": len(SYMBOLS),
                "skipped": len(SYMBOLS) * i, "failed": 0,
            }
            if dl != want_dl:
                problems.append(f"month {i}: downloader stats {dl} != {want_dl}")
            if uz != want_uz:
                problems.append(f"month {i}: unzipper stats {uz} != {want_uz}")
            kept = exp["rows"] - exp["bad"]
            if (dq["initial_rows"], dq["kept_rows"], dq["removed_rows"]) != (
                exp["rows"], kept, exp["bad"],
            ):
                problems.append(f"month {i}: DQ counts {dq} != rows {exp['rows']}, bad {exp['bad']}")
        if len(self.got) == len(self.expect):
            n = self.ctx.spark.table(self.table).count()
            want = sum(e["rows"] - e["bad"] for e in self.expect)
            if n != want:
                problems.append(f"catalog table has {n} rows, want {want}")
        return problems

    def space(self) -> tuple[int, int]:
        """Bytes the timed months added under the table root, and the
        CSV bytes they came from."""
        _, b0 = self.files_before_timed
        return dir_bytes(self.out)[1] - b0, self.csv_bytes

    def layer_metrics(self, spark) -> dict:
        files0, bytes0 = self.files_before_timed
        files, size = dir_bytes(self.out)
        kept = self.ctx.tracer.counts
        return {
            "sinks.files_written": files - files0,
            "sinks.bytes_written": size - bytes0,
            "quality.kept_frac": kept["quality.kept_rows"] / max(kept["quality.initial_rows"], 1),
        }


class LakehouseWorkload:
    """A seeded read/write mix against one commit-log table.

    Each op commits an append, a delete and a merge, and reads after
    each write: a read aggregates the latest or an older snapshot.  A
    compaction follows every ``compact_every`` writes (once per op) and
    a checkpoint every ``ckpt_every`` commits, so the log grows through
    the run.  The benchmark keeps a model of the table
    (id -> row) per version to check every read and the final state."""

    initial_rows = 10_000
    append_rows = 250
    merge_rows = 200
    n_keys = 200
    read_back = 3
    ckpt_every = 8
    compact_every = 3

    def __init__(self, n_ops: int, warmup_ops: int):
        self.n_ops = n_ops
        self.warmup_ops = warmup_ops

    def setup(self, ctx) -> None:
        from market_etl_spark import lakehouse as lk

        self.ctx = ctx
        self.lk = lk
        self.path = str(ctx.run_dir / "lakehouse" / "tbl")
        self.inputs = ctx.run_dir / "lakehouse" / "inputs"
        self.inputs.mkdir(parents=True)
        rng = np.random.default_rng(ctx.seed)
        rows = datagen.lakehouse_rows(rng, 0, self.initial_rows, self.n_keys)
        self.next_id = self.initial_rows
        tx = lk.Transaction(self.path)
        tx.append(self._frame(self._batch(rows)).repartition(4))
        v = tx.commit()
        self.model = {r[0]: r for r in rows}
        #: version -> (count, sum v, sum k) of the model at that version
        self.versions = {v: self._agg(self.model)}
        self.snapshots = {}
        self.commits = 1
        self.writes = 0
        self.reads: list[tuple[int, tuple]] = []
        self.user_bytes = 0
        self.part_lat: list[tuple[float, float]] = []
        self.ops = self._plan(rng, self.warmup_ops + self.n_ops)
        self.mid_write = 3 * (self.warmup_ops + self.n_ops // 2)

    def _batch(self, rows) -> str:
        """Write ``rows`` as one parquet input file; returns its path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        path = str(self.inputs / f"batch-{len(os.listdir(self.inputs)):04d}.parquet")
        cols = list(zip(*rows))
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(cols[0], pa.int64()),
                    "k": pa.array(cols[1], pa.int32()),
                    "v": pa.array(cols[2], pa.int64()),
                    "tag": pa.array(cols[3], pa.string()),
                }
            ),
            path,
        )
        return path

    def _frame(self, path: str):
        return self.ctx.spark.read.parquet(path)

    @staticmethod
    def _agg(model) -> tuple:
        return (
            len(model),
            sum(r[2] for r in model.values()),
            sum(r[1] for r in model.values()),
        )

    def _plan(self, rng, n: int) -> list:
        """``n`` ops, each an append, a delete and a merge, each write
        followed by a read (of the latest version, of the version
        ``read_back`` commits back, then of the latest again), and a
        compaction.  Every op does the same kinds of work; the seed
        picks the rows, keys and ids."""
        ops = []
        for _ in range(n):
            parts = [
                (self._write(self._stage(rng, w)), self._read(back))
                for w, back in zip(("append", "delete", "merge"), (0, self.read_back, 0))
            ]
            ops.append(("txn", "txn", self._txn(parts)))
        return ops

    def _stage(self, rng, kind: str):
        if kind == "append":
            rows = datagen.lakehouse_rows(rng, self.next_id, self.append_rows, self.n_keys)
            self.next_id += self.append_rows
            batch = self._batch(rows)
            return lambda tx: self._append(tx, rows, batch)
        if kind == "delete":
            key = int(rng.integers(0, self.n_keys))
            return lambda tx: self._delete(tx, key)
        ids = rng.integers(0, self.next_id, self.merge_rows // 2)
        fresh = datagen.lakehouse_rows(rng, self.next_id, self.merge_rows // 2, self.n_keys)
        self.next_id += self.merge_rows // 2
        upd = datagen.lakehouse_rows(rng, 0, len(ids), self.n_keys)
        src = {int(j): (int(j), u[1], u[2], u[3]) for j, u in zip(ids, upd)}
        for r in fresh:
            src[r[0]] = r
        batch = self._batch(list(src.values()))
        return lambda tx: self._merge(tx, src, batch)

    def _txn(self, parts):
        def run():
            for write, read in parts:
                t = time.perf_counter()
                write()
                t1 = time.perf_counter()
                read()
                self.part_lat.append((t1 - t, time.perf_counter() - t1))

        return run

    # ------------------------------------------------------------ writes

    def _append(self, tx, rows, batch):
        with self.ctx.tracer.span("lakehouse.append"):
            tx.append(self._frame(batch))
        for r in rows:
            self.model[r[0]] = r
        self.user_bytes += len(rows) * ROW_BYTES

    def _delete(self, tx, key):
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("lakehouse.delete_where"):
            tx.delete_where(self.ctx.spark, F.col("k") == key)
        for rid in [rid for rid, r in self.model.items() if r[1] == key]:
            del self.model[rid]

    def _merge(self, tx, src, batch):
        from pyspark.sql import functions as F

        with self.ctx.tracer.span("lakehouse.merge_into"):
            tx.merge_into(
                self.ctx.spark, self._frame(batch), ["id"],
                when_matched_update={"k": F.col("s.k"), "v": F.col("s.v"), "tag": F.col("s.tag")},
            )
        # matched ids take the source row, unmatched ones are inserted
        self.model.update(src)
        self.user_bytes += len(src) * ROW_BYTES

    def _write(self, stage):
        tr = self.ctx.tracer

        def run():
            tx = self.lk.Transaction(self.path)
            stage(tx)
            v = self._commit(tx)
            self.writes += 1
            tr.add("lakehouse.files_rewritten", sum(1 for a in tx.actions if a["op"] == "remove"))
            tr.add("lakehouse.bytes_added", self._added_bytes(tx))
            if self.writes == self.mid_write:
                self.snapshots[v] = set(self.model.values())
            if self.writes % self.compact_every == 0:
                tx = self.lk.Transaction(self.path)
                with tr.span("lakehouse.compact"):
                    tx.compact(self.ctx.spark, n_files=4)
                self._commit(tx)

        return run

    def _commit(self, tx) -> int:
        """Commit ``tx``, record the model's aggregate at the new version,
        and checkpoint every ``ckpt_every`` commits."""
        tr = self.ctx.tracer
        with tr.span("lakehouse.commit"):
            try:
                v = tx.commit()
            except self.lk.CommitConflict:
                tr.add("lakehouse.commit_conflicts", 1)
                raise
        self.versions[v] = self._agg(self.model)
        self.commits += 1
        if self.commits % self.ckpt_every == 0:
            with tr.span("lakehouse.checkpoint"):
                self.lk.write_checkpoint(self.path)
        return v

    def _added_bytes(self, tx) -> int:
        if not self.ctx.tracer.enabled:
            return 0
        root = pathlib.Path(self.path)
        return sum((root / a["file"]).stat().st_size for a in tx.actions if a["op"] == "add")

    # ------------------------------------------------------------- reads

    def _read(self, back: int):
        from pyspark.sql import functions as F

        lk, tr, spark = self.lk, self.ctx.tracer, self.ctx.spark

        def run():
            latest = lk.latest_commit(self.path)
            version = max(min(self.versions), latest - back) if back else None
            with tr.span("lakehouse.snapshot"):
                lk.snapshot(self.path, version)
            with tr.span("lakehouse.read_table"):
                df = lk.read_table(spark, self.path, version=version)
            with tr.span("lakehouse.read_exec"):
                row = df.agg(F.count(F.lit(1)), F.sum("v"), F.sum("k")).collect()[0]
            self.reads.append((version or latest, tuple(int(x or 0) for x in row)))

        return run

    def verify(self) -> list[str]:
        lk, spark = self.lk, self.ctx.spark
        problems = []
        for v, got in self.reads:
            if self.versions.get(v) != got:
                problems.append(f"read of v{v}: {got} != model {self.versions.get(v)}")
        want = {lk.latest_commit(self.path): set(self.model.values()), **self.snapshots}
        for v, rows in want.items():
            got = {tuple(r) for r in lk.read_table(spark, self.path, version=v).collect()}
            if got != rows:
                problems.append(f"snapshot v{v}: {len(got)} rows differ from the model's {len(rows)}")
        return problems

    def space(self) -> tuple[int, int]:
        """Bytes under the table root vs the live snapshot's data bytes."""
        root = pathlib.Path(self.path)
        _, files = self.lk.snapshot(self.path)
        live = sum((root / f).stat().st_size for f in files)
        return dir_bytes(root)[1], live

    def after_warmup(self) -> None:
        del self.part_lat[:]

    def layer_metrics(self, spark) -> dict:
        c = self.ctx.tracer.counts
        writes = max(self.writes, 1)
        return {
            "op.write_p50_s": statistics.median(w for w, _ in self.part_lat),
            "op.read_p50_s": statistics.median(r for _, r in self.part_lat),
            "lakehouse.commit_conflicts": c["lakehouse.commit_conflicts"],
            "lakehouse.log_versions": self.lk.latest_commit(self.path),
            "lakehouse.live_files": len(self.lk.snapshot(self.path)[1]),
            "lakehouse.files_rewritten_per_write": c["lakehouse.files_rewritten"] / writes,
            "lakehouse.bytes_written_per_user_byte": c["lakehouse.bytes_added"]
            / max(self.user_bytes, 1),
        }


def make(name: str, seconds: int):
    """The workload ``name``.  Its op count is ``seconds`` times the op
    rate the workload sustains at local[4] when the benchmark was
    written, rounded to whole query passes: a fixed count for a given
    ``seconds``, never a time budget."""
    if name == "analyst_sql":
        names = ANALYST_QUERIES + LLM_QUERIES
        return QueryWorkload(names, passes=max(1, round(seconds * 1.1 / len(names))))
    if name == "etl_ingest":
        return EtlWorkload(months=max(2, round(seconds * 0.6)), warmup_ops=2)
    if name == "lakehouse_txn":
        return LakehouseWorkload(n_ops=max(2, round(seconds * 0.4)), warmup_ops=2)
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("analyst_sql", "etl_ingest", "lakehouse_txn")
