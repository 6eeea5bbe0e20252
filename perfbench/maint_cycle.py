"""``maint_cycle``: the Delta workload — whole-table maintenance on the
data plane, with metadata questions asked beside the writes.

Tables: generated lineitem rows with a unique bench-added ``row_id``,
written as 16 files range-clustered on ``l_orderkey`` (so range reads
can prune on file stats until a whole-table rewrite reshuffles them),
and a customer SCD2 dimension. Both are built by ``write_delta``. The
lineitem table is unpartitioned: ``drop_duplicates`` raises an
AnalysisException on partitioned tables (``_metadata`` is not
resolvable after the partition-value join in ``Snapshot.to_df``).

Each cycle (one block, 16 ops):

1. appends a seeded batch of injected duplicates — exact copies of live
   rows (same ``row_id``), pairs of new rows sharing ``(l_orderkey,
   l_linenumber)``, and re-keyed copies sharing ``(l_orderkey,
   l_partkey)`` with a higher ``row_id``;
2. a user session opens ``LeviTable.for_path(...).snapshot()`` and asks
   the four metadata questions through ``levi_spark.api``, in seeded
   order, against that one snapshot;
3. runs ``drop_duplicates`` on ``row_id``, ``kill_duplicates`` on
   ``(l_orderkey, l_linenumber)`` and ``drop_duplicates_pkey`` (pk
   ``row_id``) on ``(l_orderkey, l_partkey)``; each removes exactly one
   of the injected groups, so the live rows return to the base set and
   cycles repeat;
4. upserts seeded changed / unchanged / new customers with
   ``type_2_scd_upsert`` (the dimension keeps its history, so it grows
   by the changed and new rows each cycle);
5. a second session asks the four questions again;
6. runs a ``pruned_scan`` range read on ``l_orderkey``, compacts with
   ``compact_small_files`` (default thresholds: at this scale every file
   is small, so it rewrites the table), and reads again.

The question kinds are ``skipped_stats``, ``delta_file_sizes``,
``updated_partitions`` and ``latest_version``; five commits per cycle
cross a checkpoint every other cycle, so a snapshot or log cache must
see new versions. Every
result is checked against the benchmark's own log replay and a pyarrow
read of the live files.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from perfbench import inputs
from perfbench.harness import expect
from perfbench.replay import LogReplay, expected_file_sizes, expected_skipped

BASE_ORDERS = 8_000  # ~32k rows
N_FILES = 16
FILE_ROWS = 2048
DIM_ROWS = 5_000
N_EXACT, N_PAIRS, N_REKEYED = 150, 75, 150
N_CHANGED, N_UNCHANGED, N_NEW = 100, 30, 30
KILL_KEY = ["l_orderkey", "l_linenumber"]
PKEY_KEY = ["l_orderkey", "l_partkey"]
CHECK_COLS = ["row_id", "l_orderkey", "l_linenumber", "l_partkey"]
FRESH_ROW_ID = 10**9
QUESTIONS = ["skipped_stats", "delta_file_sizes", "updated_partitions", "latest_version"]


def _unique(t: pa.Table, cols: list[str]) -> bool:
    return t.group_by(cols).aggregate([]).num_rows == t.num_rows


class MaintCycle:
    BUILD_REPEATS = 1
    # Files of at most FILE_ROWS rows stand in for a large table's many
    # target-sized files, so whole-table and file-targeted rewrites
    # differ at this scale too.
    SESSION_CONF = {"spark.sql.files.maxRecordsPerFile": str(FILE_ROWS)}

    def __init__(self, spark, work: str, seed: int, rec, tracer):
        self.spark, self.seed, self.rec, self.tracer = spark, seed, rec, tracer
        self.inputs = os.path.join(work, "inputs")
        self.path = os.path.join(work, "tables", "lineitem")
        self.dim_path = os.path.join(work, "tables", "customer_scd2")
        self.rewrites: list[tuple[int, int]] = []  # (bytes added, live bytes before)
        self.dedup_files: list[tuple[int, int]] = []  # (files rewritten, files before)
        self.scd_files: list[tuple[int, int]] = []
        self.compactions: list[tuple[int, int]] = []  # (files removed, bytes added)
        # (files scanned, live files, rows examined, rows returned) per scan
        self.scans: list[tuple[int, int, int, int]] = []
        self.sessions: list[tuple[int, int]] = []  # (commits since checkpoint, live files)
        self.questions = 0
        self.replay_s: list[float] = []

    # ------------------------------------------------------------ build

    def build(self) -> None:
        from levi_spark import api
        from levi_spark.delta.writer import write_delta

        for d in (self.inputs, os.path.dirname(self.path)):
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        base = inputs.lineitem(inputs.rng_for(self.seed, 4), 1, BASE_ORDERS, 0)
        self.base = base
        self.base_ids = np.sort(base["row_id"].to_numpy())
        src = inputs.write(base, os.path.join(self.inputs, "base.parquet"))
        df = self.spark.read.parquet(src).repartitionByRange(N_FILES, "l_orderkey")
        write_delta(df, self.path, mode="error")

        dim = inputs.customer_dim(inputs.rng_for(self.seed, 6), DIM_ROWS)
        dsrc = inputs.write(dim, os.path.join(self.inputs, "customer.parquet"))
        write_delta(self.spark.read.parquet(dsrc).repartition(4), self.dim_path, mode="error")
        self.model = dim.select(["c_custkey", *inputs.DIM_ATTRS]).to_pandas().set_index("c_custkey")
        self.dim_rows = DIM_ROWS

        self.table = api.LeviTable.for_path(self.spark, self.path)
        self.dim = api.LeviTable.for_path(self.spark, self.dim_path)
        self.replay = LogReplay(self.path)
        self.dim_replay = LogReplay(self.dim_path)
        self.cycle = 0

    # ------------------------------------------------------------ inputs

    def _dup_batch(self, c: int) -> tuple[str, int]:
        rng = inputs.rng_for(self.seed, 5, c)
        n = self.base.num_rows
        exact = self.base.take(rng.choice(n, N_EXACT, replace=False))

        fresh = FRESH_ROW_ID + c * 10**5
        pairs = inputs.lineitem(rng, 1, N_PAIRS, 0).slice(0, N_PAIRS)
        okeys = rng.choice(BASE_ORDERS, N_PAIRS, replace=False) + 1
        pairs = pairs.set_column(1, "l_orderkey", pa.array(okeys, pa.int64()))
        pairs = pairs.set_column(
            4, "l_linenumber", pa.array(100 + np.arange(N_PAIRS), pa.int32())
        )
        pairs = pa.concat_tables([pairs, pairs])
        pairs = pairs.set_column(
            0, "row_id", pa.array(fresh + np.arange(2 * N_PAIRS), pa.int64())
        )

        rekeyed = self.base.take(rng.choice(n, N_REKEYED, replace=False))
        rekeyed = rekeyed.set_column(
            0, "row_id", pa.array(fresh + 2 * N_PAIRS + np.arange(N_REKEYED), pa.int64())
        )
        rekeyed = rekeyed.set_column(
            4, "l_linenumber", pc.add(rekeyed["l_linenumber"], pa.scalar(50, pa.int32()))
        )
        batch = pa.concat_tables([exact, pairs, rekeyed])
        path = os.path.join(self.inputs, f"dups_{c}.parquet")
        return inputs.write(batch, path), batch.num_rows

    def _updates(self, c: int) -> str:
        rng = inputs.rng_for(self.seed, 7, c)
        keys = self.model.index.to_numpy()
        picked = rng.choice(keys, N_CHANGED + N_UNCHANGED, replace=False)
        changed = self.model.loc[picked[:N_CHANGED]].copy()
        changed["c_acctbal"] = np.round(changed["c_acctbal"] + rng.uniform(1, 100, N_CHANGED), 2)
        unchanged = self.model.loc[picked[N_CHANGED:]]
        first_new = int(keys.max()) + 1
        new = pd.DataFrame(
            inputs.customer_attrs(rng, N_NEW),
            index=pd.Index(np.arange(first_new, first_new + N_NEW), name="c_custkey"),
        )
        upd = pd.concat([changed, unchanged, new]).reset_index()
        upd["effective_time"] = pd.Timestamp(inputs.DIM_EPOCH) + pd.Timedelta(days=c + 1)
        t = pa.Table.from_pandas(upd, schema=inputs.UPDATES_SCHEMA, preserve_index=False)
        self.pending_model = (changed, new)
        return inputs.write(t, os.path.join(self.inputs, f"updates_{c}.parquet"))

    # ------------------------------------------------------------ metadata sessions

    def _question_args(self, kind: str, rng, version: int):
        if kind == "skipped_stats":
            shape = int(rng.integers(0, 4))
            if shape == 0:
                lo = int(rng.integers(1, BASE_ORDERS))
                return [("l_orderkey", ">=", lo), ("l_orderkey", "<=", lo + BASE_ORDERS // 8)]
            if shape == 1:
                return [("l_orderkey", "=", int(rng.integers(1, BASE_ORDERS)))]
            if shape == 2:
                return [("l_quantity", "<", int(rng.integers(2, 6)))]
            return [("l_extendedprice", ">", int(rng.integers(30_000, 45_000)))]
        if kind == "delta_file_sizes":
            c1 = int(rng.integers(10, 60))
            c2 = int(rng.integers(c1 + 20, 200))
            return [f"<{c1}kb", f"{c1}kb-{c2}kb", f">{c2}kb"]
        if kind == "updated_partitions":
            i, j = sorted(int(x) for x in rng.integers(0, version + 1, 2))
            times = [a["modificationTime"] for v in range(i, j + 1)
                     for a in self.replay.commit(v)["adds"]]
            return (min(times), max(times) + 1) if times else (0, 1)
        return None

    def _session(self, kinds: list[str], rng) -> None:
        """One user session: open a snapshot (timed with the first
        question) and ask ``kinds`` against it."""
        from levi_spark import api

        version = self.replay.latest()
        live = self.replay.state(version)
        snap = None
        for n, kind in enumerate(kinds):
            args = self._question_args(kind, rng, version)

            def ask(kind=kind, args=args, opening=(n == 0)):
                nonlocal snap
                if opening:
                    with self.tracer.span("delta.log.open", "delta.log"):
                        snap = api.LeviTable.for_path(self.spark, self.path).snapshot()
                if kind == "skipped_stats":
                    return api.skipped_stats(snap, args)
                if kind == "delta_file_sizes":
                    return api.delta_file_sizes(snap, args)
                if kind == "updated_partitions":
                    return api.updated_partitions(snap, *args)
                return api.latest_version(snap)

            def check(res, kind=kind, args=args):
                expect(snap.version == version, f"snapshot v{snap.version}, want v{version}")
                if kind == "skipped_stats":
                    want = expected_skipped(live, args)
                elif kind == "delta_file_sizes":
                    want = expected_file_sizes(live, args)
                elif kind == "updated_partitions":
                    want = []  # the table is unpartitioned
                else:
                    want = self.replay.latest()
                expect(res == want, f"{kind}{args!r}: got {res!r}, want {want!r}")

            self.rec.op("read", kind, ask, check)
        if self.rec.measuring:
            self.questions += len(kinds)
            self.sessions.append((self.replay.commits_since_checkpoint(version), len(live)))
            if self.tracer.active:  # log replay on a fresh snapshot, untimed
                from levi_spark.delta.table import LeviTable

                self.tracer.active = False
                t0 = time.perf_counter()
                LeviTable.for_path(self.spark, self.path).snapshot().live_adds_collected()
                self.replay_s.append(time.perf_counter() - t0)
                self.tracer.active = True

    # ------------------------------------------------------------ maintenance checks

    def _live(self, version: int) -> pa.Table:
        return self.replay.read_live(version, CHECK_COLS)

    def _track_rewrite(self, replay: LogReplay, before: int) -> tuple[int, int]:
        """Record bytes committed vs live bytes before; returns (files
        removed by the op, live files before it)."""
        _files, size, removed = replay.added_between(before, replay.latest())
        self.rewrites.append((size, replay.live_bytes(before)))
        return removed, len(replay.state(before))

    def _dedup_check(self, op: str, want_rows: int, key: list[str], before: int):
        def check(res):
            t = self._live(self.replay.latest())
            expect(t.num_rows == want_rows, f"{op}: {t.num_rows} live rows, want {want_rows}")
            expect(_unique(t, key), f"{op}: {key} not unique")
            removed, files_before = self._track_rewrite(self.replay, before)
            if res is not None:
                expect(res["files_rewritten"] == removed, f"{op}: files_rewritten")
            if self.rec.measuring:
                self.dedup_files.append((removed, files_before))
            if op == "drop_duplicates_pkey":
                ids = np.sort(t["row_id"].to_numpy())
                expect(np.array_equal(ids, self.base_ids), "cycle did not restore the base rows")

        return check

    def _scd_check(self, before: int):
        changed, new = self.pending_model
        dim_rows = self.dim_rows + len(changed) + len(new)

        def check(res):
            v = self.dim_replay.latest()
            cur = self.dim_replay.read_live(v, ["c_custkey", *inputs.DIM_ATTRS, "is_current"])
            expect(cur.num_rows == dim_rows, f"scd: {cur.num_rows} rows, want {dim_rows}")
            cur = cur.to_pandas()
            cur = cur[cur["is_current"]].drop(columns="is_current").set_index("c_custkey")
            expect(cur.index.is_unique, "scd: two current rows for one key")
            want = pd.concat([self.model.drop(changed.index), changed, new])
            got = cur.sort_index()[inputs.DIM_ATTRS]
            expect(got.equals(want.sort_index()[inputs.DIM_ATTRS]), "scd: current rows differ")
            removed, files_before = self._track_rewrite(self.dim_replay, before)
            expect(res["files_rewritten"] == removed, "scd: files_rewritten")
            if self.rec.measuring:
                self.scd_files.append((removed, files_before))
            self.model, self.dim_rows = want, dim_rows

        return check

    # ------------------------------------------------------------ ops

    def _scan(self, rng) -> None:
        from levi_spark.operators.metadata import pruned_scan

        width = BASE_ORDERS // N_FILES
        lo = int(rng.integers(1, BASE_ORDERS - width))
        filters = [("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + width)]
        version = self.replay.latest()

        def scan():
            df = pruned_scan(self.table.snapshot(), filters)
            with self.tracer.span("operators.metadata.pruned_scan.collect", "operators.metadata"):
                return df, df.toArrow()

        def check(res):
            df, got = res
            t = self._live(version)
            keys = t["l_orderkey"].to_numpy()
            want = np.sort(t["row_id"].to_numpy()[(keys >= lo) & (keys < lo + width)])
            expect(np.array_equal(np.sort(got["row_id"].to_numpy()), want), f"scan {filters}")
            live = self.replay.state(version)
            by_abs = {os.path.join(self.path, unquote(p)): a for p, a in live.items()}
            scanned = [by_abs[unquote(urlparse(f).path)] for f in df.inputFiles()]
            if self.rec.measuring:
                self.scans.append(
                    (len(scanned), len(live),
                     sum(a["stats"]["numRecords"] for a in scanned), got.num_rows)
                )

        self.rec.op("read", "pruned_scan", scan, check, rows=self.base.num_rows)

    def block(self) -> None:
        from levi_spark import api
        from levi_spark.operators.layout import compact_small_files

        c = self.cycle
        self.cycle += 1
        rng = inputs.rng_for(self.seed, 8, c)
        n = self.base.num_rows

        batch, rows = self._dup_batch(c)
        before = self.replay.latest()

        def appended(version):
            expect(version == before + 1, "append version")
            got = sum(a["stats"]["numRecords"] for a in self.replay.commit(version)["adds"])
            expect(got == rows, f"append wrote {got} rows, want {rows}")
            for cp in self.replay.listing()[1]:
                if cp > before:
                    expect(self.replay.checkpoint_matches(cp), f"checkpoint {cp} live set")

        self.rec.op(
            "write", "append",
            lambda: self.table.append(self.spark.read.parquet(batch)), appended, rows=rows,
        )
        self._session(list(rng.permutation(QUESTIONS)), rng)
        live = n + rows
        for op, fn, key, removed in (
            ("drop_duplicates", lambda: api.drop_duplicates(self.table, ["row_id"]),
             ["row_id"], N_EXACT),
            ("kill_duplicates", lambda: api.kill_duplicates(self.table, KILL_KEY),
             KILL_KEY, 2 * N_PAIRS),
            ("drop_duplicates_pkey",
             lambda: api.drop_duplicates_pkey(self.table, "row_id", PKEY_KEY),
             PKEY_KEY, N_REKEYED),
        ):
            before = self.replay.latest()
            self.rec.op("write", op, fn, self._dedup_check(op, live - removed, key, before),
                        rows=live)
            live -= removed

        upd = self._updates(c)
        before = self.dim_replay.latest()
        self.rec.op(
            "write", "type_2_scd_upsert",
            lambda: api.type_2_scd_upsert(
                self.dim, self.spark.read.parquet(upd), "c_custkey", inputs.DIM_ATTRS,
                "is_current", "effective_time", "end_time",
            ),
            self._scd_check(before), rows=self.dim_rows + N_CHANGED + N_UNCHANGED + N_NEW,
        )
        self._session(list(rng.permutation(QUESTIONS)), rng)
        self._scan(rng)
        before = self.replay.latest()

        def compacted(res):
            t = self._live(self.replay.latest())
            ids = np.sort(t["row_id"].to_numpy())
            expect(np.array_equal(ids, self.base_ids), "compaction changed the rows")
            removed, _ = self._track_rewrite(self.replay, before)
            expect(res["files_removed"] == removed, "compaction files_removed")
            if self.rec.measuring:
                self.compactions.append((removed, self.rewrites[-1][0]))

        self.rec.op(
            "write", "compact_small_files",
            lambda: compact_small_files(self.spark, self.path),
            compacted, rows=n,
        )
        self._scan(rng)

    def warm_up(self) -> None:
        self.block()

    # ------------------------------------------------------------ metrics

    def start_measuring(self) -> None:
        self.v_start = self.replay.latest()
        self.cps_start = set(self.replay.listing()[1])
        self.rewrites.clear()

    def layer_metrics(self) -> dict:
        traced = [r for r in self.rec.records if r.traced]
        med = lambda xs: statistics.median(xs) * 1e3 if xs else 0.0  # noqa: E731
        lat = lambda name: med([r.seconds for r in traced if r.name == name])  # noqa: E731
        jobs = lambda rs: sum(r.jobs for r in rs) / max(1, len(rs))  # noqa: E731
        ratio = lambda pairs: (  # noqa: E731
            sum(p[0] for p in pairs) / max(1, sum(p[1] for p in pairs)))
        mean = lambda xs: statistics.mean(xs) if xs else 0.0  # noqa: E731
        v_end = self.replay.latest()
        commits = v_end - self.v_start
        files, size, _ = self.replay.added_between(self.v_start, v_end)
        m = {
            "delta.log.open_ms": med(self.tracer.durations("delta.log.open")),
            "delta.log.replay_ms": med(self.replay_s),
            "delta.log.commits_since_checkpoint": mean([s[0] for s in self.sessions]),
            "delta.log.live_files": mean([s[1] for s in self.sessions]),
            "delta.log.snapshot_reuse_share":
                (self.questions - len(self.sessions)) / max(1, self.questions),
            "operators.metadata.jobs_per_call":
                jobs([r for r in traced if r.name in QUESTIONS]),
            "operators.metadata.pruned_scan_ms": lat("pruned_scan"),
            "operators.metadata.files_scanned_ratio":
                ratio([(s[0], s[1]) for s in self.scans]),
            "operators.metadata.rows_examined_per_row_returned":
                ratio([(s[2], s[3]) for s in self.scans]),
            "delta.writer.append_ms": lat("append"),
            "delta.writer.jobs_per_commit": jobs([r for r in traced if r.kind == "write"]),
            "delta.writer.files_added": files / max(1, commits),
            "delta.writer.bytes_added": size / max(1, commits),
            "delta.writer.checkpoints_written": len(
                set(self.replay.listing()[1]) - self.cps_start),
            "operators.dedup.files_rewritten_ratio": ratio(self.dedup_files),
            "operators.dedup.jobs_per_call": jobs(
                [r for r in traced if r.name.startswith(("drop_dup", "kill_dup"))]),
            "operators.scd.type_2_scd_upsert_ms": lat("type_2_scd_upsert"),
            "operators.scd.files_rewritten_ratio": ratio(self.scd_files),
            "operators.layout.compact_small_files_ms": lat("compact_small_files"),
            "operators.layout.files_removed": mean([c[0] for c in self.compactions]),
            "operators.layout.bytes_rewritten": mean([c[1] for c in self.compactions]),
        }
        for name in ("drop_duplicates", "kill_duplicates", "drop_duplicates_pkey"):
            m[f"operators.dedup.{name}_ms"] = lat(name)
        for kind in QUESTIONS:
            m[f"operators.metadata.{kind}_ms"] = lat(kind)
        return m

    def detail(self) -> dict:
        v = self.replay.latest()
        return {
            "rewrite_ratio": sum(r[0] for r in self.rewrites)
            / max(1, sum(r[1] for r in self.rewrites)),
            "table_version": v,
            "live_files": len(self.replay.state(v)),
            "table_bytes": self.replay.live_bytes(v),
            "log_bytes": sum(
                os.path.getsize(os.path.join(self.replay.log, f))
                for f in os.listdir(self.replay.log)
            ),
            "dim_rows": self.dim_rows,
        }
