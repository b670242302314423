"""etl_sync: write-heavy. One op is one round of the reference's purpose,
run as one ``Plan.run``: a high-water-mark ``incremental_pipe`` from a CSV
change file into a parquet warehouse, ``ManifestTable.apply_changes`` with
deletion vectors, ``manifest_cdc_sync`` to a replica, an incremental Delta
publish, and ``compact()``. The first round adds a column.

There is no untimed warm-up round, to keep a run short: the initial load
warms the session, CSV and writer paths, but the timed round is the first
call of the upsert, deletion-vector and CDC paths in the JVM (~16 s at
local[4], against ~10 s for a repeated round)."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from forklift_spark import patterns, plan as plan_mod, writer
from forklift_spark import manifest as manifest_mod
from forklift_spark.connections import deltalite
from forklift_spark.connections.csvfile import CsvConnection
from forklift_spark.connections.parquet import ParquetConnection
from forklift_spark.engine import Engine
from forklift_spark.manifest import ManifestTable

from perfbench import datagen
from perfbench.check import digest
from perfbench.sparkjobs import JobLog
from perfbench.workload import Mismatch, Op, Workload, expect, log

N_BASE = 100_000
N_UPDATES, N_INSERTS, N_TOMBSTONES = 2_150, 250, 100
MAX_ROUNDS = 2           # pre-generated; an untraced run times round 0
EVOLVE_ROUND = 0         # first round whose change file carries `score`
TABLE = "items"


def _write_csv(df: pd.DataFrame, path: str) -> None:
    df.to_csv(path, index=False, date_format="%Y-%m-%d %H:%M:%S",
              float_format="%.2f")


class EtlSync(Workload):
    name = "etl_sync"

    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        d = {k: os.path.join(self.root, k)
             for k in ("src", "wh", "manifest", "replica", "delta", "project")}
        for p in d.values():
            os.makedirs(p, exist_ok=True)
        self.dirs = d
        base = datagen.base_frame(rng, N_BASE)
        self.base = base.set_index("id")
        self.base_csv = os.path.join(d["src"], "base.csv")
        _write_csv(base, self.base_csv)
        # all change files exist before timing; the model only picks keys
        self.batches = []
        state, next_id = self.base, N_BASE
        for r in range(MAX_ROUNDS):
            ups, tombs = datagen.change_batch(
                rng, state, r, N_UPDATES, N_INSERTS, N_TOMBSTONES, next_id,
                evolved=r >= EVOLVE_ROUND)
            next_id += N_INSERTS
            up_path = os.path.join(d["src"], f"round_{r}.csv")
            tomb_path = os.path.join(d["src"], f"tombstones_{r}.csv")
            _write_csv(ups, up_path)
            _write_csv(tombs, tomb_path)
            self.batches.append((ups, tombs, up_path, tomb_path))
            state = datagen.apply_batch(state, ups, tombs)

        spark = self.spark
        self.engine = Engine({"project_root": d["project"],
                              "logger": {"stdout": False}}, spark=spark)
        self.csv = CsvConnection({"file": self.base_csv}, self.engine)
        self.wh = ParquetConnection({"path": d["wh"]}, self.engine)
        patterns.incremental_pipe(self.csv, self.base_csv, self.wh, TABLE)
        self.mt = ManifestTable(spark, d["manifest"], TABLE)
        self.mt.create(self.csv.read(self.base_csv), partition_by="part")
        self.replica = ManifestTable(spark, d["replica"], TABLE)
        self.cursor = patterns.manifest_cdc_sync(
            self.mt, self.replica, on=datagen.KEY)["to_version"]
        deltalite.sync_manifest_to_delta(self.mt, d["delta"], dv_mode="native")
        self.rounds_run = 0

    # -- the op ---------------------------------------------------------------
    def _round(self, r: int) -> Op:
        ups, tombs, up_path, tomb_path = self.batches[r]

        def run():
            self._rows_in = len(ups)
            p = plan_mod.Plan(engine=self.engine)
            p.step("pipe")(lambda: patterns.incremental_pipe(
                self.csv, up_path, self.wh, TABLE))
            p.step("apply")(lambda: self.mt.apply_changes(
                self.csv.read(up_path), self.csv.read(tomb_path),
                on=datagen.KEY, use_dv=True))

            def replicate():
                self.cursor = patterns.manifest_cdc_sync(
                    self.mt, self.replica, on=datagen.KEY,
                    since_version=self.cursor)["to_version"]

            p.step("replicate")(replicate)
            p.step("publish")(lambda: deltalite.sync_manifest_to_delta(
                self.mt, self.dirs["delta"], dv_mode="native"))
            p.step("compact")(lambda: self.mt.compact())
            p.run()
            self.rounds_run = r + 1
            return None

        return Op("round", run, lambda _: len(ups) + len(tombs), label=f"r{r}")

    def ops(self):
        for r in range(MAX_ROUNDS):
            yield self._round(r)

    # -- accounting -------------------------------------------------------------
    def begin_timed(self) -> None:
        self.jobs = JobLog(self.spark)
        self.first_timed = self.rounds_run

    def _tables(self) -> dict[str, tuple]:
        wh_model = self.base
        full_model = self.base
        for ups, tombs, *_ in self.batches[:self.rounds_run]:
            wh_model = datagen.apply_batch(wh_model, ups, None)
            full_model = datagen.apply_batch(full_model, ups, tombs)
        return {
            "warehouse": (lambda: self.wh.read(TABLE).toPandas(), wh_model),
            "manifest": (lambda: self.mt.read().toPandas(), full_model),
            "replica": (lambda: self.replica.read().toPandas(), full_model),
            "delta": (self._delta_frame, full_model),
        }

    def _delta_frame(self) -> pd.DataFrame:
        """The Delta export's head rows read without Spark: replay the
        log, read each live file with pyarrow, drop its deletion-vector
        positions, add the partition value."""
        path = self.dirs["delta"]
        snap = deltalite.DeltaLiteTable(self.spark, path).snapshot()
        frames = []
        for rel, entry in snap["files"].items():
            df = pq.read_table(os.path.join(path, rel)).to_pandas()
            if entry.get("dv"):
                gone = deltalite.dv_positions(path, entry["dv"])
                df = df.drop(index=df.index[gone])
            for col, v in entry["pv"].items():
                df[col] = int(v)
            frames.append(df)
        return pd.concat(frames, ignore_index=True)

    def finish(self, n_ops: int) -> int:
        """Every target against the generator's pandas model: the warehouse
        is last-write-wins over upserts only (HWM semantics); the manifest
        head, replica and Delta export also apply tombstones."""
        self._written = sum(j.output_bytes for j in self.jobs.new_jobs())
        bad = []
        for name, (read, model) in self._tables().items():
            want = model.reset_index()
            try:
                got = read()
                expect(f"{name} columns", sorted(got.columns), sorted(want.columns))
                expect(f"{name} digest", digest(got), digest(want))
            except Mismatch as exc:
                bad.append(str(exc))
        for msg in bad:
            log(f"etl_sync mismatch: {msg}")
        # the tables are cumulative: a wrong final state impeaches every round
        return n_ops if bad else 0

    def _bytes(self) -> tuple[int, int]:
        on_disk: dict[int, int] = {}
        for key in ("wh", "manifest", "replica", "delta"):
            for dirpath, _, files in os.walk(self.dirs[key]):
                for f in files:
                    st = os.stat(os.path.join(dirpath, f))
                    on_disk[st.st_ino] = st.st_size
        live = set()
        for dirpath, _, files in os.walk(self.wh.writer.path(TABLE)):
            live |= {os.path.join(dirpath, f) for f in files
                     if f.endswith(".parquet")}
        live |= set(self.mt.files()) | set(self.replica.files())
        referenced = {os.stat(p).st_ino: os.stat(p).st_size for p in live}
        return sum(on_disk.values()), sum(referenced.values())

    def extra_metrics(self) -> dict[str, tuple[float, str]]:
        timed = self.batches[self.first_timed:self.rounds_run]
        change_bytes = sum(os.path.getsize(p) + os.path.getsize(t)
                           for _, _, p, t in timed)
        disk, referenced = self._bytes()
        return {
            "etl_sync.write_amp": (self._written / max(1, change_bytes), "B/B"),
            "etl_sync.space_amp": (disk / max(1, referenced), "B/B"),
        }

    def trace_targets(self) -> list[tuple]:
        def writer_rows(row, args, kwargs, result):
            # rows in: the round's change file, known to the benchmark
            row["rows_in"] += self._rows_in

        return [
            (plan_mod.Plan, "run", "plan.Plan.run"),
            (patterns, "incremental_pipe", "patterns.incremental_pipe"),
            (patterns, "manifest_cdc_sync", "patterns.manifest_cdc_sync"),
            (writer.ParquetTableWriter, "write", "writer.ParquetTableWriter.write",
             writer_rows),
            (manifest_mod.ManifestTable, "apply_changes",
             "manifest.ManifestTable.apply_changes"),
            (manifest_mod.ManifestTable, "changes", "manifest.ManifestTable.changes"),
            (manifest_mod.ManifestTable, "compact", "manifest.ManifestTable.compact"),
            (deltalite, "sync_manifest_to_delta", "deltalite.sync_manifest_to_delta"),
        ]
