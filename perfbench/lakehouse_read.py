"""lakehouse_read: read-heavy over the table formats etl_sync writes. The
manifest table, its Delta export and its Iceberg export are built in setup
through seeded commits (deletion-vector merges and deletes, one added
column, one compact); the timed ops only read them, so the commit path
does no timed work.

Op kinds, one of each per cycle, with the format rotating per cycle so a
run spreads them over all three formats:

- snapshot_read: head read through the registered Python DataSource;
- time_travel: a read at a seeded older version (the manifest format
  reads through ``ManifestTable.read`` with a seeded key range, so the
  zone-map file skipping is exercised);
- changelog: a seeded version pair through ``ManifestTable.changes``,
  ``DeltaLiteTable.changelog`` or ``IcebergLiteTable.changelog``;
- stream_drain: an ``availableNow`` CDC stream from a seeded start into a
  parquet sink.

Every op is checked against the generator's model of the table at its
version (or version pair)."""

from __future__ import annotations

import contextlib
import glob
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from forklift_spark.connections import deltalite, iceberglite
from forklift_spark.datasource import ManifestDataSource
from forklift_spark.delta_datasource import DeltaLiteDataSource
from forklift_spark.iceberg_datasource import IcebergLiteDataSource
from forklift_spark.manifest import ManifestTable

from perfbench import datagen
from perfbench.check import digest, row_hashes
from perfbench.sparkjobs import stream_summary
from perfbench.workload import Op, Workload, expect

N_BASE = 50_000
N_UPDATES, N_INSERTS, N_TOMBSTONES = 1_000, 250, 250
TABLE = "items"
FORMATS = ("manifest", "delta", "iceberg")
KINDS = ("snapshot_read", "time_travel", "changelog", "stream_drain")
CT = "_change_type"
# (operation, adds the evolved column) after the create commit
COMMITS = (("apply", True), ("compact", False))


def _diff(a: pd.DataFrame, b: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Row-level changelog from state ``a`` to state ``b`` in ``cols``:
    rows live in only one of them, as deletes and inserts."""
    a = a.reset_index().reindex(columns=cols)
    b = b.reset_index().reindex(columns=cols)
    ka, kb = row_hashes(a, cols), row_hashes(b, cols)
    dels = a[~np.isin(ka, kb)].assign(**{CT: "delete"})
    ins = b[~np.isin(kb, ka)].assign(**{CT: "insert"})
    return pd.concat([dels, ins], ignore_index=True)


def _net(events: pd.DataFrame, cols: list[str]) -> pd.DataFrame:
    """Cancel insert/delete pairs of identical rows in a change feed."""
    if not len(events):
        return events
    key = row_hashes(events, cols)
    sign = np.where(events[CT].to_numpy() == "insert", 1, -1)
    net = pd.Series(sign).groupby(key).transform("sum").to_numpy()
    first = ~pd.Series(key).duplicated().to_numpy()
    keep = first & (net != 0)
    out = events[keep].copy()
    out[CT] = np.where(net[keep] > 0, "insert", "delete")
    return out


class LakehouseRead(Workload):
    name = "lakehouse_read"

    def setup(self) -> None:
        spark = self.spark
        for ds in (ManifestDataSource, DeltaLiteDataSource, IcebergLiteDataSource):
            spark.dataSource.register(ds)
        self.rng = rng = np.random.default_rng(self.seed)
        self.mpath = os.path.join(self.root, "manifest")
        self.dpath = os.path.join(self.root, "delta")
        self.ipath = os.path.join(self.root, "iceberg")
        base = datagen.base_frame(rng, N_BASE)
        self.states = [base.set_index("id")]
        batches, next_id = [], N_BASE
        for r, (op, evolved) in enumerate(COMMITS):
            batch = None
            if op == "apply":
                batch = datagen.change_batch(
                    rng, self.states[-1], r, N_UPDATES, N_INSERTS, N_TOMBSTONES,
                    next_id, evolved)
                next_id += N_INSERTS
            batches.append(batch)
            self.states.append(self.states[-1] if batch is None
                               else datagen.apply_batch(self.states[-1], *batch))

        self.mt = mt = ManifestTable(spark, self.mpath, TABLE)
        self.mversions = []
        mt.create(spark.createDataFrame(base), partition_by="part")
        self._publish()
        for batch in batches:
            if batch is None:
                mt.compact()
            else:
                ups, tombs = batch
                mt.apply_changes(spark.createDataFrame(ups),
                                 spark.createDataFrame(tombs),
                                 on=datagen.KEY, use_dv=True)
            self._publish()
        self.delta = deltalite.DeltaLiteTable(spark, self.dpath)
        self.ice = iceberglite.IcebergLiteTable(spark, self.ipath)
        self.ice_snaps = [int(s["snapshot-id"]) for s in self.ice.snapshots()]
        self.delta_versions = self.delta.versions()
        expect("delta versions", len(self.delta_versions), len(self.states))
        expect("iceberg snapshots", len(self.ice_snaps), len(self.states))
        self.n_sinks = 0

    def _publish(self) -> None:
        deltalite.sync_manifest_to_delta(self.mt, self.dpath, dv_mode="native")
        iceberglite.sync_manifest_to_iceberg(self.mt, self.ipath, dv_mode="native")
        self.mversions.append(self.mt.current_version())

    # -- version handles per format ----------------------------------------------
    def _cols(self, i: int) -> list[str]:
        return ["id"] + list(self.states[i].columns)

    def _handle(self, fmt: str, i: int):
        return {"manifest": self.mversions, "delta": self.delta_versions,
                "iceberg": self.ice_snaps}[fmt][i]

    def _reader(self, fmt: str, stream: bool = False):
        r = self.spark.readStream if stream else self.spark.read
        if fmt == "manifest":
            return r.format("forklift_manifest").option("table", TABLE), self.mpath
        if fmt == "delta":
            return r.format("deltalite"), self.dpath
        return r.format("iceberglite"), self.ipath

    # -- ops ------------------------------------------------------------------------
    def _check_frame(self, what: str, got: pd.DataFrame, want: pd.DataFrame,
                     cols: list[str]) -> int:
        missing = sorted(set(cols) - set(got.columns))
        expect(f"{what} missing columns", missing, [])
        expect(what, digest(got, cols), digest(want, cols))
        return len(got)

    def _snapshot_read(self, fmt: str) -> Op:
        head = len(self.states) - 1

        def run():
            reader, path = self._reader(fmt)
            return reader.load(path).toPandas()

        return Op("snapshot_read", self._span(f"{fmt}.read", run), lambda got: self._check_frame(
            f"{fmt} head read", got, self.states[head].reset_index(), self._cols(head)))

    def _time_travel(self, fmt: str) -> Op:
        # the version before the compaction: its reads apply deletion
        # vectors / position deletes
        i = len(self.states) - 2
        want = self.states[i].reset_index()
        if fmt == "manifest":
            lo = int(self.rng.integers(0, N_BASE // 2))
            hi = lo + N_BASE // 4
            want = want[(want["id"] >= lo) & (want["id"] <= hi)]

            def run():
                with self._layer("manifest.ManifestTable.read"):
                    df = self.mt.read(version=self._handle(fmt, i),
                                      where={"id": (lo, hi)}).toPandas()
                if self.tracer is not None:
                    row = self.tracer.layers["manifest.ManifestTable.read"]
                    total = len(self.mt.files(self._handle(fmt, i)))
                    row["files_total"] += total
                    row["files_skipped"] += total - self.mt.last_read_stats["files_planned"]
                return df
        else:
            opt = "version" if fmt == "delta" else "snapshot_id"

            def run():
                reader, path = self._reader(fmt)
                return reader.option(opt, str(self._handle(fmt, i))).load(path).toPandas()

            run = self._span(f"{fmt}.read", run)
        return Op("time_travel", run, lambda got: self._check_frame(
            f"{fmt} read at {i}", got, want, self._cols(i)))

    def _changelog(self, fmt: str) -> Op:
        a = int(self.rng.integers(0, len(self.states) - 2))
        b = len(self.states) - 1
        ha, hb = self._handle(fmt, a), self._handle(fmt, b)

        def run():
            if fmt == "manifest":
                with self._layer("manifest.ManifestTable.changes"):
                    return self.mt.changes(ha, hb).toPandas()
            if fmt == "delta":
                with self._layer("deltalite.DeltaLiteTable.changelog"):
                    return self.delta.changelog(ha, hb, net=True).toPandas()
            with self._layer("iceberglite.IcebergLiteTable.changelog"):
                return self.ice.changelog(ha, hb, net=True).toPandas()

        cols = self._cols(b)
        want = _diff(self.states[a], self.states[b], cols)
        return Op("changelog", run, lambda got: self._check_frame(
            f"{fmt} changelog {a}->{b}", got, want, cols + [CT]))

    def _stream_drain(self, fmt: str) -> Op:
        head = len(self.states) - 1
        start = int(self.rng.integers(0, head - 1))
        cols = self._cols(head)
        netted = fmt != "manifest"
        if netted:
            # the Delta and Iceberg exports write a compaction as a data
            # change (dataChange=true / "overwrite"), so their feeds echo
            # its rows as delete+insert pairs; the feed must still net to
            # the exact change from start to head
            want = _diff(self.states[start], self.states[head], cols)
        else:
            want = pd.concat([_diff(self.states[i], self.states[i + 1], cols)
                              for i in range(start, head)], ignore_index=True)
        self.n_sinks += 1
        sink = os.path.join(self.root, f"sink_{self.n_sinks}")
        ckpt = os.path.join(self.root, f"ckpt_{self.n_sinks}")
        opt = "starting_snapshot_id" if fmt == "iceberg" else "starting_version"

        def run():
            reader, path = self._reader(fmt, stream=True)
            q = (reader.option("cdc", "true").option(opt, str(self._handle(fmt, start)))
                 .load(path).writeStream.format("parquet")
                 .option("path", sink).option("checkpointLocation", ckpt)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            self.last_stream = (fmt, stream_summary(q))
            files = sorted(glob.glob(os.path.join(sink, "*.parquet")))
            return pd.concat([pq.read_table(f).to_pandas() for f in files],
                             ignore_index=True) if files else pd.DataFrame(columns=cols + [CT])

        def check(got):
            if netted:
                got = _net(got, cols)
            return self._check_frame(f"{fmt} stream from {start}", got, want,
                                     cols + [CT])

        return Op("stream_drain", self._span(f"{fmt}.stream", run), check)

    def _op(self, kind: str, fmt: str) -> Op:
        op = getattr(self, f"_{kind}")(fmt)
        op.label = fmt
        return op

    def _cycle(self, c: int) -> list[Op]:
        ops = [self._op(k, FORMATS[(j + c) % 3]) for j, k in enumerate(KINDS)]
        for op in ops[:-1]:
            op.ends_cycle = False
        return ops

    def warmup_ops(self) -> list[Op]:
        # the first Python DataSource read starts Spark's Python workers
        return [self._snapshot_read("manifest")]

    def ops(self):
        # rotation 1 first: its cycle is the one untraced runs time; a
        # traced run goes on through rotations 2 and 0, so every (kind,
        # format) pair, and every layer, appears in the per-layer table
        c = 1
        while True:
            yield from self._cycle(c)
            c += 1

    def min_cycles(self, tracer) -> int:
        return 1 if tracer is None else len(FORMATS)

    # -- tracing --------------------------------------------------------------------
    _SPAN_NAMES = {"manifest": "datasource", "delta": "delta_datasource",
                   "iceberg": "iceberg_datasource"}

    def _span(self, what: str, run):
        """Spans the benchmark opens itself around DataSource reads and
        streams, whose planning runs in Spark-launched Python processes."""
        fmt, kind = what.split(".")
        name = f"{self._SPAN_NAMES[fmt]}.{kind}"

        def spanned():
            with self._layer(name):
                out = run()
            if kind == "stream" and self.tracer is not None:
                row = self.tracer.layers[name]
                for k, v in self.last_stream[1].items():
                    row[k] += v
            return out

        return spanned


    def _layer(self, name: str):
        """A span around a call that returns a lazy DataFrame and the
        action that materialises it, so the layer is charged its jobs."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)
