"""``table_maintenance``: seeded DML on a TxTable, the artifacts the
engine maintains over its change feed refreshed after every round of
commits, and reads between the commits.

The ``events`` table (event_id, user_id, event_type, value; zone maps on
event_id, a bloom filter on user_id) is created during preparation from
the generated base data. One round (one pass) is:

- the five DML kinds — append, merge, update, copy-on-write delete,
  merge-on-read delete — each followed by one read (snapshot ``read``,
  zone-map ``read_pruned`` or bloom ``read_point``, in rotation);
- an ``optimize`` (range-clustered on event_id);
- the refresh of the maintained aggregate view, folding the round's
  commits from the change feed (``operators.ivm.refresh_view``);
- a read of the view.

Every read is checked as it returns against an in-memory model of the
table, and at the end the table is compared with the model row for row.
The seed chooses the DML keys, batches and probes, not their order (see
``one_pass``); the base table never changes.

Left out for the per-run time budget (see README.md): the
``sources.txstream.apply_changes`` mirror (12 s to initialise, 5-7 s per
drain here) and the CDC-maintained IVF and MinHash indexes (2-3 s per
refresh each).
"""

from __future__ import annotations

import json
import math
import os

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from harness import geomean, median

EVENT_TYPES = ("error", "view", "purchase", "signup", "click")
EV_KINDS = ("append", "merge", "update", "delete_cow", "delete_mor")
N_EVENTS = 20_000
BATCH = 200
SCHEMA_EV = "event_id long, user_id long, event_type string, value double"


def _close(a, b, rel=1e-9, abs_=1e-6) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=rel, abs_tol=abs_)


class TableMaintenance:

    def __init__(self, run, data_root: str, rng, plant_fault: bool):
        self.run = run
        self.tables = os.path.join(data_root, "tables")
        self.np_rng = np.random.default_rng(rng.randrange(1 << 30))
        self.plant_fault = plant_fault
        self.root = os.path.join(run.dir, "tm")
        self.next_event = N_EVENTS
        self.pruned_ratio: list[float] = []
        self.snapshot_ms: list[float] = []
        self.v0 = 0  # the table's version when preparation ended

    # nominal cold-pass and steady-pass seconds on the reference host
    # (see run.steady_passes)
    WARMUP_PASSES = 1
    COLD_S, PASS_S = 10.5, 7.5

    def input_bytes(self) -> int:
        return os.path.getsize(os.path.join(self.tables, "events.parquet"))

    def ensure_expected(self) -> None:
        """Nothing to precompute: reads are checked against the model."""

    # -- helpers -------------------------------------------------------------

    def _frame(self, pdf: pd.DataFrame, schema: str):
        # pandas/Arrow: plans as a JVM LocalTableScan (a list-backed
        # frame would re-run Python partitions at every action)
        return self.run.spark.createDataFrame(pdf, schema=schema)

    def _ev_frame(self, rows: dict[int, tuple]):
        pdf = pd.DataFrame(
            [(k, *v) for k, v in rows.items()],
            columns=["event_id", "user_id", "event_type", "value"],
        )
        return self._frame(pdf, SCHEMA_EV)

    def _pick(self, model: dict, n: int) -> list[int]:
        keys = sorted(model)
        return [keys[i] for i in self.np_rng.choice(len(keys), size=min(n, len(keys)), replace=False)]

    # -- preparation ---------------------------------------------------------

    def prepare(self) -> None:
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.operators import ivm
        from cincinnati_police_calls_for_service_etl_using_python_dask_spark.sources.txtable import TxTable

        self.ivm, self.TxTable = ivm, TxTable
        spark = self.run.spark
        os.makedirs(self.root)

        ev = pq.read_table(os.path.join(self.tables, "events.parquet"),
                           columns=["event_id", "user_id", "event_type", "value"]).to_pandas()
        ev = ev[ev.event_id < N_EVENTS]
        self.ev_model = {int(r.event_id): (int(r.user_id), r.event_type, float(r.value))
                         for r in ev.itertuples(index=False)}

        p = self.root
        self.ev = TxTable.create(spark, f"{p}/events", self._frame(ev, SCHEMA_EV),
                                 stats_columns=["event_id"], bloom_columns=["user_id"])
        # first refresh of the maintained view
        self.refresh_view()
        self.v0 = self.ev.latest_version()

    # -- commits -------------------------------------------------------------

    def _ev_rows(self, ids) -> dict[int, tuple]:
        n = len(ids)
        types = self.np_rng.integers(0, len(EVENT_TYPES), size=n)
        users = self.np_rng.integers(0, 1500, size=n)
        vals = np.round(self.np_rng.gamma(2.0, 30.0, size=n), 2)
        return {int(i): (int(u), EVENT_TYPES[t], float(v)) for i, u, t, v in zip(ids, users, types, vals)}

    def commit(self, kind: str):
        with self.run.tracer.span(f"sources.txtable.{kind}"):
            self._commit(kind)

    def _commit(self, kind: str):
        from pyspark.sql import functions as F

        m = self.ev_model
        if kind == "append":
            rows = self._ev_rows(range(self.next_event, self.next_event + BATCH))
            self.next_event += BATCH
            self.ev.append(self._ev_frame(rows))
            m.update(rows)
        elif kind == "merge":
            upd = self._ev_rows(self._pick(m, BATCH // 2))
            new = self._ev_rows(range(self.next_event, self.next_event + BATCH // 4))
            self.next_event += BATCH // 4
            dels = [k for k in self._pick(m, BATCH // 4) if k not in upd]
            pdf = pd.DataFrame(
                [(k, *v, None) for k, v in {**upd, **new}.items()]
                + [(k, *m[k], "D") for k in dels],
                columns=["event_id", "user_id", "event_type", "value", "op"])
            self.ev.merge(self._frame(pdf, SCHEMA_EV + ", op string"), "event_id")
            m.update(upd)
            m.update(new)
            for k in dels:
                del m[k]
        elif kind == "update":
            lo = int(self.np_rng.integers(0, self.next_event))
            etype = EVENT_TYPES[int(self.np_rng.integers(0, len(EVENT_TYPES)))]
            pred = (F.col("event_id") >= lo) & (F.col("event_id") < lo + 4 * BATCH) & (F.col("event_type") == etype)
            self.ev.update(pred, {"value": F.col("value") + F.lit(1.0)})
            for k, (u, t, v) in list(m.items()):
                if lo <= k < lo + 4 * BATCH and t == etype:
                    m[k] = (u, t, v + 1.0)
        elif kind in ("delete_cow", "delete_mor"):
            lo = int(self.np_rng.integers(0, self.next_event))
            r = int(self.np_rng.integers(0, 3))
            pred = (F.col("event_id") >= lo) & (F.col("event_id") < lo + 2 * BATCH) & (F.col("user_id") % 3 == r)
            self.ev.delete(pred, strategy="cow" if kind == "delete_cow" else "mor")
            for k in [k for k, (u, _, _) in m.items() if lo <= k < lo + 2 * BATCH and u % 3 == r]:
                del m[k]
        elif kind == "optimize":
            self.ev.optimize(sort_by=["event_id"])
        else:
            raise ValueError(kind)

    # -- refreshes -----------------------------------------------------------

    def refresh_view(self):
        with self.run.tracer.span("operators.ivm.refresh_view"):
            self.ivm.refresh_view(self.run.spark, self.ev, f"{self.root}/view", keys=["event_type"],
                                  sums=["value"], feed_key="event_id")

    # -- reads (each returns what its check needs) ---------------------------

    def read_full(self):
        from pyspark.sql import functions as F

        with self.run.tracer.span("sources.txtable.read"):
            r = self.ev.read().agg(F.count("*"), F.sum("event_id"), F.sum("value")).collect()[0]
        return tuple(r)

    def check_full(self, r) -> bool:
        m = self.ev_model
        want = (len(m) - self.plant_fault, sum(m), sum(v for _, _, v in m.values()))
        return r[0] == want[0] and r[1] == want[1] and _close(r[2], want[2])

    def read_pruned(self):
        lo = int(self.np_rng.integers(0, self.next_event))
        with self.run.tracer.span("sources.txtable.read_pruned"):
            df = self.ev.read_pruned("event_id", lo, lo + 500)
            rows = df.collect()
        if self.run.tracer.active:
            self.pruned_ratio.append(len(df.inputFiles()) / max(1, len(self.ev.snapshot().files)))
        return lo, rows

    def check_pruned(self, got) -> bool:
        lo, rows = got
        want = {k: v for k, v in self.ev_model.items() if lo <= k <= lo + 500}
        return self._same_events(rows, want)

    def read_point(self):
        user = int(self.np_rng.integers(0, 1500))
        with self.run.tracer.span("sources.txtable.read_point"):
            rows = self.ev.read_point("user_id", user).collect()
        return user, rows

    def check_point(self, got) -> bool:
        user, rows = got
        return self._same_events(rows, {k: v for k, v in self.ev_model.items() if v[0] == user})

    def _same_events(self, rows, want: dict) -> bool:
        got = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in rows}
        if self.plant_fault and got:
            got.pop(next(iter(got)))
        return len(rows) == len(got) == len(want) and all(
            k in want and want[k][:2] == v[:2] and _close(want[k][2], v[2]) for k, v in got.items())

    def read_view(self):
        with self.run.tracer.span("operators.ivm.view_read"):
            state = self.TxTable(self.run.spark, f"{self.root}/view").read()
            return self.ivm.finalize_state(state, ["event_type"], sums=["value"], avgs=["value"]).collect()

    def check_view(self, rows) -> bool:
        want: dict[str, list] = {}
        for _, t, v in self.ev_model.values():
            w = want.setdefault(t, [0, 0.0])
            w[0] += 1
            w[1] += v
        got = {r["event_type"]: r for r in rows if r["n_rows"]}
        if self.plant_fault:
            got.pop(next(iter(got)), None)
        return set(got) == set(want) and all(
            got[t]["n_rows"] == n and _close(got[t]["sum_value"], s)
            and abs(got[t]["avg_value"] - s / n) <= 1e-4 + 1e-9
            for t, (n, s) in want.items())

    # -- the loop ------------------------------------------------------------

    def one_pass(self, loop) -> None:
        # A fixed schedule: which read follows which commit, and whether
        # deletion vectors are live when it runs, change a read's cost up
        # to 3x, so the seed picks keys, batches and probes but not the
        # order, and each read is its own kind, named by the commit it
        # follows.
        reads = [("read", self.read_full, self.check_full),
                 ("read_pruned", self.read_pruned, self.check_pruned),
                 ("read_point", self.read_point, self.check_point)]
        for i, kind in enumerate(EV_KINDS):
            loop.op(f"commit:{kind}", lambda k=kind: self.commit(k))
            name, fn, check = reads[i % len(reads)]
            loop.op(f"read:{name}@{kind}", fn, check)
        loop.op("commit:optimize", lambda: self.commit("optimize"))
        loop.op("refresh:view", self.refresh_view)
        loop.op("read:view_read", self.read_view, self.check_view)
        if self.run.tracer.active:
            self.snapshot_ms.append(1000 * loop.timed_untracked(
                lambda: self.TxTable(self.run.spark, self.ev.path).snapshot()))

    def final_check(self) -> bool:
        """The final table, row for row, against the model."""
        ev = {r["event_id"]: (r["user_id"], r["event_type"], r["value"]) for r in self.ev.read().collect()}
        return ev == self.ev_model

    def cleanup(self) -> None:
        """The run directory, tables included, is removed by the run."""

    # -- metrics -------------------------------------------------------------

    def _log_actions(self) -> tuple[int, int, int]:
        """(files added, files removed, bytes added) on ``events`` since
        preparation, from its commit log."""
        added = removed = nbytes = 0
        table = self.ev
        for v in range(self.v0 + 1, table.latest_version() + 1):
            path = os.path.join(table.log, f"{v:020d}.json")
            if not os.path.exists(path):
                continue
            with open(path) as fh:
                for line in fh:
                    a = json.loads(line)
                    if "add" in a:
                        added += 1
                        f = os.path.join(table.path, a["add"]["path"])
                        nbytes += os.path.getsize(f) if os.path.exists(f) else 0
                    elif "remove" in a:
                        removed += 1
        return added, removed, nbytes

    def layer_metrics(self, loop) -> dict[str, tuple[float, str]]:
        def med_ms(kind):
            return 1000 * median(loop.samples[kind]) if loop.samples.get(kind) else 0.0

        def pooled_ms(prefix):  # one read API after any commit
            xs = [x for k, v in loop.samples.items() if k.startswith(prefix) for x in v]
            return 1000 * median(xs) if xs else 0.0

        s = loop.samples
        fam = {p: [k for k in s if k.startswith(p)] for p in ("commit:", "refresh:", "read:")}
        m = {
            "tm.commit_geomean_ms": (geomean(med_ms(k) for k in fam["commit:"]), "ms"),
            "tm.refresh_geomean_ms": (geomean(med_ms(k) for k in fam["refresh:"]), "ms"),
            "tm.read_geomean_ms": (geomean(med_ms(k) for k in fam["read:"]), "ms"),
            "sources.txtable.append_ms": (med_ms("commit:append"), "ms"),
            "sources.txtable.merge_ms": (med_ms("commit:merge"), "ms"),
            "sources.txtable.update_ms": (med_ms("commit:update"), "ms"),
            "sources.txtable.delete_cow_ms": (med_ms("commit:delete_cow"), "ms"),
            "sources.txtable.delete_mor_ms": (med_ms("commit:delete_mor"), "ms"),
            "sources.txtable.optimize_ms": (med_ms("commit:optimize"), "ms"),
            "sources.txtable.read_ms": (pooled_ms("read:read@"), "ms"),
            "sources.txtable.read_pruned_ms": (pooled_ms("read:read_pruned@"), "ms"),
            "sources.txtable.read_point_ms": (pooled_ms("read:read_point@"), "ms"),
            "operators.ivm.refresh_view_ms": (med_ms("refresh:view"), "ms"),
            "operators.ivm.view_read_ms": (med_ms("read:view_read"), "ms"),
        }
        if self.snapshot_ms:
            m["sources.txtable.snapshot_ms"] = (median(self.snapshot_ms), "ms")
        if self.pruned_ratio:
            m["sources.txtable.files_scanned_ratio"] = (median(self.pruned_ratio), "ratio")
        added, removed, nbytes = self._log_actions()
        m["sources.txtable.files_added"] = (float(added), "count")
        m["sources.txtable.files_removed"] = (float(removed), "count")
        m["sources.txtable.bytes_added"] = (float(nbytes), "bytes")
        m["tm.storage_bytes_per_live_byte"] = (self._storage_ratio(), "ratio")
        return m

    def _storage_ratio(self) -> float:
        """Bytes on disk under ``events`` (data, deletion vectors, log) ÷
        bytes of its live rows written once, compacted, same codec."""
        t = self.ev
        on_disk = sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(t.path) for f in fs)
        out = os.path.join(self.root, "compact")
        t.read().coalesce(1).write.mode("overwrite").parquet(out)
        live = sum(os.path.getsize(os.path.join(out, f)) for f in os.listdir(out) if f.endswith(".parquet"))
        return on_disk / live
