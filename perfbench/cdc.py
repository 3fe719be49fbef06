"""The cdc workload: a replica's life in one run.

1. Catch-up: three tables are bootstrapped by snapshot, then one large
   batch of changes per table is decoded from its own wire format — a
   MySQL binlog file into a MergeTree table, a pgoutput frame file into
   a ReplacingMergeTree table, Confluent-framed Debezium-Avro into a
   CollapsingMergeTree table — and applied with CdcPipeline.apply_batch.
   Keys are uniform; inserts, updates and deletes all occur.
2. Trickle (open loop): a generator thread writes one small newline-JSON
   spool file every TRICKLE_FILE_S at TRICKLE_RATE events/s with
   Zipf-hot keys, so same-key updates and delete+re-insert pairs share a
   micro-batch; CdcPipeline.start_file_stream follows it into the
   ReplacingMergeTree table with back-to-back micro-batches, bloom,
   manifest and monitor upkeep on; reader threads issue FINAL point
   lookups of recently written keys on their own schedule.

Every table's FINAL state is checked against oracle.py, and every read
against the values it may legally return.
"""

from __future__ import annotations

import json
import os
import random
import threading
import time
from contextlib import nullcontext

from perfbench import gen, oracle, stats
from perfbench.harness import SparkCounts, progress_listener, wait_until
from perfbench.workload import Measure, Workload

DB = "db"
REPLAY_TABLES = (
    # name, engine, source format, bootstrap rows
    ("mt", "merge_tree", "binlog_file", 30_000),
    ("rt", "replacing_merge_tree", "pgoutput", 12_000),
    ("ct", "collapsing_merge_tree", "avro_codec", 12_000),
)
REPLAY_BATCH = 30_000     # events per table in the catch-up, one batch each
TRICKLE_TABLE = "rt"      # the ReplacingMergeTree table the trickle follows
TRICKLE_RATE = 200        # events per second offered
TRICKLE_FILE_S = 0.25     # one spool file due every quarter second
TRICKLE_READ_S = 3.0      # one FINAL point read due every three seconds
TRICKLE_READERS = 1       # reader threads, taking the due reads in turn
TRICKLE_WARM = 50         # events in the warm-up file committed in set-up


def _value_struct():
    from pyspark.sql import types as T

    return T.StructType([T.StructField("id", T.LongType()),
                         T.StructField("amount", T.DecimalType(10, 2)),
                         T.StructField("name", T.StringType())])


def _spec(table: str, engine: str):
    from synch_spark.config import Engine, TableSpec

    return TableSpec(schema=DB, table=table, pk=("id",), engine=Engine(engine))


def _pipeline(spark, spec, warehouse: str, checkpoint: str, **kw):
    from synch_spark.config import SyncConfig
    from synch_spark.streaming.pipeline import CdcPipeline

    cfg = SyncConfig()
    cfg.add_table(spec)
    return CdcPipeline(spark=spark, cfg=cfg, warehouse=warehouse,
                       checkpoint_dir=checkpoint,
                       value_schemas={spec.qualified_name: _value_struct()}, **kw)


def _table(spark, warehouse: str, spec):
    from synch_spark.sources.table import ParquetTable

    return ParquetTable(spark, f"{warehouse}/{spec.schema}/{spec.table}",
                        retain=spec.retain)


def write_snapshot(path: str, rows: dict) -> str:
    """The source table's snapshot as one parquet file."""
    from decimal import Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    keys = sorted(rows)
    pq.write_table(pa.table({
        "id": pa.array(keys, pa.int64()),
        "amount": pa.array([Decimal(rows[k][0]) for k in keys], pa.decimal128(10, 2)),
        "name": pa.array([rows[k][1] for k in keys], pa.string())}), path)
    return path


def bootstrap(spark, warehouse: str, spec, snapshot: str) -> None:
    """Snapshot-load the source table into the managed table
    (pipeline.etl_full)."""
    from synch_spark import pipeline

    pipeline.etl_full(spark.read.parquet(snapshot), _table(spark, warehouse, spec),
                      spec, renew=True)


def read_state(spark, warehouse: str, spec) -> list:
    """The table's FINAL state as (id, amount text, name) tuples."""
    from pyspark.sql import functions as F

    from synch_spark.operators import cdc_apply

    pdf = cdc_apply.read_current_state(_table(spark, warehouse, spec), spec).select(
        "id", F.col("amount").cast("string").alias("amount"), "name").toPandas()
    return list(pdf.itertuples(index=False, name=None))


def batch_files(checkpoint: str, batch_id: int) -> list[str]:
    """Basenames of the spool files in one micro-batch, from the file
    source's log in the stream checkpoint (written before the batch
    runs; every tenth entry is a compaction holding all earlier ones)."""
    d = os.path.join(checkpoint, "sources", "0")
    for name in (str(batch_id), f"{batch_id}.compact"):
        path = os.path.join(d, name)
        if os.path.exists(path):
            with open(path) as f:
                entries = [json.loads(line) for line in f.read().splitlines()[1:] if line]
            return [os.path.basename(e["path"]) for e in entries
                    if e.get("batchId") == batch_id]
    return []


class CdcLayers:
    """Wraps the CDC layers' public functions and keeps the per-commit
    table figures the spans cannot carry."""

    def __init__(self):
        self.commits: list[tuple[int, int, int]] = []  # added, removed, bytes
        self.tables: dict[str, object] = {}

    def install(self, tracer) -> None:
        from synch_spark import events
        from synch_spark.operators import cdc_apply, engines
        from synch_spark.sources import bloom, manifest
        from synch_spark.streaming import pipeline

        for fn in ("parse_values", "split_updates", "filter_dml"):
            tracer.wrap_function(events, fn, "events.construct")
        tracer.wrap_function(cdc_apply, "apply_cdc_batch", self._engine_span,
                             before=self._files_before, after=self._files_after)
        tracer.wrap_method(pipeline.CdcPipeline, "apply_batch", "streaming.apply_batch")
        tracer.wrap_function(pipeline, "log_monitor_row", "streaming.log_monitor_row")
        tracer.wrap_function(bloom, "gc_blooms", "bloom.gc_blooms")
        tracer.wrap_function(bloom, "build_file_blooms", "bloom.build_file_blooms")
        tracer.wrap_function(manifest, "refresh_manifest", "manifest.refresh_manifest")
        tracer.wrap_function(engines, "replacing_view", "engines.replacing_view")

    @staticmethod
    def _engine_span(args, kwargs):
        spec = kwargs.get("spec", args[2] if len(args) > 2 else None)
        short = {"merge_tree": "merge", "replacing_merge_tree": "replacing",
                 "collapsing_merge_tree": "collapsing"}[spec.engine.value]
        return f"cdc_apply.apply_cdc_batch.{short}"

    def _files_before(self, args, kwargs):
        table = args[0]
        self.tables[table.root] = table
        return set(table.snapshot().files) if table.exists else set()

    def _files_after(self, before, args, kwargs, result, span):
        table = args[0]
        now = set(table.snapshot().files)
        added = now - before
        size = sum(os.path.getsize(table._abs(rel)) for rel in added)
        self.commits.append((len(added), len(before - now), size))

    def metrics(self, tracer, events_applied: int) -> dict:
        out = {f"{name}_s": tracer.total(name) for name in (
            "events.construct", "bloom.gc_blooms", "bloom.build_file_blooms",
            "manifest.refresh_manifest", "streaming.log_monitor_row",
            "cdc_apply.apply_cdc_batch.merge", "cdc_apply.apply_cdc_batch.replacing",
            "cdc_apply.apply_cdc_batch.collapsing")}
        out["engines.replacing_view.construct_s"] = tracer.total("engines.replacing_view")
        if self.commits:
            n = len(self.commits)
            out["table.files_added_per_commit"] = sum(c[0] for c in self.commits) / n
            out["table.files_removed_per_commit"] = sum(c[1] for c in self.commits) / n
            out["table.bytes_written_per_event"] = (
                sum(c[2] for c in self.commits) / max(1, events_applied))
        out["table.files_live_end"] = sum(
            len(t.snapshot().files) for t in self.tables.values())
        out["table.versions"] = sum(
            t.current_version() + 1 for t in self.tables.values())
        # the stream's micro-batches (operation ids batch-N), not the
        # catch-up's direct apply_batch calls
        batches = [s for s in tracer.spans if s["name"] == "streaming.apply_batch"
                   and str(s["op"]).startswith("batch-")]
        if batches:
            selfs = tracer.self_times()
            out["streaming.apply_batch_s"] = stats.median(
                [s["end"] - s["start"] for s in batches])
            out["streaming.apply_batch_self_s"] = stats.median(
                [selfs[s["id"]] for s in batches])
        return out


class Cdc(Workload):
    """ops_per_s is the catch-up's events/s; op_p50_s and op_tail_s are
    the trickle's event lag. The trickle's stream is set up between the
    phases, and that time counts in setup_s."""

    name = "cdc"

    # -- set-up -----------------------------------------------------------
    def _prepare(self, tag: str, rng, scale: float) -> dict:
        """Event script, snapshot files and wire files for one catch-up."""
        job = {"tag": tag, "script": {}, "schemas": {}, "snapshots": {},
               "root": os.path.join(self.env.root, tag)}
        for i, (tbl, _engine, fmt, n) in enumerate(REPLAY_TABLES):
            n = max(100, int(n * scale))
            init = gen.initial_rows(rng, n)
            batch = gen.uniform_batches(rng, init, int(n * 1.25), 1,
                                        max(50, int(REPLAY_BATCH * scale)))[0]
            job["script"][tbl] = (init, batch)
            job["snapshots"][tbl] = write_snapshot(
                self.env.path(tag, "snapshot", f"{tbl}.parquet"), init)
            d = os.path.join(job["root"], "wire", fmt)
            os.makedirs(d)
            if fmt == "binlog_file":
                gen.write_binlog(os.path.join(d, "mysql-bin.000001"), DB, tbl, batch, 0)
            elif fmt == "pgoutput":
                gen.write_pgoutput(os.path.join(d, "seg.000001.pgo"), DB, tbl, batch, 0)
            else:
                job["schemas"][tbl] = (10 + i, gen.avro_schema(DB, tbl))
                sid, schema = job["schemas"][tbl]
                gen.write_avro(os.path.join(d, "part-0.parquet"), DB, tbl, batch, 0,
                               schema, sid)
        return job

    def generate_inputs(self) -> None:
        rng = random.Random(self.seed)
        self.job = self._prepare("replay", rng, 1.0)
        self.warm_job = self._prepare("warm", rng, 0.01)
        # the trickle continues the ReplacingMergeTree table from its
        # post-catch-up state
        init, batch = self.job["script"][TRICKLE_TABLE]
        self.trickle_base = oracle.merged_state(init, [batch])
        self.per_file = int(TRICKLE_RATE * TRICKLE_FILE_S)
        self.n_files = int(self.seconds / TRICKLE_FILE_S)
        # events[:TRICKLE_WARM] form the warm-up file, the rest the load
        self.events = gen.zipf_script(rng, self.trickle_base, int(len(init) * 1.25),
                                      TRICKLE_WARM + self.n_files * self.per_file)
        self.history: dict[int, list] = {}  # per-key writes; base state = index -1
        for idx, (op, key, _b, after) in enumerate(self.events):
            h = self.history.setdefault(key, [])
            if not h and key in self.trickle_base:
                h.append((-1, "insert", self.trickle_base[key]))
            h.append((idx, op, after))
        self.read_rng = random.Random(self.seed + 1)

    def shared_setup(self) -> None:
        # warm-up: one tiny catch-up per table, each in its own thread
        # beside the bootstrap of the measured tables, so Python workers,
        # codegen and class loading are not timed
        self._warm_errors: list = []
        self._warm_threads = [
            threading.Thread(target=self._warm_table, args=(self.warm_job, t),
                             name=f"warm-{t[0]}")
            for t in REPLAY_TABLES]
        for t in self._warm_threads:
            t.start()

    def _warm_table(self, job: dict, table: tuple) -> None:
        try:
            state = self._instance(job, 0, [table])
            self._apply(job, state, table, None)
        except Exception as e:  # noqa: BLE001 — re-raised by instance_setup
            self._warm_errors.append(e)

    def _instance(self, job: dict, i: int, tables=REPLAY_TABLES) -> dict:
        root = os.path.join(job["root"], f"inst{i}")
        wh = os.path.join(root, "wh")
        pipes = {}
        for tbl, engine, fmt, _n in tables:
            spec = _spec(tbl, engine)
            bootstrap(self.spark, wh, spec, job["snapshots"][tbl])
            pipes[tbl] = _pipeline(self.spark, spec, wh, os.path.join(root, "ckpt", tbl),
                                   string_values=(fmt == "pgoutput"))
        return {"root": root, "warehouse": wh, "pipes": pipes}

    def instance_setup(self, i: int):
        state = self._instance(self.job, i)
        for t in self._warm_threads:
            t.join()
        if self._warm_errors:
            raise RuntimeError("catch-up warm-up failed") from self._warm_errors[0]
        return state

    def instrument(self, tracer) -> None:
        self.layers = CdcLayers()
        self.layers.install(tracer)

    # -- catch-up ---------------------------------------------------------
    def _decode(self, job: dict, fmt: str, tbl: str):
        from synch_spark.sources import avro_codec, binlog_file, pgoutput

        d = os.path.join(job["root"], "wire", fmt)
        if fmt == "binlog_file":
            return binlog_file.binlog_files_to_raw(self.spark, d)
        if fmt == "pgoutput":
            return pgoutput.pgoutput_files_to_raw(self.spark, d,
                                                  fallback_unixtime_us=gen.BASE_S)
        sid, schema = job["schemas"][tbl]
        return avro_codec.debezium_avro_to_raw(self.spark.read.parquet(d), {sid: schema},
                                               order_col="offset")

    def _apply(self, job: dict, state: dict, table: tuple, tracer, decoded=None):
        tbl, _engine, fmt, _n = table
        op_id = f"{job['tag']}-{tbl}"
        if not tracer:
            state["pipes"][tbl].apply_batch(self._decode(job, fmt, tbl), op_id)
            return
        # traced: force the decode inside its own span, so the decoder's
        # time is not folded into apply_batch
        self.spark.sparkContext.setJobGroup(op_id, op_id)
        with tracer.operation(op_id):
            with tracer.span(f"sources.{fmt}.decode"):
                raw = self._decode(job, fmt, tbl).persist()
                decoded[fmt] = raw.count()
            state["pipes"][tbl].apply_batch(raw, op_id)
            raw.unpersist()

    def catch_up(self, state: dict, tracer) -> Measure:
        m = Measure()
        decoded: dict = {}
        t_start = time.perf_counter()
        for table in REPLAY_TABLES:
            self._apply(self.job, state, table, tracer, decoded)
            m.ops += len(self.job["script"][table[0]][1])
        m.wall_s = time.perf_counter() - t_start
        m.report["catchup_events_per_s"] = m.ops / m.wall_s
        for tbl, engine, _fmt, _n in REPLAY_TABLES:
            init, batch = self.job["script"][tbl]
            want = oracle.expected_state(engine, init, [batch])
            m.attempted += 2  # the batch and the state check
            problems = oracle.diff_state(
                want, read_state(self.spark, state["warehouse"], _spec(tbl, engine)))
            if problems:
                m.failed.append(f"catch-up {tbl} final state: {'; '.join(problems)}")
        if tracer:
            counts = SparkCounts(self.spark)
            for tbl, *_ in REPLAY_TABLES:
                counts.add_group(f"{self.job['tag']}-{tbl}")
            m.layers.update({"spark.jobs": counts.jobs, "spark.stages": counts.stages,
                             "spark.tasks": counts.tasks})
            for _t, _e, fmt, _n in REPLAY_TABLES:
                m.layers[f"sources.{fmt}.events"] = decoded[fmt]
                m.layers[f"sources.{fmt}.decode_s"] = tracer.total(f"sources.{fmt}.decode")
        return m

    # -- trickle ----------------------------------------------------------
    def trickle_setup(self, state: dict) -> dict:
        """Start the stream on the caught-up table and let it commit the
        warm-up file: the first micro-batch's class loading and codegen
        are set-up, not lag."""
        from synch_spark.operators import engines
        from synch_spark.sources import bloom
        from synch_spark.streaming import pipeline as sp

        spec = _spec(TRICKLE_TABLE, "replacing_merge_tree")
        root = os.path.join(state["root"], "trickle")
        spool, stage, ckpt = (os.path.join(root, d) for d in ("spool", "stage", "ckpt"))
        os.makedirs(spool)
        os.makedirs(stage)
        tr = {"spec": spec, "spool": spool, "stage": stage, "on_commit": None,
              "tracer": None, "table": _table(self.spark, state["warehouse"], spec)}
        pipe = _pipeline(self.spark, spec, state["warehouse"], ckpt)

        # an event's lag ends when the apply_batch call that commits it
        # returns: foreachBatch gets this pipeline's bound apply_batch,
        # looked up on the class at call time so a traced phase's wrapper
        # is seen
        def apply_and_stamp(self_, batch, epoch_id, *a, **kw):
            files = batch_files(ckpt, epoch_id)
            tracer = tr["tracer"]
            if tracer:
                self.spark.sparkContext.setJobGroup(f"batch-{epoch_id}", "micro-batch")
            with tracer.operation(f"batch-{epoch_id}") if tracer else nullcontext():
                sp.CdcPipeline.apply_batch(self_, batch, epoch_id, *a, **kw)
            if tr["on_commit"] is not None:
                tr["on_commit"](epoch_id, files, time.perf_counter())

        pipe.apply_batch = apply_and_stamp.__get__(pipe)
        tr["query"] = pipe.start_file_stream(spool)
        with open(os.path.join(spool, "warm.json"), "w") as f:
            f.write("\n".join(gen.json_event(DB, TRICKLE_TABLE, ev, gen.BASE_S * 1_000_000 + k)
                              for k, ev in enumerate(self.events[:TRICKLE_WARM])) + "\n")
        q = tr["query"]
        if not wait_until(lambda: q.lastProgress is not None
                          and q.lastProgress["numInputRows"] > 0, 300):
            raise RuntimeError(f"warm-up micro-batch not committed: {q.exception()}")
        engines.replacing_view(bloom.point_lookup(tr["table"], "id", [0]), spec.pk).collect()
        return tr

    def trickle(self, state: dict, tr: dict, tracer) -> Measure:
        from synch_spark.operators import engines
        from synch_spark.sources import bloom

        m = Measure()
        spec, table, query = tr["spec"], tr["table"], tr["query"]
        lock = threading.Lock()
        file_due: dict[str, float] = {}        # spool basename -> due time
        file_span: dict[str, tuple] = {}       # basename -> (first, last) event index
        committed_files: set[str] = set()
        committed_upto = [TRICKLE_WARM - 1]    # highest committed event index
        batch_sizes: list[int] = []
        batch_ops: list[str] = []
        backlog_after: list[int] = []          # uncommitted files after each commit
        lags, late, reads, read_files = [], [], [], []
        read_ops, read_bad, errors, progress = [], [], [], []
        stop, load_done = threading.Event(), threading.Event()

        def on_commit(epoch_id, files, t_ret):
            n = 0
            with lock:
                for f in files:
                    if f in file_due and f not in committed_files:
                        committed_files.add(f)
                        lo, hi = file_span[f]
                        lags.extend([t_ret - file_due[f]] * (hi - lo + 1))
                        n += hi - lo + 1
                        committed_upto[0] = max(committed_upto[0], hi)
                if not load_done.is_set():
                    backlog_after.append(len(file_due) - len(committed_files))
            batch_sizes.append(n)
            batch_ops.append(f"batch-{epoch_id}")

        listener = None
        if tracer:
            listener = progress_listener(progress)
            self.spark.streams.addListener(listener)
        tr["on_commit"], tr["tracer"] = on_commit, tracer
        t0 = time.perf_counter() + 0.5

        def generator():
            for j in range(self.n_files):
                due = t0 + j * TRICKLE_FILE_S
                delay = due - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                late.append(max(0.0, time.perf_counter() - due))
                lo = TRICKLE_WARM + j * self.per_file
                hi = lo + self.per_file - 1
                name = f"ev-{j:06d}.json"
                # creation stamp = due time, microseconds, unique per event
                ts0 = int((time.time() - (time.perf_counter() - due)) * 1e6)
                tmp = os.path.join(tr["stage"], name)
                with open(tmp, "w") as f:
                    f.write("\n".join(gen.json_event(DB, TRICKLE_TABLE, self.events[k],
                                                     ts0 + k - lo)
                                      for k in range(lo, hi + 1)) + "\n")
                with lock:
                    file_due[name] = due
                    file_span[name] = (lo, hi)
                os.rename(tmp, os.path.join(tr["spool"], name))

        def reader(r: int):
            for j in range(r, 1 << 30, TRICKLE_READERS):
                due = t0 + j * TRICKLE_READ_S
                delay = due - time.perf_counter()
                if stop.is_set() or delay > 0 and stop.wait(delay):
                    return
                with lock:
                    upto = committed_upto[0]
                key = self.events[max(0, upto - self.read_rng.randrange(4 * self.per_file))][1]
                op_id = f"read-{j}"
                try:
                    with tracer.operation(op_id) if tracer else nullcontext():
                        if tracer:
                            self.spark.sparkContext.setJobGroup(op_id, op_id)
                            read_ops.append(op_id)
                        df = engines.replacing_view(
                            bloom.point_lookup(table, "id", [key]), spec.pk)
                        rows = df.select("amount", "name").collect()
                    reads.append(time.perf_counter() - due)
                    if tracer:
                        live = len(table.snapshot().files)
                        read_files.append(len(df.inputFiles()) / max(1, live))
                except Exception as e:  # noqa: BLE001 — counted as a failed op
                    read_bad.append(f"read {key}: {type(e).__name__}: {str(e)[:200]}")
                    continue
                got = None if not rows else (f"{rows[0]['amount']:.2f}", rows[0]["name"])
                ok = oracle.acceptable_reads(self.history.get(
                    key, [(-1, "insert", self.trickle_base[key])]
                    if key in self.trickle_base else []), upto)
                if len(rows) > 1 or got not in ok:
                    read_bad.append(f"read {key}: got {rows}, expected one of {ok}")

        def guarded(fn, *args):
            def run():
                try:
                    fn(*args)
                except Exception as e:  # noqa: BLE001 — reported as a failure
                    errors.append(f"{fn.__name__}: {e!r}")
            return run

        threads = [threading.Thread(target=guarded(generator), name="generator")]
        threads += [threading.Thread(target=guarded(reader, r), name=f"reader-{r}")
                    for r in range(TRICKLE_READERS)]
        for t in threads:
            t.start()
        threads[0].join()
        t_load_end = time.perf_counter()
        with lock:
            load_done.set()
            backlog_at_stop = len(file_due) - len(committed_files)
        stop.set()
        for t in threads[1:]:
            t.join()
        wait_until(lambda: len(committed_files) >= self.n_files or not query.isActive, 120)
        t_drained = time.perf_counter()
        query.stop()
        tr["on_commit"] = tr["tracer"] = None
        if listener is not None:
            self.spark.streams.removeListener(listener)

        m.latencies = lags
        m.ops, m.wall_s = len(lags), t_drained - t0
        m.attempted = self.n_files + len(reads) + len(read_bad) + 1
        m.failed.extend(errors + read_bad)
        if query.exception() is not None:
            m.failed.append(f"stream: {query.exception()}")
        if len(committed_files) < self.n_files:
            m.failed.append(f"stream did not drain: {self.n_files - len(committed_files)} "
                            "spool files uncommitted")
        # over capacity: the backlog left after each commit rose at each of
        # the last three commits of the load and ended above twice the first
        b = backlog_after
        over = len(b) >= 4 and b[-1] > b[-2] > b[-3] > b[-4] and b[-1] > 2 * max(1, b[0])
        lag_p, lag_tail, lag_n = stats.tail(lags) if lags else (0.0, 0.0, 0)
        read_p, read_tail, read_n = stats.tail(reads) if reads else (0.0, 0.0, 0)
        m.report.update({
            "lag_p50_s": stats.median(lags) if lags else 0.0,
            "lag_tail_s": lag_tail, "lag_tail_percentile": lag_p, "lag_samples": lag_n,
            "final_read_p50_s": stats.median(reads) if reads else 0.0,
            "final_read_tail_s": read_tail, "final_read_tail_percentile": read_p,
            "final_read_samples": read_n, "backlog_files": backlog_at_stop,
            "backlog_after_commits": " ".join(map(str, b)),
            "generator_late_s": max(late) if late else 0.0,
            "over_capacity": over, "drain_s": t_drained - t_load_end,
            "trickle_batches": len(batch_sizes),
        })
        if over:
            m.failed.append("over capacity: the spool backlog kept growing, so the "
                            "lag figures are not a steady state at this rate")

        # correctness: the table's FINAL state against the oracle
        want = oracle.merged_state(self.trickle_base, [self.events])
        problems = oracle.diff_state(want, read_state(self.spark, state["warehouse"], spec))
        if problems:
            m.failed.append(f"trickle final state: {'; '.join(problems)}")

        m.layers.update({"streaming.backlog_files": backlog_at_stop,
                         "streaming.generator_late_s": max(late) if late else 0.0})
        if tracer:
            counts = SparkCounts(self.spark)
            for g in batch_ops + read_ops:
                counts.add_group(g)
            m.layers.update({"spark.jobs": counts.jobs, "spark.stages": counts.stages,
                             "spark.tasks": counts.tasks,
                             "streaming.batches": len(batch_sizes),
                             "streaming.events_per_batch": stats.median(
                                 [n for n in batch_sizes if n] or [0])})
            phases = {"latest_offset": "latestOffset", "get_batch": "getBatch",
                      "query_planning": "queryPlanning", "add_batch": "addBatch",
                      "wal_commit": "walCommit", "commit_offsets": "commitOffsets"}
            for mine, theirs in phases.items():
                vals = [p["durationMs"][theirs] for p in progress
                        if p["numInputRows"] and theirs in p["durationMs"]]
                m.layers[f"streaming.progress.{mine}_ms"] = stats.median(vals or [0])
            if read_files:
                m.layers["engines.final_read.files_scanned_ratio"] = stats.median(read_files)
            if reads:
                m.layers["engines.final_read_p50_s"] = stats.median(reads)
                m.layers["engines.final_read_tail_s"] = read_tail
        return m

    # -- phases -----------------------------------------------------------
    def overhead_baseline(self, state) -> Measure:
        """The untraced catch-up alone: trace.overhead_ratio compares
        catch-up events/s."""
        return self.catch_up(state, None)

    def measure(self, state, tracer) -> Measure:
        mc = self.catch_up(state, tracer)
        t0 = time.perf_counter()
        tr = self.trickle_setup(state)
        between = time.perf_counter() - t0
        mt = self.trickle(state, tr, tracer)
        m = Measure(latencies=mt.latencies, ops=mc.ops, wall_s=mc.wall_s,
                    attempted=mc.attempted + mt.attempted, failed=mc.failed + mt.failed,
                    report={**mc.report, **mt.report, "trickle_setup_s": between},
                    layers={**mc.layers, **mt.layers}, setup_extra_s=between)
        if tracer:
            for k in ("spark.jobs", "spark.stages", "spark.tasks"):
                m.layers[k] = mc.layers[k] + mt.layers[k]
            m.layers.update(self.layers.metrics(tracer, mc.ops + mt.ops))
        return m

    def extra_layers(self) -> dict:
        """session.local1.ops_per_s: the same catch-up on a fresh local[1]
        session in this JVM, after the same small warm-up."""
        from synch_spark.session import get_spark

        self.spark.stop()
        self.spark = get_spark(f"perfbench-{self.name}-local1", 1)
        rng = random.Random(self.seed)
        self.job = self._prepare("local1", rng, 1.0)
        warm = self._prepare("local1-warm", rng, 0.01)
        for table in REPLAY_TABLES:
            self._warm_table(warm, table)
        if self._warm_errors:
            raise RuntimeError("local[1] warm-up failed") from self._warm_errors[0]
        m = self.catch_up(self._instance(self.job, 0), None)
        if m.failed:
            raise RuntimeError(f"local[1] catch-up failed: {m.failed}")
        return {"session.local1.ops_per_s": m.ops / m.wall_s}
