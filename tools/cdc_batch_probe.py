"""Time and count the Spark jobs of no-DDL CDC micro-batches.

    python tools/cdc_batch_probe.py [--event-log DIR]

Builds the benchmark's trickle shape without the stream around it: a
ReplacingMergeTree table bootstrapped from 12,000 rows and caught up
with one 30,000-event batch, then BATCHES + 2 batches of 500
Zipf-keyed events generated from SEED, each applied by
``CdcPipeline.apply_batch`` under its own job group ``batch-<i>``. The
first two batches are warm-up. Prints
one JSON line: each measured batch's wall time and job count, and the
median. With ``--event-log`` the session writes an uncompressed event
log there, for ``tools/eventlog_timeline.py``; jobs carry the Python
call site that launched them, which a stream's callback thread does not.
Runs on local[4] from the root of a checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EVENTS_PER_BATCH = 500
BATCHES = 8  # measured batches, after two warm-up ones
SEED = 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--event-log")
    args = ap.parse_args(argv)

    import random

    from pyspark.sql import SparkSession

    from pyspark.sql import types as T

    from perfbench import cdc, gen
    from synch_spark.config import Engine, SyncConfig, TableSpec
    from synch_spark.events import RAW_EVENT_WIRE_SCHEMA
    from synch_spark.streaming.pipeline import CdcPipeline

    builder = (SparkSession.builder.master("local[4]").appName("cdc-batch-probe")
               .config("spark.sql.shuffle.partitions", "4")
               .config("spark.sql.session.timeZone", "UTC")
               .config("spark.ui.enabled", "false")
               .config("spark.driver.memory", "2g"))
    if args.event_log:
        os.makedirs(args.event_log, exist_ok=True)
        builder = (builder.config("spark.eventLog.enabled", "true")
                   .config("spark.eventLog.compress", "false")
                   .config("spark.eventLog.dir", os.path.abspath(args.event_log)))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    root = tempfile.mkdtemp(prefix="cdc-batch-probe-")
    try:
        rng = random.Random(SEED)
        wh = os.path.join(root, "wh")
        spec = TableSpec(schema="db", table="rt", pk=("id",),
                         engine=Engine.REPLACING_MERGE_TREE)
        cfg = SyncConfig()
        cfg.add_table(spec)
        init = gen.initial_rows(rng, 12_000)
        cdc.bootstrap(spark, wh, spec,
                      cdc.write_snapshot(os.path.join(root, "snap.parquet"), init))
        values = T.StructType([T.StructField("id", T.LongType()),
                               T.StructField("amount", T.DecimalType(10, 2)),
                               T.StructField("name", T.StringType())])
        pipe = CdcPipeline(spark=spark, cfg=cfg, warehouse=wh,
                           checkpoint_dir=os.path.join(root, "ckpt"),
                           value_schemas={spec.qualified_name: values})
        catch_up = gen.uniform_batches(rng, init, 15_000, 1, 30_000)[0]
        state = dict(init)
        for op, key, _before, after in catch_up:
            if op == "delete":
                state.pop(key, None)
            else:
                state[key] = after
        events = gen.zipf_script(rng, state, 15_000,
                                 EVENTS_PER_BATCH * (BATCHES + 2))

        def batch_df(evs, t0):
            path = os.path.join(root, f"b{t0}.json")
            with open(path, "w") as f:
                f.write("\n".join(
                    gen.json_event("db", "rt", ev, gen.BASE_S * 1_000_000 + t0 + k)
                    for k, ev in enumerate(evs)) + "\n")
            return spark.read.schema(RAW_EVENT_WIRE_SCHEMA).json(path)

        pipe.apply_batch(batch_df(catch_up, 0), 0)
        sc = spark.sparkContext
        measured = []
        for i in range(BATCHES + 2):
            df = batch_df(events[i * EVENTS_PER_BATCH:(i + 1) * EVENTS_PER_BATCH],
                          100_000 + i * 1_000)
            sc.setJobGroup(f"batch-{i}", "micro-batch")
            t = time.perf_counter()
            pipe.apply_batch(df, i + 1)
            wall = time.perf_counter() - t
            sc.setLocalProperty("spark.jobGroup.id", None)
            if i >= 2:
                measured.append(
                    (wall, len(sc.statusTracker().getJobIdsForGroup(f"batch-{i}"))))
        print(json.dumps({
            "batch_s": [round(w, 3) for w, _ in measured],
            "median_s": round(statistics.median(w for w, _ in measured), 3),
            "jobs": [n for _, n in measured]}))
    finally:
        spark.stop()
        import shutil

        shutil.rmtree(root, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
