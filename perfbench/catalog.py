"""The benchmark's metrics: name, unit, which direction is better, and —
for each per-layer metric — the end-to-end metric and workload it should
move. BENCHMARK.json lists the same names, units and directions
(tests/test_selftest.py keeps the two in step).

Every run reports every metric of its kind. End-to-end metrics are
defined on every workload (``op`` is the workload's user-visible
operation, see WORKLOAD_OPS). A per-layer metric whose layer does not
run in a workload reads 0: that layer did no work there.
"""

from __future__ import annotations

WORKLOADS = {
    "cdc": "catch-up of 30,000 events per table through binlog, pgoutput and "
           "Debezium-Avro decoders into three engines (per-event layers), then an "
           "open-loop trickle (per-batch cost) with FINAL reads beside it",
    "query_mix": "4 clients drain 19 registered queries at sf0.001: per-call cost of "
                 "the curation kernels and their driver loops, shuffle/join SQL, plan "
                 "construction over py4j, FAIR sharing, a stateful stream",
}

#: what the end-to-end metrics measure on each workload
WORKLOAD_OPS = {
    "cdc": "op_* = a trickle event's lag, from its due (creation) time to the "
           "return of the apply_batch that commits it; ops_per_s = catch-up "
           "events applied per second, first decode to last commit",
    "query_mix": "op_* = one query's latency under 4 clients (construct + "
                 "collect); ops_per_s = queries per second of the drain",
}

# (name, unit, better, bound)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_p50_s", "s", "lower", 0.25),
    ("op_tail_s", "s", "lower", 0.25),
    ("ops_per_s", "1/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.25),
]

CDC, QM = "cdc", "query_mix"

# (name, unit, better, should-move end-to-end metric, workload)
PER_LAYER = []


def _add(names, unit, better, moves, workload):
    for n in names:
        PER_LAYER.append((n, unit, better, moves, workload))


for _fmt in ("binlog_file", "pgoutput", "avro_codec"):
    _add([f"sources.{_fmt}.decode_s"], "s", "lower", "ops_per_s", CDC)
    _add([f"sources.{_fmt}.events"], "count", "higher", "ops_per_s", CDC)
_add(["events.construct_s"], "s", "lower", "ops_per_s; op_p50_s", CDC)
_add([f"cdc_apply.apply_cdc_batch.{e}_s" for e in ("merge", "replacing", "collapsing")],
     "s", "lower", "ops_per_s", CDC)
_add(["table.files_added_per_commit", "table.files_removed_per_commit"],
     "count", "lower", "ops_per_s; engines.final_read_p50_s", CDC)
_add(["table.bytes_written_per_event"], "B", "lower", "ops_per_s", CDC)
_add(["table.files_live_end", "table.versions"], "count", "lower",
     "ops_per_s; engines.final_read_p50_s", CDC)
_add(["bloom.gc_blooms_s", "bloom.build_file_blooms_s", "manifest.refresh_manifest_s"],
     "s", "lower", "op_p50_s (cost); engines.final_read_p50_s (benefit)", CDC)
_add(["streaming.apply_batch_s", "streaming.apply_batch_self_s",
      "streaming.log_monitor_row_s"], "s", "lower", "op_p50_s; op_tail_s", CDC)
_add(["streaming.batches"], "count", "higher", "op_p50_s", CDC)
_add(["streaming.events_per_batch"], "count", "lower", "op_p50_s", CDC)
_add([f"streaming.progress.{p}_ms" for p in
      ("latest_offset", "get_batch", "query_planning", "add_batch", "wal_commit",
       "commit_offsets")], "ms", "lower", "op_p50_s; op_tail_s", CDC)
_add(["streaming.backlog_files"], "count", "lower", "op_tail_s", CDC)
_add(["streaming.generator_late_s"], "s", "lower", "op_tail_s", CDC)
_add(["engines.replacing_view.construct_s"], "s", "lower",
     "engines.final_read_p50_s", CDC)
_add(["engines.final_read.files_scanned_ratio"], "ratio", "lower",
     "engines.final_read_p50_s", CDC)
_add(["engines.final_read_p50_s", "engines.final_read_tail_s"], "s", "lower",
     "op_p50_s (reads share the cores with the stream)", CDC)
_add([f"similarity.{f}_s" for f in ("assign_to_centroids", "ivf_assign", "ann_topk_ivf",
                                     "ann_topk_lsh", "semantic_dedup")],
     "s", "lower", "op_p50_s; ops_per_s", QM)
_add([f"vector_index.{f}_s" for f in ("ivf_refine", "build", "search")],
     "s", "lower", "ops_per_s; setup_s (builds)", QM)
_add(["vector_index.recall_at_5"], "ratio", "higher", "correctness (must not drop)", QM)
_add([f"dedup.{f}_s" for f in ("minhash_signatures", "lsh_candidate_pairs",
                                "jaccard_pairs", "cluster_duplicates")],
     "s", "lower", "ops_per_s", QM)
_add(["dedup_index.build_s", "text.gopher_stats_s"], "s", "lower",
     "ops_per_s; setup_s (builds)", QM)
for _fam, _wl in (("dataops", QM), ("hygiene", QM), ("relational", QM),
                  ("tpch", QM), ("advanced", QM)):
    _add([f"plans.{_fam}.construct_s", f"plans.{_fam}.execute_s"], "s", "lower",
         "ops_per_s", _wl)
_add(["spark.jobs", "spark.stages", "spark.tasks"], "count", "lower", "ops_per_s",
     "all")
_add(["stateful.batches"], "count", "lower", "op_tail_s", QM)
_add(["stateful.add_batch_ms"], "ms", "lower", "op_tail_s", QM)
_add(["stateful.state_rows"], "count", "lower", "op_tail_s", QM)
_add(["stateful.state_memory_bytes"], "B", "lower", "op_tail_s", QM)
_add(["session.local1.ops_per_s"], "1/s", "higher", "none (local[1] catch-up baseline)", CDC)
_add(["trace.overhead_ratio"], "ratio", "lower", "none (instrument cost)", "all")
