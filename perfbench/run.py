"""sparksynch benchmark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from the seed, runs
the workload through synch_spark's public API, checks the outputs
against oracles that do not use synch_spark, and prints the figures:
human-readable lines first, then one JSON object as the last line of
standard output. ``--trace 0`` reports the end-to-end metrics; ``--trace
1`` runs the workload untraced and then traced, and reports the
per-layer metrics (and writes every span to .bench_out/). Exits non-zero
when any operation failed or returned a wrong result.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    from perfbench import harness

    process_start = time.perf_counter() - harness.process_age_s()
    missing = [p for p in ("synch_spark/streaming/pipeline.py", "tests/binlog_builder.py",
                           "tests/test_pgoutput.py")
               if not os.path.isfile(os.path.join(CHECKOUT, p))]
    if missing:
        print(f"perfbench: not a sparksynch checkout (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2

    from perfbench import catalog
    if args.workload not in catalog.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(one of {', '.join(catalog.WORKLOADS)})", file=sys.stderr)
        return 2

    env = harness.RunEnv(CHECKOUT, harness.cpu_count())
    # Spark's JVM inherits fd 1 and writes progress chatter there: point
    # fd 1 at stderr before it starts and keep the real stdout for the
    # report
    real_stdout = os.fdopen(os.dup(1), "w")
    sys.stdout.flush()
    os.dup2(2, 1)
    rss = harness.RssSampler().start()
    wl = None
    try:
        from perfbench import cdc, queries

        workloads = {"cdc": cdc.Cdc, "query_mix": queries.QueryMix}
        wl = workloads[args.workload](env, args.seed, args.seconds)
        out = wl.run(bool(args.trace), process_start)
    except Exception:  # noqa: BLE001 — no result is printed for a crashed run
        traceback.print_exc()
        return 1
    finally:
        if wl is not None and wl.spark is not None:
            harness.stop_spark(wl.spark)
        peak_mb = rss.stop()
        env.close()

    from perfbench import workload as W

    m = out["measure"]
    failed, attempted = m.failed, m.attempted
    lines = [f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
             f"cpus {env.cpus} trace {args.trace}",
             f"op = {catalog.WORKLOAD_OPS[args.workload]}"]
    if not args.trace:
        e2e = dict(out["e2e"], peak_rss_mb=peak_mb)
        for name, unit, *_ in catalog.END_TO_END:
            lines.append(f"{name:<40} {e2e[name]:>14.6g} {unit}")
    for k, v in sorted(m.report.items()):
        if isinstance(v, dict):
            continue  # per-query detail goes to the trace file
        lines.append(f"  {k:<38} {v:>14.6g}" if isinstance(v, (int, float))
                     and not isinstance(v, bool) else f"  {k:<38} {v}")
    lines.append(f"error_rate {len(failed)}/{attempted} = "
                 f"{len(failed) / max(1, attempted):.6g}")
    for f in failed:
        lines.append(f"FAILED {f}")
    if args.trace:
        tracer = out["tracer"]
        selfs = tracer.self_times()
        by_name: dict[str, list] = {}
        for s in tracer.spans:
            by_name.setdefault(s["name"], [0, 0.0, 0.0, 0])
            rec = by_name[s["name"]]
            rec[0] += 1
            rec[1] += s["end"] - s["start"]
            rec[2] += selfs[s["id"]]
            rec[3] += s["error"] is not None
        lines.append(f"{'span':<44} {'calls':>6} {'total_s':>10} {'self_s':>10} {'failed':>6}")
        for name, (n, tot, slf, err) in sorted(by_name.items()):
            lines.append(f"{name:<44} {n:>6} {tot:>10.4f} {slf:>10.4f} {err:>6}")
        for name, unit, _b, moves, wl_name in catalog.PER_LAYER:
            lines.append(f"{name:<44} {out['layers'][name]:>14.6g} {unit:<6} "
                         f"moves {moves} on {wl_name}")
        trace_path = os.path.join(CHECKOUT, ".bench_out",
                                  f"trace-{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tracer.write(trace_path, {"workload": args.workload, "seed": args.seed,
                                  "layers": out["layers"], "report": m.report})
        lines.append(f"trace written to {os.path.relpath(trace_path, CHECKOUT)}")
        metrics = W.dumps_metrics(out["layers"], "layers")
    else:
        metrics = W.dumps_metrics(e2e, "e2e")
    correct = not failed
    real_stdout.write("\n".join(lines) + "\n")
    real_stdout.write(W.result_line(correct, attempted, len(failed), metrics) + "\n")
    real_stdout.flush()
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
