"""The shape every workload shares: a Spark session, set-up (shared and
per instance), measured phases, and the assembly of the result."""

from __future__ import annotations

import json
import threading
import time
from dataclasses import dataclass, field

from perfbench import catalog, stats
from perfbench.trace import Tracer


@dataclass
class Measure:
    """What one measured phase saw."""
    latencies: list = field(default_factory=list)  # per op, seconds
    ops: int = 0                                    # ops completed
    wall_s: float = 0.0                             # wall of the phase
    attempted: int = 0                              # ops + checks
    failed: list = field(default_factory=list)      # names of failed ops
    report: dict = field(default_factory=dict)      # workload-named figures
    layers: dict = field(default_factory=dict)      # per-layer figures
    setup_extra_s: float = 0.0                      # set-up between phases


class Workload:
    name = ""

    def __init__(self, env, seed: int, seconds: int):
        self.env = env
        self.seed = seed
        self.seconds = seconds
        self.spark = None

    # -- to override ------------------------------------------------------
    def generate_inputs(self) -> None:
        """Inputs built without Spark; runs beside the session's start."""

    def shared_setup(self) -> None:
        pass

    def instance_setup(self, i: int):
        return None

    def measure(self, state, tracer: Tracer | None) -> Measure:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Wrap the layers this workload calls (traced phase only)."""

    # -- running ----------------------------------------------------------
    def start_session(self):
        from synch_spark.session import get_spark

        self.spark = get_spark(f"perfbench-{self.name}", self.env.cpus)
        self.spark.range(1).count()
        return self.spark

    def overhead_baseline(self, state) -> Measure:
        """The untraced phase trace.overhead_ratio compares against."""
        return self.measure(state, None)

    def extra_layers(self) -> dict:
        """Per-layer figures measured after the traced phase."""
        return {}

    def run(self, trace: bool, process_start: float) -> dict:
        """setup_s runs from process start to the first timed operation,
        plus set-up between a workload's phases. A traced run measures an
        untraced baseline on one instance and the traced phase on a
        second; it reports per-layer figures only."""
        errors: list = []

        def generate():
            try:
                self.generate_inputs()
            except BaseException as e:  # noqa: BLE001 — re-raised below
                errors.append(e)

        gen_thread = threading.Thread(target=generate, name="generate-inputs")
        gen_thread.start()
        try:
            self.start_session()
        finally:
            gen_thread.join()
        if errors:
            raise RuntimeError("input generation failed") from errors[0]
        self.shared_setup()
        state = self.instance_setup(0)
        setup_s = time.perf_counter() - process_start
        if not trace:
            m = self.measure(state, None)
            return {"measure": m, "e2e": self.end_to_end(m, setup_s + m.setup_extra_s)}

        base = self.overhead_baseline(state)
        state = self.instance_setup(1)
        tracer = Tracer()
        self.instrument(tracer)
        try:
            traced = self.measure(state, tracer)
        finally:
            tracer.unwrap_all()
        layers = {name: 0.0 for name, *_ in catalog.PER_LAYER}
        layers.update(traced.layers)
        layers.update(self.span_metrics(tracer))
        # ops/s untraced over ops/s traced: above 1 when tracing slows the run
        layers["trace.overhead_ratio"] = (base.ops / base.wall_s) / (traced.ops / traced.wall_s)
        layers.update(self.extra_layers())
        traced.failed = base.failed + traced.failed
        traced.attempted += base.attempted
        return {"measure": traced, "layers": layers, "tracer": tracer}

    def end_to_end(self, m: Measure, setup_s: float) -> dict:
        p, tail_v, n = stats.tail(m.latencies)
        m.report["op_tail_percentile"] = p
        m.report["op_samples"] = n
        return {
            "setup_s": setup_s,
            "op_p50_s": stats.median(m.latencies),
            "op_tail_s": tail_v,
            "ops_per_s": m.ops / m.wall_s,
        }

    def span_metrics(self, tracer: Tracer) -> dict:
        """Named span totals (seconds) for the layers this workload wraps."""
        return {}


def dumps_metrics(values: dict, kind: str) -> dict:
    units = {n: u for n, u, *_ in (catalog.END_TO_END if kind == "e2e"
                                   else catalog.PER_LAYER)}
    return {n: {"value": float(values[n]), "unit": units[n]} for n in units}


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": correct, "attempted": attempted,
                       "failed": failed, "metrics": metrics})
