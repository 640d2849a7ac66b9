"""Op timing, deferred output checks and failure accounting for one run.

An op is one call into the package. A query op has three timed phases:
construct (build the DataFrame), plan (force Catalyst's executed plan) and
execute (the action, ``toPandas``). Checks run after the cycle's clock has
stopped; an exception or a failed check counts the op as failed and the run
goes on."""

from __future__ import annotations

import sys
import time
import traceback
from contextlib import contextmanager, nullcontext

import layers


class Harness:
    def __init__(self, spark):
        self.spark = spark
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.tracer: layers.Tracer | None = None  # set during traced cycles
        self.layer_tracer = layers.Tracer()
        self.cycle_no = 0
        self.cycles: list[tuple[bool, float]] = []  # (traced, time) per measured cycle, in order
        self.op_times: list[dict[str, float]] = []  # per measured cycle
        self.traced_phase_s: dict[str, float] = {}  # "<op>.<phase>" summed over traced cycles
        self.spark_stats = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0}
        self.construct_jobs = 0
        self._groups: list[str] = []
        self._construct_groups: list[str] = []
        self._ops: dict[str, float] = {}
        self._checks: list[tuple[str, object, object]] = []

    # ---------------------------------------------------------- accounting
    def fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"cycle {self.cycle_no} {name}: {why}")
        print(f"# FAILED cycle {self.cycle_no} {name}: {why}", file=sys.stderr)

    def check(self, name: str, fn, *args) -> None:
        """One output check outside any op: counts as an attempted op."""
        self.attempted += 1
        self._run_check(name, fn, args)

    def _run_check(self, name, fn, args) -> None:
        try:
            problem = fn(*args)
        except Exception:
            problem = traceback.format_exc(limit=3)
        if problem:
            self.fail(name, str(problem))

    # -------------------------------------------------------------- timing
    def _span(self, name: str):
        return self.tracer.span(name) if self.tracer is not None else nullcontext()

    def _phase(self, op: str, phase: str, fn):
        t0 = time.perf_counter()
        if self.tracer is not None:
            group = f"pb-{self.cycle_no}-{op}-{phase}"
            self._groups.append(group)
            if phase == "construct":
                self._construct_groups.append(group)
            self.spark.sparkContext.setJobGroup(group, group)
            with self.tracer.span(f"query.{phase}") if phase != "call" else nullcontext():
                out = fn()
        else:
            out = fn()
        dt = time.perf_counter() - t0
        if self.tracer is not None:
            key = f"{op}.{phase}"
            self.traced_phase_s[key] = self.traced_phase_s.get(key, 0.0) + dt
        return out

    def _op(self, name: str, phases, check):
        self.attempted += 1
        t0 = time.perf_counter()
        result, error = None, None
        with self._span("op"):
            try:
                for phase, fn in phases:
                    result = self._phase(name, phase, lambda: fn(result))
            except Exception:
                error = traceback.format_exc(limit=4)
        self._ops[name] = time.perf_counter() - t0
        if error is not None:
            self.fail(name, error)
            return None
        if check is not None:
            self._checks.append((name, check, result))
        return result

    def call(self, name: str, fn, check=None):
        """A plain call (append, refresh, merge): one timed phase."""
        return self._op(name, [("call", lambda _: fn())], check)

    def query(self, name: str, build, check=None):
        """A DataFrame op; returns the collected pandas frame."""

        def plan(df):
            df._jdf.queryExecution().executedPlan()
            return df

        return self._op(
            name,
            [("construct", lambda _: build()), ("plan", plan), ("execute", lambda df: df.toPandas())],
            check,
        )

    @contextmanager
    def cycle(self, measured: bool, traced: bool):
        """One closed-loop cycle. ``measured`` cycles feed the end-to-end
        metrics; warm-up cycles do not. A cycle's time is the sum of its
        ops' times, so bookkeeping between ops is not counted."""
        self.cycle_no += 1
        self._ops = {}
        if traced:
            self.tracer = self.layer_tracer
            layers.install_layers(self.tracer)
            self._groups = []
        try:
            with self._span("cycle"):
                yield
        finally:
            wall = sum(self._ops.values())
            if traced:
                self.tracer.uninstall()
                self.tracer = None
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                for k, v in layers.spark_group_stats(self.spark, self._groups).items():
                    self.spark_stats[k] += v
                self.construct_jobs += layers.spark_group_stats(
                    self.spark, self._construct_groups
                )["jobs"]
                self._construct_groups = []
            if measured:
                self.cycles.append((traced, wall))
                self.op_times.append(dict(self._ops))
            checks, self._checks = self._checks, []
            for name, fn, result in checks:
                self._run_check(name, fn, (result,))
