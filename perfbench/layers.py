"""Spans and counters recorded from outside the package.

A traced cycle patches the package's public functions at every name they
are looked up through (the defining module and every module that imported
them by name), records one span per call, and restores the originals when
the cycle ends, so untraced cycles run the unmodified code."""

from __future__ import annotations

import functools
import importlib
import json
import os
import sys
import time
from contextlib import contextmanager

from stats import Span, inclusive_time_by_name, self_time_by_name

PKG = "iceberg_rust_custom_spark"

# spans that belong to no layer of the program: the benchmark's own op
# frames, and DataFrame construction outside any wrapped function
GLUE_SPANS = ("op", "query.construct")


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.counters: dict[str, float] = {}
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []

    # ------------------------------------------------------------ recording
    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, key: str, n: float = 1) -> None:
        self.counters[key] = self.counters.get(key, 0) + n

    # ------------------------------------------------------------- patching
    def _wrap(self, fn, name: str, before=None, after=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if before is not None:
                before(tracer, args, kwargs)
            tracer.count(name + ".calls")
            with tracer.span(name):
                try:
                    result = fn(*args, **kwargs)
                except Exception:
                    tracer.count(name + ".errors")
                    raise
            if after is not None:
                after(tracer, result, args, kwargs)
            return result

        return wrapper

    def wrap_function(self, module_name: str, attr: str, name: str, before=None, after=None):
        """Patch ``module_name.attr`` and every loaded package module that
        holds the same object under the same name."""
        original = getattr(importlib.import_module(module_name), attr)
        wrapper = self._wrap(original, name, before, after)
        for mod_name, mod in list(sys.modules.items()):
            if (mod_name == PKG or mod_name.startswith(PKG + ".")) and getattr(mod, attr, None) is original:
                self._patches.append((mod, attr, original))
                setattr(mod, attr, wrapper)

    def wrap_method(self, cls, attr: str, name: str, before=None, after=None):
        original = cls.__dict__[attr]
        self._patches.append((cls, attr, original))
        setattr(cls, attr, self._wrap(original, name, before, after))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)


# ---------------------------------------------------------------- the layers


def _after_write(tracer, files, args, kwargs):
    tracer.count("write.files", len(files))
    tracer.count("write.bytes", sum(f.file_size_in_bytes for f in files))
    tracer.count("write.rows", sum(f.record_count for f in files))


def _before_read_manifest(tracer, args, kwargs):
    from iceberg_rust_custom_spark.metadata import manifest

    path = args[0] if args else kwargs["path"]
    ml_row = args[1] if len(args) > 1 else kwargs.get("ml_row")
    key = (path, ml_row.get("sequence_number") if ml_row else None)
    if key in manifest._MANIFEST_CACHE:
        tracer.count("metadata.manifest_cache_hits")


def _after_plan_files(tracer, files, args, kwargs):
    tracer.count("scan.files_planned", len(files))


def _after_swap(tracer, result, args, kwargs):
    new_location = args[3] if len(args) > 3 else kwargs["new_location"]
    if os.path.exists(new_location):
        tracer.count("commit.metadata_bytes", os.path.getsize(new_location))


def _after_refresh(tracer, flavor, args, kwargs):
    if flavor:
        tracer.count("mv.refreshes")
        if str(flavor).startswith("incremental"):
            tracer.count("mv.incremental_refreshes")


# (module, attribute, span name, before, after) for module-level functions
FUNCTIONS = [
    (f"{PKG}.table.write", "write_partitioned", "write.write_partitioned", None, _after_write),
    (f"{PKG}.metadata.manifest", "read_manifest", "metadata.read_manifest", _before_read_manifest, None),
    (f"{PKG}.metadata.manifest", "read_manifest_list", "metadata.read_manifest_list", None, None),
    (f"{PKG}.table.scan", "plan_files", "scan.plan_files", None, _after_plan_files),
    (f"{PKG}.table.scan", "plan_files_distributed", "scan.plan_files", None, _after_plan_files),
    (f"{PKG}.table.scan", "plan_delete_files", "scan.plan_delete_files", None, None),
    (f"{PKG}.table.scan", "scan_to_dataframe", "scan.scan_to_dataframe", None, None),
    (f"{PKG}.table.maintenance", "merge_upsert", "maint.merge_upsert", None, None),
    (f"{PKG}.functions.local_rows", "local_rows_df", "local_rows", None, None),
] + [
    (f"{PKG}.operators.{mod}", fn, f"ops.{fn}", None, None)
    for mod, fn in [
        ("text", "ngram_lm_scores"),
        ("dedup", "minhash_lsh_pairs"),
        ("dedup", "dedup_clusters"),
    ]
]


def install_layers(tracer: Tracer) -> None:
    from iceberg_rust_custom_spark.catalog.file_catalog import FileCatalog
    from iceberg_rust_custom_spark.engine import Engine
    from iceberg_rust_custom_spark.table.table import Table
    from iceberg_rust_custom_spark.table.transaction import Transaction

    for module, attr, name, before, after in FUNCTIONS:
        tracer.wrap_function(module, attr, name, before, after)
    tracer.wrap_method(Transaction, "commit", "commit")
    tracer.wrap_method(FileCatalog, "swap", "catalog.swap", None, _after_swap)
    tracer.wrap_method(Engine, "refresh_materialized_view", "mv.refresh", None, _after_refresh)
    tracer.wrap_method(Engine, "scan_materialized_view", "mv.scan")
    tracer.wrap_method(Engine, "sql", "engine.sql")
    tracer.wrap_method(Table, "changes", "cdc.changes")


# ---------------------------------------------------------- Spark job stats


def spark_group_stats(spark, groups: list[str]) -> dict[str, int]:
    """Jobs, tasks, failed tasks and shuffle bytes written by the jobs of
    the given job groups, read from the status store (each stage once)."""
    tracker = spark.sparkContext.statusTracker()
    store = spark.sparkContext._jsc.sc().statusStore()
    out = {"jobs": 0, "tasks": 0, "failed_tasks": 0, "shuffle_write_bytes": 0}
    stages: set[int] = set()
    for g in groups:
        for job_id in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stages.update(info.stageIds)
    for sid in stages:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # py4j: a stage the store has not kept
            continue
        out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
        out["failed_tasks"] += st.numFailedTasks()
        out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out


# ------------------------------------------------------------ layer metrics

SLOTS = ("lsh_clusters", "ngram_lm")
OPERATORS = [name for _, _, name, _, _ in FUNCTIONS if name.startswith("ops.")]

PER_LAYER = (
    [
        ("write.append_s", "s"),
        ("write.files_per_commit", "count"),
        ("write.bytes_per_row", "B/row"),
        ("commit.s", "s"),
        ("commit.retries", "count"),
        ("commit.metadata_bytes", "bytes"),
        ("metadata.manifest_read_s", "s"),
        ("metadata.manifest_reads", "count"),
        ("metadata.manifest_cache_hit_ratio", "ratio"),
        ("metadata.manifest_list_read_s", "s"),
        ("scan.plan_files_s", "s"),
        ("scan.plan_delete_files_s", "s"),
        ("scan.build_df_s", "s"),
        ("scan.files_planned", "count"),
        ("scan.files_pruned_ratio", "ratio"),
        ("mv.refresh_s", "s"),
        ("mv.incremental_ratio", "ratio"),
        ("mv.scan_s", "s"),
        ("maint.merge_s", "s"),
        ("cdc.changes_s", "s"),
        ("query.construct_s", "s"),
        ("query.plan_s", "s"),
        ("query.execute_s", "s"),
        ("query.construct_jobs", "count"),
    ]
    + [(f"{name}.construct_s", "s") for name in OPERATORS]
    + [(f"ops.{slot}.execute_s", "s") for slot in SLOTS]
    + [
        ("local_rows.calls", "count"),
        ("local_rows.s", "s"),
        ("spark.jobs", "count"),
        ("spark.tasks", "count"),
        ("spark.shuffle_write_bytes", "bytes"),
        ("spark.failed_tasks", "count"),
        ("trace.overhead_ratio", "ratio"),
        ("trace.unattributed_ratio", "ratio"),
    ]
)


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_metrics(
    tracer: Tracer,
    n_cycles: int,
    spark_stats: dict[str, int],
    construct_jobs: int,
    phase_s: dict[str, float],
    pruned_ratio: float,
    overhead_ratio: float,
) -> dict[str, float]:
    """Per traced cycle: seconds and counts are averages over the traced
    cycles, ratios are taken over their totals."""
    incl = inclusive_time_by_name(tracer.spans)
    own = self_time_by_name(tracer.spans)
    c = tracer.counters
    per = lambda v: v / n_cycles  # noqa: E731
    op_wall = incl.get("op", 0.0)
    m = {
        "write.append_s": per(incl.get("write.write_partitioned", 0.0)),
        "write.files_per_commit": _ratio(c.get("write.files", 0), c.get("commit.calls", 0)),
        "write.bytes_per_row": _ratio(c.get("write.bytes", 0), c.get("write.rows", 0)),
        "commit.s": per(incl.get("commit", 0.0)),
        "commit.retries": per(c.get("catalog.swap.errors", 0)),
        "commit.metadata_bytes": _ratio(c.get("commit.metadata_bytes", 0), c.get("commit.calls", 0)),
        "metadata.manifest_read_s": per(incl.get("metadata.read_manifest", 0.0)),
        "metadata.manifest_reads": per(c.get("metadata.read_manifest.calls", 0)),
        "metadata.manifest_cache_hit_ratio": _ratio(
            c.get("metadata.manifest_cache_hits", 0), c.get("metadata.read_manifest.calls", 0)
        ),
        "metadata.manifest_list_read_s": per(incl.get("metadata.read_manifest_list", 0.0)),
        "scan.plan_files_s": per(incl.get("scan.plan_files", 0.0)),
        "scan.plan_delete_files_s": per(incl.get("scan.plan_delete_files", 0.0)),
        "scan.build_df_s": per(incl.get("scan.scan_to_dataframe", 0.0)),
        "scan.files_planned": per(c.get("scan.files_planned", 0)),
        "scan.files_pruned_ratio": pruned_ratio,
        "mv.refresh_s": per(incl.get("mv.refresh", 0.0)),
        "mv.incremental_ratio": _ratio(c.get("mv.incremental_refreshes", 0), c.get("mv.refreshes", 0)),
        "mv.scan_s": per(incl.get("mv.scan", 0.0)),
        "maint.merge_s": per(incl.get("maint.merge_upsert", 0.0)),
        "cdc.changes_s": per(incl.get("cdc.changes", 0.0)),
        "query.construct_s": per(incl.get("query.construct", 0.0)),
        "query.plan_s": per(incl.get("query.plan", 0.0)),
        "query.execute_s": per(incl.get("query.execute", 0.0)),
        "query.construct_jobs": per(construct_jobs),
        "local_rows.calls": per(c.get("local_rows.calls", 0)),
        "local_rows.s": per(incl.get("local_rows", 0.0)),
        "spark.jobs": per(spark_stats["jobs"]),
        "spark.tasks": per(spark_stats["tasks"]),
        "spark.shuffle_write_bytes": per(spark_stats["shuffle_write_bytes"]),
        "spark.failed_tasks": per(spark_stats["failed_tasks"]),
        "trace.overhead_ratio": overhead_ratio,
        "trace.unattributed_ratio": _ratio(sum(own.get(n, 0.0) for n in GLUE_SPANS), op_wall),
    }
    for name in OPERATORS:
        m[f"{name}.construct_s"] = per(incl.get(name, 0.0))
    for slot in SLOTS:
        m[f"ops.{slot}.execute_s"] = per(phase_s.get(f"{slot}.execute", 0.0))
    return m


def write_spans(tracer: Tracer, path: str) -> None:
    """Spans (name, start, end, parent) plus self time per layer."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t0 = tracer.spans[0].start if tracer.spans else 0.0
    with open(path, "w") as f:
        json.dump(
            {
                "spans": [
                    [s.name, round(s.start - t0, 6), round(s.end - t0, 6), s.parent]
                    for s in tracer.spans
                ],
                "self_s": {k: round(v, 6) for k, v in sorted(self_time_by_name(tracer.spans).items())},
                "counters": tracer.counters,
            },
            f,
        )
