"""Per-layer metrics, computed from the spans of a traced run.

Names follow the engine's modules.  A workload that never calls a layer
reports 0 for it, which is the prediction for that pairing.  Per-unit
quantities are medians over the traced units (passes or rounds).
"""

from __future__ import annotations

import statistics

from workloads import ETL_ENTRIES

PROBES = {"similarity": "ivf", "retrieval": "bm25"}


def names_and_units() -> list[tuple[str, str]]:
    out = []
    for op in ETL_ENTRIES:
        out += [
            (f"catalog.{op}.build_s", "s"),
            (f"catalog.{op}.action_s", "s"),
            (f"catalog.{op}.py4j_calls", "count"),
            (f"catalog.{op}.build_jobs", "count"),
        ]
    out += [
        ("catalog.action_tasks", "count"),
        ("catalog.shuffle_mb", "MB"),
        ("catalog.input_rows", "count"),
        ("catalog.executor_run_s", "s"),
        ("writers.mb_written", "MB"),
        ("writers.files_written", "count"),
        ("dtsx.parse_s", "s"),
        ("dtsx.bind_s", "s"),
        ("pipeline.run_s", "s"),
        ("session.start_s", "s"),
        ("readers.testdata_s", "s"),
        ("readers.scan_s", "s"),
        ("blocks.pinned_rdds", "count"),
        ("catalog.tmp_mb_left", "MB"),
    ]
    for layer, ix in PROBES.items():
        out += [
            (f"{layer}.{ix}_build_s", "s"),
            (f"{layer}.{ix}_append_s", "s"),
            (f"{layer}.{ix}_probe_plan_s", "s"),
            (f"{layer}.{ix}_probe_exec_s", "s"),
            (f"{layer}.{ix}_probe_py4j_calls", "count"),
            (f"{layer}.{ix}_probe_jobs", "count"),
            (f"{layer}.{ix}_rows_scanned_per_result", "ratio"),
        ]
    out.append(("trace.overhead_ratio", "ratio"))
    return out


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _sum_under(tracer, root, name: str, field: str | None = None) -> float:
    """Total duration (or counter ``field``) of descendants named ``name``."""
    by_parent: dict[int, list] = {}
    for s in tracer.spans:
        by_parent.setdefault(s.parent, []).append(s)
    total, todo = 0.0, [root]
    while todo:
        for kid in by_parent.get(todo.pop().id, []):
            if kid.name == name:
                total += kid.duration if field is None else kid.counters.get(field, 0)
            todo.append(kid)
    return total


def _child(tracer, span, name: str):
    kids = tracer.find(name, parent=span)
    return kids[0] if kids else None


def compute(workload, tracer, setup_spans: dict, tmp_bytes: int) -> dict:
    """All per-layer metrics, ``{name: value}``."""
    m = dict.fromkeys((n for n, _ in names_and_units()), 0.0)
    units = [s for s in tracer.find(workload.unit_name) if s.attrs.get("window")]
    counted = [s for s in units if s.attrs.get("counted")]
    plain = [s for s in units if not s.attrs.get("counted")]
    for key in ("session.start_s", "readers.testdata_s", "readers.scan_s"):
        m[key] = setup_spans[key]
    m["catalog.tmp_mb_left"] = tmp_bytes / 1e6
    if workload.pinned_rdds:
        m["blocks.pinned_rdds"] = workload.pinned_rdds[-1]
    if counted and plain:
        m["trace.overhead_ratio"] = (
            _median(s.duration for s in counted)
            / _median(s.duration for s in plain)
        )
    if workload.unit_name == "pass":
        _etl(m, tracer, counted)
    else:
        _serving(m, tracer, counted)
    return m


def _etl(m: dict, tracer, passes: list) -> None:
    for op in ETL_ENTRIES:
        ops = [o for p in passes for o in tracer.find(op, parent=p)]
        builds = [b for o in ops if (b := _child(tracer, o, "build"))]
        actions = [a for o in ops if (a := _child(tracer, o, "action"))]
        m[f"catalog.{op}.build_s"] = _median(b.duration for b in builds)
        m[f"catalog.{op}.action_s"] = _median(a.duration for a in actions)
        m[f"catalog.{op}.py4j_calls"] = _median(
            b.counters.get("py4j_calls", 0) for b in builds
        )
        m[f"catalog.{op}.build_jobs"] = _median(
            b.counters.get("jobs", 0) for b in builds
        )
    per_pass = {
        "catalog.action_tasks": ("tasks", 1),
        "catalog.shuffle_mb": ("shuffle_bytes", 1e6),
        "catalog.input_rows": ("input_rows", 1),
        "catalog.executor_run_s": ("executor_run_ms", 1e3),
        "writers.mb_written": ("bytes_written", 1e6),
        "writers.files_written": ("files_written", 1),
    }
    for key, (field, scale) in per_pass.items():
        m[key] = _median(
            _sum_under(tracer, p, "action", field) / scale for p in passes
        )
    for key, name in (("dtsx.parse_s", "dtsx.parse"), ("dtsx.bind_s", "dtsx.bind"),
                      ("pipeline.run_s", "pipeline.run")):
        m[key] = _median(_sum_under(tracer, p, name) for p in passes)


def _serving(m: dict, tracer, rounds: list) -> None:
    for layer, ix in PROBES.items():
        build = tracer.find(f"{ix}_build")
        m[f"{layer}.{ix}_build_s"] = build[0].duration if build else 0.0
        appends = [o for r in rounds for o in tracer.find(f"{ix}_append", parent=r)]
        m[f"{layer}.{ix}_append_s"] = _median(a.duration for a in appends)
        probes = [o for r in rounds for o in tracer.find(f"{ix}_probe", parent=r)]
        pairs = [
            (b, a) for o in probes
            if (b := _child(tracer, o, "build")) and (a := _child(tracer, o, "action"))
        ]

        def both(field, pairs=pairs):
            return [b.counters.get(field, 0) + a.counters.get(field, 0)
                    for b, a in pairs]

        m[f"{layer}.{ix}_probe_plan_s"] = _median(b.duration for b, _ in pairs)
        m[f"{layer}.{ix}_probe_exec_s"] = _median(a.duration for _, a in pairs)
        m[f"{layer}.{ix}_probe_py4j_calls"] = _median(both("py4j_calls"))
        m[f"{layer}.{ix}_probe_jobs"] = _median(both("jobs"))
        m[f"{layer}.{ix}_rows_scanned_per_result"] = _median(
            rows / a.attrs["rows"]
            for rows, (_, a) in zip(both("input_rows"), pairs)
            if a.attrs.get("rows")
        )
