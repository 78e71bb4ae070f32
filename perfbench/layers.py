"""The traced run: per-layer metrics from the benchmark's spans and from
Spark's event log.

Untraced and traced runs alternate in one window; the difference of their
medians is the tracing overhead.  After the runs, layers that one action
covers together (the zarr read, the reproject kernel and the zarr write of
``reproject_zarr_stack``) are timed again one at a time on persisted
input.
"""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

from tracing import EventLog, Tracer, self_times

OPS = ("rectify", "reproject", "affine")
OP_METRICS = (
    ("exec_s", "s"), ("python_run_s", "s"), ("python_in_mb", "MB"),
    ("python_out_mb", "MB"), ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"), ("shuffle_fetch_wait_s", "s"),
    ("exchanges", "count"), ("spill_mb", "MB"), ("gc_s", "s"),
    ("tasks", "count"), ("rows_out", "count"),
    ("shuffle_records_per_out_px", "ratio"),
)

#: every per-layer metric, in the order BENCHMARK.json lists them
PER_LAYER = (
    [("gridmapping.infer_s", "s"), ("gridmapping.jobs", "count"),
     ("operators.spatial.plan_s", "s"),
     ("operators.spatial.plan_jobs", "count"),
     ("crs.transform_s", "s"), ("crs.udf_python_s", "s")]
    + [(f"operators.{op}.{m}", u) for op in OPS for m, u in OP_METRICS]
    + [("operators.reproject.alone_s", "s"),
       ("sources.zarr.open_s", "s"), ("sources.zarr.read_s", "s"),
       ("sources.zarr.read_mb", "MB"), ("sources.zarr.write_s", "s"),
       ("sources.zarr.write_mb", "MB"),
       ("sources.zarr.chunks_written", "count"),
       ("spark.executor_run_s", "s"), ("spark.executor_cpu_s", "s"),
       ("trace.run_s", "s"), ("trace.untraced_run_s", "s"),
       ("trace.overhead_s", "s"), ("trace.coverage", "ratio"),
       ("trace.exec_attributed", "ratio")]
)

#: span name -> layer; an action span's time is split between the layers
#: its stages ran (see ``_layer_times``)
SPAN_LAYER = {
    "gridmapping.infer": "gridmapping",
    "operators.spatial.plan": "operators.spatial",
    "sources.zarr.open": "sources.zarr",
    "operators.rectify.exec": "operators.rectify",
    "sources.zarr.write": "sources.zarr",
}
ACTIONS = {"operators.rectify.exec", "sources.zarr.write"}
MB = 1024.0 * 1024.0
MIN_TRACED = 2


def _median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def traced(bench, wl, expected_count, stop) -> dict:
    from tracing import NullTracer

    tracer = Tracer(bench.spark.sparkContext)
    plain, traced_walls, errors = [], [], []
    t0 = time.perf_counter()
    while True:
        ok, wall, _, err = bench.timed_run(wl, NullTracer(), expected_count)
        plain.append((ok, wall))
        errors += [err] if err else []
        tracer.run_id += 1
        with tracer.span("run"):
            ok, wall, _, err = bench.timed_run(wl, tracer, expected_count)
        traced_walls.append((ok, wall))
        errors += [err] if err else []
        if stop(len(traced_walls), MIN_TRACED, t0):
            break
    tracer.run_id = 0  # spans outside the measured runs
    alone = _alone(bench, wl, tracer)
    bench.stop_session()  # closes the event log
    tracer.dump(os.path.join(bench.work, "spans.json"))
    log = EventLog(EventLog.find(bench.log_dir))
    metrics, table = _metrics(wl, tracer, log, plain, traced_walls, alone)
    runs = plain + traced_walls
    failed = sum(1 for ok, _ in runs if not ok)
    return {
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in PER_LAYER},
        "attempted": len(runs),
        "failed": failed,
        "report": {"untraced_walls_s": [w for _, w in plain],
                   "traced_walls_s": [w for _, w in traced_walls],
                   "errors": errors},
        "table": table,
    }


def _alone(bench, wl, tracer) -> dict:
    """Single-layer timings outside the measured runs."""
    import numpy as np

    from xcube_resampling_spark.crs import Transformer

    gm = wl.target_gm
    xx, yy = np.meshgrid(
        gm.x_min + (np.arange(gm.width) + 0.5) * gm.x_res,
        gm.y_max - (np.arange(gm.height) + 0.5) * gm.y_res)
    tr = Transformer.from_crs(gm.crs, wl.source_crs)
    out = {"crs.transform_s": _median(
        _timed(lambda: tr.transform(xx, yy)) for _ in range(3))}
    if hasattr(wl, "layers_alone"):
        out.update(wl.layers_alone(tracer))
    return out


def _layer_times(spans, log) -> dict:
    """Layer -> seconds of one traced run.  A non-action span counts as
    its layer's self time.  An action span's self time is split between
    the layers of the stages it ran, in proportion to their executor run
    time."""
    selft = self_times(spans)
    out = defaultdict(float)
    for sp in spans:
        layer = SPAN_LAYER.get(sp.name)
        if layer is None:
            continue
        stages = log.stages_in(sp.group) if sp.name in ACTIONS else []
        total = sum(st.run_s for st in stages)
        if total <= 0:
            out[layer] += selft[sp.span_id]
            continue
        for st in stages:
            out[st.layer] += selft[sp.span_id] * st.run_s / total
    return out


def _metrics(wl, tracer, log, plain, traced_walls, alone):
    runs = sorted({s.run_id for s in tracer.spans if s.run_id > 0})
    n = len(runs)
    by_run = {r: [s for s in tracer.spans if s.run_id == r] for r in runs}
    groups = {s.group for r in runs for s in by_run[r]}
    stages = [st for st in log.stages.values()
              if st.job_group in groups and st.tasks]
    run_total = sum(st.run_s for st in stages)
    claimed = (sum(st.run_s for st in stages if st.layer) / run_total
               if run_total else 0.0)
    # a stage no kernel claims belongs to the layer of the span it ran in
    span_layer = {s.group: SPAN_LAYER.get(s.name) for s in tracer.spans}
    for st in stages:
        st.layer = st.layer or span_layer.get(st.job_group)

    def span_med(name, fn):
        return _median(fn(s) for r in runs for s in by_run[r]
                       if s.name == name)

    m = {k: 0.0 for k, _ in PER_LAYER}
    m["gridmapping.infer_s"] = span_med("gridmapping.infer",
                                        lambda s: s.duration)
    m["gridmapping.jobs"] = span_med("gridmapping.infer",
                                     lambda s: log.jobs_in(s.group))
    m["operators.spatial.plan_s"] = span_med("operators.spatial.plan",
                                             lambda s: s.duration)
    m["operators.spatial.plan_jobs"] = span_med(
        "operators.spatial.plan", lambda s: log.jobs_in(s.group))
    m["sources.zarr.open_s"] = span_med("sources.zarr.open",
                                        lambda s: s.duration)
    per_run = [_layer_times(by_run[r], log) for r in runs]
    layers = sorted({k for d in per_run for k in d})
    layer_s = {k: _median(d.get(k, 0.0) for d in per_run) for k in layers}

    # python metrics belong to the node's layer, stage metrics to the
    # stage's layer
    py = defaultdict(lambda: defaultdict(float))
    for st in stages:
        for layer, vals in log.stage_py(st.stage_id).items():
            for k, v in vals.items():
                py[layer][k] += v
    for op in OPS:
        layer = f"operators.{op}"
        own = [st for st in stages if st.layer == layer]
        p = f"{layer}."
        m[p + "exec_s"] = layer_s.get(layer, 0.0)
        m[p + "python_run_s"] = py[layer]["python_run"] / n
        m[p + "python_in_mb"] = py[layer]["python_in"] / MB / n
        m[p + "python_out_mb"] = py[layer]["python_out"] / MB / n
        m[p + "shuffle_write_mb"] = sum(
            st.shuffle_write_b for st in own) / MB / n
        m[p + "shuffle_read_mb"] = sum(
            st.shuffle_read_b for st in own) / MB / n
        m[p + "shuffle_fetch_wait_s"] = sum(
            st.fetch_wait_s for st in own) / n
        m[p + "exchanges"] = sum(
            1 for st in own if st.shuffle_write_b > 0) / n
        m[p + "spill_mb"] = sum(st.spill_b for st in own) / MB / n
        m[p + "gc_s"] = sum(st.gc_s for st in own) / n
        m[p + "tasks"] = sum(st.tasks for st in own) / n
        rows = log.rows_out(layer, [st.stage_id for st in stages]) / n
        m[p + "rows_out"] = rows
        recs = sum(st.shuffle_write_records for st in own) / n
        m[p + "shuffle_records_per_out_px"] = recs / rows if rows else 0.0
    m["crs.udf_python_s"] = py["crs"]["python_run"] / n
    m.update(alone)
    m["spark.executor_run_s"] = run_total / n
    m["spark.executor_cpu_s"] = sum(st.cpu_s for st in stages) / n
    m["trace.exec_attributed"] = claimed
    t_run = _median(w for ok, w in traced_walls if ok)
    u_run = _median(w for ok, w in plain if ok)
    m["trace.run_s"] = t_run
    m["trace.untraced_run_s"] = u_run
    m["trace.overhead_s"] = t_run - u_run
    roots = [s for r in runs for s in by_run[r] if s.name == "run"]
    selft = self_times(tracer.spans)
    m["trace.coverage"] = _median(
        1.0 - selft[s.span_id] / s.duration for s in roots)
    return m, _table(wl, m, layer_s, t_run)


def _table(wl, m, layer_s, run_s) -> str:
    lines = [f"layer table: {wl.name} (traced run_s {run_s:.3f} s)",
             f"{'layer':22s} {'self_s':>8s} {'of run':>7s}  counters"]
    for layer in sorted(layer_s, key=lambda k: -layer_s[k]):
        pre = layer + "."
        counters = ", ".join(
            f"{k[len(pre):]}={v:.4g}" for k, v in m.items()
            if k.startswith(pre) and not k.endswith("exec_s") and v)
        share = layer_s[layer] / run_s if run_s else 0.0
        lines.append(f"{layer:22s} {layer_s[layer]:8.3f} {share:7.1%}  "
                     f"{counters}")
    lines.append(f"spans cover {m['trace.coverage']:.1%} of run_s; "
                 f"kernel nodes claim {m['trace.exec_attributed']:.1%} "
                 f"of executor run time; tracing overhead "
                 f"{m['trace.overhead_s']:+.3f} s "
                 f"(untraced {m['trace.untraced_run_s']:.3f} s)")
    return "\n".join(lines)
