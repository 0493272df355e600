"""Per-layer metrics of the traced runs.

Two views of the same spans:

* the **module view** names each layer after the engine module whose
  public function the benchmark called (``sources.nutch``,
  ``operators.linkrank``, ...). It is printed for the layers a workload
  runs;
* the **role view** is the one in the result JSON and BENCHMARK.json. It
  names each layer by the part it plays in a pipeline -- ``input``,
  ``dedup``, ``loop``, ``sink`` -- so every metric is measured on every
  workload (ROLES maps roles to modules per workload; README.md has the
  table).

Each value is the median over the traced runs of one invocation.
"""

from __future__ import annotations

import statistics

from jobtrace import covered, persisted_rdds, storage_bytes, supersteps

#: role -> span layers that play it, per workload
ROLES = {
    "crawl_pages": {
        "input": ["sources.nutch"],
        "dedup": ["operators.clean"],
        "loop": ["operators.linkrank"],
        "sink": ["operators.linkrank.normalize", "sources.nutch.sink"],
    },
    "host_trust": {
        "input": ["sources.nutch"],
        "dedup": [],
        "loop": ["operators.linkrank"],
        "sink": ["operators.linkrank.normalize", "sources.nutch.sink"],
    },
    "neardup_corpus": {
        "input": ["operators.dedup.signatures"],
        "dedup": ["operators.dedup.pairs"],
        "loop": ["operators.components"],
        "sink": ["sink"],
    },
}

#: role-view metric -> (unit, better), in report order
ROLE_METRICS = {
    "session.start_s": ("s", "lower"),
    "session.cold_run_penalty_s": ("s", "lower"),
    "input.wall_s": ("s", "lower"),
    "input.task_s": ("s", "lower"),
    "input.rows_per_s": ("rows/s", "higher"),
    "input.shuffle_write_bytes": ("bytes", "lower"),
    "dedup.wall_s": ("s", "lower"),
    "dedup.rows_out": ("count", "lower"),
    "dedup.shuffle_write_bytes": ("bytes", "lower"),
    "loop.wall_s": ("s", "lower"),
    "loop.jobs": ("count", "lower"),
    "loop.supersteps": ("count", "lower"),
    "loop.superstep_s": ("s", "lower"),
    "loop.driver_gap_s": ("s", "lower"),
    "loop.task_s": ("s", "lower"),
    "loop.parallel_eff": ("ratio", "higher"),
    "loop.shuffle_read_bytes": ("bytes", "lower"),
    "loop.shuffle_write_bytes": ("bytes", "lower"),
    "loop.spill_bytes": ("bytes", "lower"),
    "loop.peak_exec_mem_bytes": ("bytes", "lower"),
    "sink.wall_s": ("s", "lower"),
    "sink.output_bytes": ("bytes", "lower"),
    "spark.cache.persisted_rdds_after_run": ("count", "lower"),
    "spark.cache.storage_bytes_after_run": ("bytes", "lower"),
    "spark.cache.peak_storage_bytes": ("bytes", "lower"),
    "trace.run_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
    "trace.unattributed_s": ("s", "lower"),
}

_LOOP_KEYS = ("wall_s", "jobs", "supersteps", "superstep_s", "driver_gap_s", "task_s",
              "parallel_eff", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
              "peak_exec_mem_bytes")


def after_run(spark, tracer, handles: dict, wl, inp: dict) -> None:
    """Read the traced run's jobs and the counts taken right after it,
    outside its timed window: the block manager's holdings and, for the
    near-dup workload, the candidate pairs against the planted ones."""
    sc = spark.sparkContext
    tracer.resolve()
    tracer.after = {"persisted_rdds": persisted_rdds(sc), "storage_bytes": storage_bytes(sc)}
    pairs = handles.get("pairs")
    if pairs is not None:
        cands = {(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()}
        tracer.after["candidate_pairs"] = len(cands)
        tracer.after["pair_precision"] = len(cands & wl.planted(inp)) / len(cands) if cands else 0.0


def _step_rows(sp):
    """(superstep row, its wall) of a loop span (see jobtrace.supersteps):
    a row runs from the end of the previous one to its last job's end."""
    prev = sp.start
    for row in supersteps(sp):
        end = max(j.end for j in row)
        yield row, end - prev
        prev = end


def _agg(spans, cpus: int) -> dict[str, float]:
    """Everything one group of spans measured."""
    wall = sum(sp.wall for sp in spans)
    task = sum(sp.stages.get("task_s", 0.0) for sp in spans)
    steps = [w for sp in spans for _, w in _step_rows(sp)]
    m = {
        "wall_s": wall,
        "jobs": sum(len(sp.jobs) for sp in spans),
        "supersteps": sum(max(len(supersteps(sp)) - 1, 0) for sp in spans),
        "superstep_s": statistics.median(steps) if steps else 0.0,
        "driver_gap_s": sum(sp.driver_gap() for sp in spans),
        "task_s": task,
        "parallel_eff": task / (wall * cpus) if wall else 0.0,
        "rows": sum(sp.counts.get("rows", 0) for sp in spans),
    }
    for k in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s", "output_bytes"):
        m[k] = sum(sp.stages.get(k, 0.0) for sp in spans)
    m["peak_exec_mem_bytes"] = max((sp.stages.get("peak_exec_mem_bytes", 0) for sp in spans), default=0)
    return m


def _module_view(by: dict, after: dict, inp: dict, cpus: int) -> dict[str, float]:
    """Metrics named after engine modules, for the layers that ran."""
    agg = lambda *layers: _agg([sp for layer in layers for sp in by.get(layer, [])], cpus)  # noqa: E731
    mv: dict[str, float] = {}
    if "sources.nutch" in by:
        a = agg("sources.nutch")
        mv.update({
            "sources.nutch.scan_s": a["wall_s"],
            "sources.nutch.task_s": a["task_s"],
            "sources.nutch.outlinks_per_s": inp["input_rows"] / a["wall_s"],
            "sources.nutch.edge_yield": a["rows"] / inp["input_rows"],
            "sources.nutch.shuffle_write_bytes": a["shuffle_write_bytes"],
        })
    if "sources.nutch.sink" in by:
        a = agg("sources.nutch.sink")
        mv.update({"sources.nutch.sink_s": a["wall_s"], "sources.nutch.sink_bytes": a["output_bytes"]})
    if "operators.clean" in by:
        a = agg("operators.clean")
        scanned = agg("sources.nutch")["rows"]
        mv.update({
            "operators.clean.dedup_s": a["wall_s"],
            "operators.clean.kept_ratio": a["rows"] / scanned if scanned else 0.0,
            "operators.clean.shuffle_write_bytes": a["shuffle_write_bytes"],
        })
    if "operators.linkrank" in by:
        a = agg("operators.linkrank")
        mv["operators.linkrank.fixpoint_s"] = a["wall_s"]
        for k in ("jobs", "superstep_s", "driver_gap_s", "task_s", "parallel_eff", "shuffle_read_bytes",
                  "shuffle_write_bytes", "spill_bytes", "gc_s", "peak_exec_mem_bytes"):
            mv[f"operators.linkrank.{k}"] = a[k]
        mv["operators.linkrank.normalize_s"] = agg("operators.linkrank.normalize")["wall_s"]
    if "operators.dedup.pairs" in by:
        a = agg("operators.dedup.signatures", "operators.dedup.pairs")
        mv.update({
            "operators.dedup.signatures_s": agg("operators.dedup.signatures")["wall_s"],
            "operators.dedup.pairs_s": agg("operators.dedup.pairs")["wall_s"],
            "operators.dedup.candidate_pairs": after["candidate_pairs"],
            "operators.dedup.pair_precision": after["pair_precision"],
            "operators.dedup.shuffle_write_bytes": a["shuffle_write_bytes"],
            "operators.dedup.spill_bytes": a["spill_bytes"],
        })
    if "operators.components" in by:
        a = agg("operators.components")
        mv["operators.components.cc_s"] = a["wall_s"]
        mv["operators.components.rounds"] = a["supersteps"]
        for k in ("driver_gap_s", "task_s", "shuffle_write_bytes"):
            mv[f"operators.components.{k}"] = a[k]
    return mv


def _one_run(wl_name: str, tracer, wall: float, inp: dict, cpus: int) -> tuple[dict, dict]:
    """(role view, module view) of one traced run."""
    by: dict[str, list] = {}
    for sp in tracer.spans:
        by.setdefault(sp.layer, []).append(sp)
    role = {r: _agg([sp for layer in layers for sp in by.get(layer, [])], cpus)
            for r, layers in ROLES[wl_name].items()}
    after = tracer.after
    top = [sp for sp in tracer.spans if sp.parent is None]
    shared = {
        "spark.cache.persisted_rdds_after_run": after["persisted_rdds"],
        "spark.cache.storage_bytes_after_run": after["storage_bytes"],
        "spark.cache.peak_storage_bytes": max(
            [sp.counts.get("storage_bytes", 0) for sp in tracer.spans] + [after["storage_bytes"]]
        ),
        "trace.unattributed_s": max(wall - covered((sp.start, sp.end) for sp in top), 0.0),
    }
    inp_wall = role["input"]["wall_s"]
    rv = {
        "input.wall_s": inp_wall,
        "input.task_s": role["input"]["task_s"],
        "input.rows_per_s": inp["input_rows"] / inp_wall if inp_wall else 0.0,
        "input.shuffle_write_bytes": role["input"]["shuffle_write_bytes"],
        "dedup.wall_s": role["dedup"]["wall_s"],
        "dedup.rows_out": after.get("candidate_pairs", role["dedup"]["rows"]),
        "dedup.shuffle_write_bytes": role["dedup"]["shuffle_write_bytes"],
        "sink.wall_s": role["sink"]["wall_s"],
        "sink.output_bytes": role["sink"]["output_bytes"],
        **{f"loop.{k}": role["loop"][k] for k in _LOOP_KEYS},
        **shared,
    }
    return rv, {**_module_view(by, after, inp, cpus), **shared}


def _median_of(runs: list[dict]) -> dict[str, float]:
    return {k: statistics.median(r[k] for r in runs) for k in runs[0]} if runs else {}


def per_layer(wl_name: str, traced: list, probe, cpus: int, inp: dict, *, walls, traced_walls,
              warmups, jvm_start_s) -> tuple[dict, dict]:
    """Role view (metric -> (value, unit)) and module view (metric ->
    value) over the traced runs, with the session, URL-probe and
    tracing-overhead figures."""
    views = [_one_run(wl_name, t, w, inp, cpus) for t, w in traced if w is not None]
    rv = _median_of([v[0] for v in views])
    mv = _median_of([v[1] for v in views])
    run_s = statistics.median(walls) if walls else 0.0
    trace_s = statistics.median(traced_walls) if traced_walls else 0.0
    common = {
        "session.start_s": jvm_start_s,
        "session.cold_run_penalty_s": warmups[0] - run_s,
        "trace.run_s": trace_s,
        "trace.overhead_s": trace_s - run_s,
    }
    rv.update(common)
    mv.update(common)
    if probe.spans:
        mv["functions.urls.eval_s"] = probe.spans[0].wall
    return {k: (float(rv.get(k, 0.0)), u) for k, (u, _) in ROLE_METRICS.items()}, mv


def print_layers(res: dict) -> None:
    """Module view, then one row per loop superstep of the last traced run."""
    for k, v in sorted(res["modules"].items()):
        print(f"# {k}: {v:.6g}")
    if not res["spans"]:
        return
    last = max(sp.run for sp in res["spans"])
    for sp in res["spans"]:
        if sp.run != last or sp.layer not in ("operators.linkrank", "operators.components"):
            continue
        for k, (row, wall) in enumerate(_step_rows(sp)):
            print(f"# superstep {sp.group} {k}: {wall:.3f} s, {len(row)} jobs, "
                  f"task {sum(j.task_s for j in row):.3f} s, ends with {row[-1].name.split(' at ')[0]}")
