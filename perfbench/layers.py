"""Turn a run's phase times, spans and kernel records into the metric
values BENCHMARK.json names. A layer the workload does not exercise
reports 0 for its per-layer metrics.
"""

from __future__ import annotations

from harness import Span, median, nearest_rank, self_times, tail_percentile

#: layer of each span, for the self-time metrics
SELF_LAYERS = ("phase", "drain", "sources", "encode", "build", "synth", "engine",
               "checkpoint", "df")
ENGINE_KERNELS = ("pagerank", "cc", "lp")
DF_KERNELS = {"pagerank": "df.pagerank", "cc": "df.connected_components",
              "lp": "df.label_propagation", "tc": "df.triangle_count"}


def _sum(spans: list[Span], name: str, what: str = "duration") -> float:
    acc = 0.0
    for s in spans:
        if s.name != name:
            continue
        if what == "duration":
            acc += s.end - s.start
        elif what == "jobs":
            acc += len(s.jobs)
        elif what == "count":
            acc += 1
        else:
            acc += getattr(s, what)
    return acc


def end_to_end(setup: dict, p: dict) -> dict:
    return {
        "setup_s": median(setup["total"]),
        "analytics_s": p["times"]["analytics"],
        "total_s": p["total"],
    }


def engine_records(out: dict) -> dict:
    """kernel -> its engine's per-superstep records (resumes included
    under their own keys)."""
    return {k[4:]: v.metrics for k, v in out.items() if k.startswith("eng_")}


def per_layer(setup: dict, p: dict, overhead_s: float) -> dict:
    sp, out = p["spans"], p["out"]
    self_of = self_times(sp)
    v: dict[str, float] = {
        "session.start_s": setup["session"][0],  # launches the JVM
        "session.restart_s": median(setup["session"][1:]),
        "setup.first_call_s": median(setup["first_call"]),
    }
    for phase in ("ingest", "analytics", "resume"):
        v[f"phase.{phase}_s"] = p["times"].get(phase, 0.0)
    sizes = out["sizes"]
    v["sources.extract_s"] = _sum(sp, "sources.extract_links")
    v["sources.links"] = sizes.get("links", 0)
    v["sources.jobs"] = _sum(sp, "sources.extract_links", "jobs")
    v["encode.encode_s"] = _sum(sp, "plans.encode_edges")
    v["encode.vertices"] = sizes["vertices"] if "links" in sizes else 0
    v["encode.edges"] = sizes["edges"] if "links" in sizes else 0
    v["encode.jobs"] = _sum(sp, "plans.encode_edges", "jobs")
    builds = ("build.directed", "build.sym")
    gens = ("synth.synth_graph", "synth.synth_graph_sym")
    v["build.directed_s"] = _sum(sp, "build.directed")
    v["build.sym_s"] = _sum(sp, "build.sym")
    v["build.jobs"] = sum(_sum(sp, n, "jobs") for n in builds + gens)
    v["build.tasks"] = sum(_sum(sp, n, "tasks") for n in builds + gens)
    v["build.spill_mb"] = out.get("spill_bytes", 0) / 1e6
    v["synth.gen_s"] = sum(_sum(sp, n) for n in gens)

    recs = engine_records(out)
    walls, processed = [], 0
    for kernel_recs in recs.values():
        walls += [m.wall_s for m in kernel_recs]
        processed += sum(m.processed_edges for m in kernel_recs)
    for k in ENGINE_KERNELS:
        name = f"engine.{k}"
        v[f"{name}_s"] = sum(self_of[s.span_id] for s in sp if s.name == name)
        ms = recs.get(k, [])
        v[f"{name}.supersteps"] = len(ms)
        v[f"{name}.sparse_supersteps"] = sum(m.mode == "sparse" for m in ms)
        v[f"{name}.processed_edges"] = sum(m.processed_edges for m in ms)
        v[f"{name}.bytes_shipped"] = sum(m.bytes_shipped for m in ms)
        v[f"{name}.jobs"] = _sum(sp, name, "jobs")
    s = sorted(walls)
    v["engine.superstep_p50_s"] = nearest_rank(s, 50) if s else 0.0
    v["engine.superstep_p75_s"] = nearest_rank(s, 75) if s else 0.0
    pct, tail, n = tail_percentile(walls)
    v["engine.superstep_samples"] = n
    v["engine.superstep_tail_pct"] = pct or 0.0
    v["engine.superstep_tail_s"] = tail or 0.0
    v["engine.teps"] = processed / sum(walls) if walls else 0.0

    v["checkpoint.save_s"] = _sum(sp, "checkpoint.save")
    v["checkpoint.saves"] = _sum(sp, "checkpoint.save", "count")
    v["checkpoint.mb_written"] = out.get("snapshot_bytes", 0) / 1e6
    v["checkpoint.restore_s"] = _sum(sp, "checkpoint.restore")
    v["resume.pagerank_s"] = _sum(sp, "resume.pagerank")
    v["resume.lp_s"] = _sum(sp, "resume.lp")

    for k, name in DF_KERNELS.items():
        v[f"df.{k}_s"] = _sum(sp, name)
        v[f"df.{k}.jobs"] = _sum(sp, name, "jobs")
        v[f"df.{k}.tasks"] = _sum(sp, name, "tasks")
    v["df.cc.supersteps"] = out.get("df_cc_supersteps", 0)
    v["df.lp.supersteps"] = out.get("df_lp_supersteps", 0)

    v["spark.jobs"] = sum(len(s.jobs) for s in sp)
    v["spark.tasks"] = sum(s.tasks for s in sp)
    v["spark.failed_tasks"] = sum(s.failed_tasks for s in sp)
    by_layer: dict[str, float] = {}
    for s in sp:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + self_of[s.span_id]
    for layer in SELF_LAYERS:
        v[f"self.{layer}_s"] = by_layer.get(layer, 0.0)
    v["trace.total_s"] = p["total"]
    v["trace.overhead_s"] = overhead_s
    return v


def values(trace: bool, setup: dict, passes: list[dict], overhead_s: float) -> dict:
    """Metric values of the run: each metric's median over the passes."""
    per_pass = [per_layer(setup, p, overhead_s) if trace else end_to_end(setup, p)
                for p in passes]
    return {k: median([pv[k] for pv in per_pass]) for k in per_pass[0]}
