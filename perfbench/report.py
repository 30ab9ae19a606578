"""Turns a finished run into the printed report, the result files and the
final JSON object."""

from __future__ import annotations

import glob
import json
import os
from dataclasses import asdict

from numpy import median

from . import layers
from .metrics import END_TO_END, MOVES, PER_LAYER, WHY
from .trace import parse_event_log, rollup


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    if isinstance(v, float):
        return f"{v:.4g}" if abs(v) < 1e5 else f"{v:.0f}"
    return str(v)


def build(ctx, wl, setup_s: float, peak_rss_mb: float, trace_dir: str | None,
          host, results: str) -> dict:
    """``host``: load average at the start and end of the run, and the
    share of CPU time stolen by the hypervisor during the window."""
    load_start, load_end, steal = host
    e2e = wl.end_to_end()
    lat = e2e["latency"]
    lines = [
        f"perfbench {wl.name} seed={ctx.seed} seconds={ctx.seconds:g} "
        f"trace={int(ctx.trace)} nproc={ctx.cores} master=local[{ctx.cores}] "
        f"loadavg start={load_start} end={load_end} "
        f"window_cpu_steal={100 * steal:.1f}%",
        f"  workload: {WHY[wl.name]}",
        "  load model: closed loop, one client",
    ]
    measured = {
        "latency_p50_ms": lat["p50"],
        "throughput_per_s": e2e["throughput_per_s"],
        "index_bytes_per_doc": e2e["index_bytes_per_doc"],
        "setup_s": setup_s,
    }
    rolls = rollup(ctx.tracer.spans, *read_event_log(wl, trace_dir))
    lines.append("  end-to-end (untraced figures when trace=0):")
    for name, (unit, better, _) in END_TO_END.items():
        extra = ""
        if name == "latency_p50_ms":
            extra = (f"  n={lat['n']} tail=" + (
                f"p{lat['tail_pct']:g} {lat['tail']:.1f} ms" if lat["tail_pct"]
                else "n/a (needs >= 20 samples)"))
        lines.append(f"    {name:<22} {_fmt(measured[name]):>12} {unit:<6}"
                     f" ({better} is better){extra}")
    lines.append(f"    {'peak_rss_mb':<22} {_fmt(peak_rss_mb):>12} MB")
    lines.append("  as named per workload:")
    for name, (value, unit, summ) in e2e["named"].items():
        extra = ""
        if summ is not None:
            extra = f"  n={summ['n']} tail_pct={summ['tail_pct']}"
        lines.append(f"    {name:<28} {_fmt(value):>12} {unit}{extra}")

    lines.extend(span_table(ctx.tracer.spans, rolls))
    stem = os.path.join(results, f"{wl.name}-seed{ctx.seed}-trace")
    if not ctx.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
                   for k, v in measured.items() if v is not None}
    else:
        metrics = traced(ctx, wl, rolls, lat["p50"], peak_rss_mb, lines,
                         stem)
    for k in PER_LAYER if ctx.trace else END_TO_END:
        if k not in metrics:
            wl.fail(f"metric {k} was not measured")
    failed = len(wl.failures)
    attempted = max(wl.attempted, failed, 1)
    lines[3:3] = [f"  ops: attempted={attempted} failed={failed} "
                  f"ops_failed_ratio={failed / attempted:.4g}"] + \
        [f"  FAILED: {f}" for f in wl.failures]
    result = {"correct": not wl.failures, "attempted": attempted,
              "failed": failed, "metrics": metrics}
    with open(f"{stem}{int(ctx.trace)}.json", "w") as f:
        json.dump({"report": lines, "samples": e2e["samples"],
                   "result": result}, f, indent=1)
    return {"lines": lines, "result": result}


def read_event_log(wl, trace_dir: str | None):
    """Jobs and stage costs of the run's event log; none when untraced."""
    if trace_dir is None:
        return {}, {}
    logs = glob.glob(os.path.join(trace_dir, "*"))
    if len(logs) != 1:
        wl.failures.append(f"expected one event log, found {len(logs)}")
        return {}, {}
    with open(logs[0]) as f:
        return parse_event_log(f)


def span_table(spans, rolls) -> list[str]:
    """Median wall and self time (and jobs, when traced) per span name."""
    out = ["  spans (median per name: wall, self, jobs):"]
    names: dict[str, list] = {}
    for s in spans:
        names.setdefault(s.name, []).append(rolls[s.id])
    for name, rs in names.items():
        out.append(
            f"    {name:<32} n={len(rs):<3} wall={median([r.wall_ms for r in rs]):10.1f} ms"
            f" self={median([r.self_ms for r in rs]):10.1f} ms"
            f" jobs={median([r.jobs for r in rs]):g}")
    return out


def traced(ctx, wl, rolls, latency_p50, peak_rss_mb, lines, stem) -> dict:
    spans = ctx.tracer.spans
    layers.finish(ctx, wl, spans, rolls)
    L = ctx.layers
    L["run.peak_rss_mb"] = peak_rss_mb
    L["trace.latency_p50_ms"] = latency_p50
    with open(stem + "1-spans.json", "w") as f:
        json.dump([dict(asdict(s), rollup=asdict(rolls[s.id])) for s in spans],
                  f)
    lines.append(f"  spans: {len(spans)} written to {stem}1-spans.json")
    lines.append("  per-layer metrics:")
    for name, (unit, better) in PER_LAYER.items():
        to = ", ".join(f"{m} on {w}" for m, w in MOVES[name]) or "-"
        lines.append(f"    {name:<40} {_fmt(L.get(name)):>12} {unit:<6} moves: {to}")
    lines.append("  " + tracing_overhead(stem + "0.json", latency_p50))
    return {k: {"value": L[k], "unit": PER_LAYER[k][0]}
            for k in PER_LAYER if L.get(k) is not None}


def tracing_overhead(untraced_path: str, traced_p50: float) -> str:
    """The traced run's ``latency_p50_ms`` against the untraced run of the
    same workload and seed, when that run's result file is in the
    checkout."""
    try:
        with open(untraced_path) as f:
            base = json.load(f)["result"]["metrics"]["latency_p50_ms"]["value"]
    except (OSError, KeyError, TypeError, ValueError):
        return ("tracing overhead: no untraced run of this workload and seed "
                "in this checkout")
    return (f"tracing overhead on latency_p50_ms: "
            f"{100 * (traced_p50 / base - 1):+.1f}% (traced {traced_p50:.1f} ms, "
            f"untraced run of the same seed {base:.1f} ms)")
