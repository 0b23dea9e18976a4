"""Per-layer tracing for the benchmark's traced run.

Spans are recorded here, in the benchmark, around calls into each
layer's public functions: `Tracer.install` rebinds every public
function (and public method of a public class) of the layer modules,
in every loaded `ontoemma_spark` module that imported it, to a wrapper
that opens a span. Nothing inside `ontoemma_spark/` changes.

A span sets the Spark job description and the `perfbench.span` local
property, so every job it launches carries the innermost span's id.
The session's uncompressed event log is then joined job → stages, and
each stage's executorRunTime, shuffle bytes, spill and result size is
charged to the span that launched it.

Lazy composition shows in the numbers: a layer whose public function
only builds a plan has wall time but no jobs; its execution is charged
to the layer (or the benchmark's own action) that triggers it.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import time

# layer name -> the modules whose public functions are its boundary
LAYERS = {
    "sources.warc": ["sources.warc"],
    "extract": ["extract.html_text", "extract.triples"],
    "pipeline": ["pipeline"],
    "tableio": ["tableio"],
    "align": ["align"],
    "operators.blocking": ["operators.blocking"],
    "operators.string_equiv": ["operators.string_equiv"],
    "operators.features": ["operators.features"],
    "operators.scoring": ["operators.scoring"],
    "operators.strategy": ["operators.strategy"],
    "operators.components": ["operators.components"],
    "operators.textstats": ["operators.textstats"],
    "operators.dedup": ["operators.dedup"],
    "operators.curation": ["operators.curation"],
    "operators.graph": ["operators.graph"],
}
SUFFIXES = ["wall_s", "self_s", "exec_s", "driver_s", "jobs", "shuffle_mb", "spill_mb"]
RESULT_MB_LAYERS = ["operators.blocking", "operators.dedup", "operators.components", "operators.graph"]
# ratio name -> the name of its base
RATIOS = {
    "operators.blocking.pairs_per_source": "operators.blocking.pairs_per_source.base_sources",
    "align.link_yield": "align.link_yield.base_candidate_pairs",
    "operators.dedup.dup_pairs": "operators.dedup.dup_pairs.base_documents",
    "operators.graph.jobs_per_round": "operators.graph.jobs_per_round.base_rounds",
    "tableio.write_amp": "tableio.write_amp.base_input_mb",
    "extract.triples_per_page": "extract.triples_per_page.base_pages",
}
# results whose row count the traced run measures after the op
_COUNTED = {
    ("operators.blocking", "candidate_pairs_broadcast_index"),
    ("operators.blocking", "candidate_pairs"),
    ("align", "align"),
    ("operators.dedup", "lsh_jaccard_pairs_broadcast"),
}
_ROUNDS = {"pagerank", "hits", "label_propagation"}
_MB = 1024.0 * 1024.0


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric the traced run prints, with its unit."""
    unit = {"s": "s", "mb": "MB", "jobs": "count"}
    out = []
    for layer in LAYERS:
        for s in SUFFIXES:
            out.append((f"{layer}.{s}", unit[s.rsplit("_", 1)[-1]]))
        if layer in RESULT_MB_LAYERS:
            out.append((f"{layer}.result_mb", "MB"))
    for ratio, base in RATIOS.items():
        out.append((ratio, "ratio"))
        out.append((base, "count" if not base.endswith("_mb") else "MB"))
    out.append(("trace.items_per_s", "1/s"))
    out.append(("trace.unattributed_share", "ratio"))
    return out


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []  # id, parent, layer, fn, start, end
        self.stack: list[dict] = []
        self.captured: list[tuple] = []  # (layer, fn, result, bound args)
        self.counts: dict[str, float] = {}
        self._patched: list[tuple] = []

    # ------------------------------------------------------------ spans
    def _enter(self, layer: str, fn: str) -> dict:
        sp = {
            "id": len(self.spans) + 1,
            "parent": self.stack[-1]["id"] if self.stack else 0,
            "layer": layer, "fn": fn, "start": time.time(), "end": None,
        }
        self.spans.append(sp)
        self.stack.append(sp)
        self._set_props(sp)
        return sp

    def _exit(self, sp: dict) -> None:
        sp["end"] = time.time()
        self.stack.pop()
        self._set_props(self.stack[-1] if self.stack else None)

    def _set_props(self, sp: dict | None) -> None:
        self.sc.setLocalProperty("perfbench.span", str(sp["id"]) if sp else None)
        self.sc.setJobDescription(f"{sp['layer']}.{sp['fn']} [span {sp['id']}]" if sp else None)

    def _wrap(self, layer: str, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            # same-layer internal calls stay inside the caller's span
            if tracer.stack and tracer.stack[-1]["layer"] == layer:
                return fn(*args, **kwargs)
            sp = tracer._enter(layer, name)
            try:
                result = fn(*args, **kwargs)
            finally:
                tracer._exit(sp)
            if (layer, name) in _COUNTED or name in _ROUNDS:
                try:
                    bound = inspect.signature(fn).bind(*args, **kwargs)
                    bound.apply_defaults()
                    tracer.captured.append((layer, name, result, dict(bound.arguments)))
                except TypeError:
                    pass
            return result

        return traced

    def install(self) -> None:
        """Rebind each layer's public functions to span-opening wrappers."""
        originals: dict[int, object] = {}
        for layer, mods in LAYERS.items():
            for m in mods:
                mod = importlib.import_module(f"ontoemma_spark.{m}")
                for name, obj in list(vars(mod).items()):
                    if name.startswith("_"):
                        continue
                    if inspect.isfunction(obj) and obj.__module__ == mod.__name__:
                        originals[id(obj)] = (obj, self._wrap(layer, name, obj))
                    elif inspect.isclass(obj) and obj.__module__ == mod.__name__:
                        for attr, meth in list(vars(obj).items()):
                            if inspect.isfunction(meth) and not attr.startswith("_"):
                                w = self._wrap(layer, f"{name}.{attr}", meth)
                                self._patched.append((obj, attr, meth))
                                setattr(obj, attr, w)
        for mname, mod in list(sys.modules.items()):
            if not mname.startswith("ontoemma_spark") or mod is None:
                continue
            for name, obj in list(vars(mod).items()):
                hit = originals.get(id(obj))
                if hit is not None and hit[0] is obj:
                    self._patched.append((mod, name, obj))
                    setattr(mod, name, hit[1])

    def uninstall(self) -> None:
        for owner, name, obj in reversed(self._patched):
            setattr(owner, name, obj)
        self._patched.clear()

    # ----------------------------------------------------------- counts
    def _add(self, key: str, v: float) -> None:
        self.counts[key] = self.counts.get(key, 0.0) + v

    def measure_captured(self) -> None:
        """Row counts of the captured results, outside the timed op."""
        for layer, name, result, args in self.captured:
            if name in _ROUNDS:
                self._add("graph_rounds", args.get("iterations", 0))
            elif layer == "operators.blocking":
                self._add("blocking_pairs", result.count())
                self._add("blocking_sources", args["s_count"])
            elif layer == "align":
                self._add("align_links", result.alignment.count())
                self._add("align_candidates", result.candidates.count())
            elif layer == "operators.dedup":
                self._add("dup_pairs", result.count())
        self.captured.clear()

    # ---------------------------------------------------------- profile
    def profile(self, event_dir: str, windows: list[tuple[float, float]],
                extra_counts: dict[str, float], items_per_s: float) -> dict[str, float]:
        """Join the event log to the spans; `windows` are the traced ops'
        (start, end) wall intervals."""
        jobs, stages = _read_event_log(event_dir)
        by_id = {sp["id"]: sp for sp in self.spans if sp["end"] is not None}
        children: dict[int, list[dict]] = {}
        for sp in by_id.values():
            children.setdefault(sp["parent"], []).append(sp)
        job_iv = _union([(j["start"] / 1000.0, j["end"] / 1000.0) for j in jobs.values() if "end" in j])

        m = {name: 0.0 for name, _ in per_layer_names()}
        for sp in by_id.values():
            layer = sp["layer"]
            dur = sp["end"] - sp["start"]
            anc, outer_same = by_id.get(sp["parent"]), False
            while anc is not None:
                outer_same |= anc["layer"] == layer
                anc = by_id.get(anc["parent"])
            if not outer_same:
                m[f"{layer}.wall_s"] += dur
            kids = [(c["start"], c["end"]) for c in children.get(sp["id"], [])]
            m[f"{layer}.self_s"] += dur - _measure(_union(kids), sp["start"], sp["end"])
            own = _subtract([(sp["start"], sp["end"])], _union(kids))
            m[f"{layer}.driver_s"] += sum(
                (b - a) - _measure(job_iv, a, b) for a, b in own
            )
        for j in jobs.values():
            sp = by_id.get(j["span"])
            if sp is None:
                continue
            layer = sp["layer"]
            m[f"{layer}.jobs"] += 1
            for sid in j["stages"]:
                st = stages.get(sid)
                if st is None:
                    continue
                m[f"{layer}.exec_s"] += st["run_ms"] / 1000.0
                m[f"{layer}.shuffle_mb"] += (st["shuffle_read"] + st["shuffle_write"]) / _MB
                m[f"{layer}.spill_mb"] += st["spill"] / _MB
                if layer in RESULT_MB_LAYERS:
                    m[f"{layer}.result_mb"] += st["result"] / _MB

        c = {**self.counts, **extra_counts}

        def ratio(name: str, num: float, base: float) -> None:
            m[name] = num / base if base else 0.0
            m[RATIOS[name]] = base

        ratio("operators.blocking.pairs_per_source", c.get("blocking_pairs", 0), c.get("blocking_sources", 0))
        ratio("align.link_yield", c.get("align_links", 0), c.get("align_candidates", 0))
        ratio("operators.dedup.dup_pairs", c.get("dup_pairs", 0), c.get("dedup_documents", 0))
        ratio("operators.graph.jobs_per_round", m["operators.graph.jobs"], c.get("graph_rounds", 0))
        ratio("tableio.write_amp", c.get("checkpoint_mb", 0), c.get("input_mb", 0))
        ratio("extract.triples_per_page", c.get("triples", 0), c.get("pages", 0))

        wall = sum(b - a for a, b in windows)
        top = _union([(sp["start"], sp["end"]) for sp in by_id.values() if sp["parent"] == 0])
        covered = sum(_measure(top, a, b) for a, b in windows)
        m["trace.unattributed_share"] = (wall - covered) / wall if wall else 0.0
        m["trace.items_per_s"] = items_per_s
        return m


def _read_event_log(event_dir: str) -> tuple[dict, dict]:
    files = [f for f in glob.glob(os.path.join(event_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(files[0]) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                span = (e.get("Properties") or {}).get("perfbench.span")
                jobs[e["Job ID"]] = {
                    "start": e["Submission Time"], "stages": e["Stage IDs"],
                    "span": int(span) if span else 0,
                }
            elif ev == "SparkListenerJobEnd":
                jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                acc = {a["Name"]: a.get("Value") for a in si.get("Accumulables", [])}

                def g(k):
                    return float(acc.get(f"internal.metrics.{k}", 0) or 0)

                stages[si["Stage ID"]] = {
                    "run_ms": g("executorRunTime"),
                    "shuffle_read": g("shuffle.read.remoteBytesRead") + g("shuffle.read.localBytesRead"),
                    "shuffle_write": g("shuffle.write.bytesWritten"),
                    "spill": g("diskBytesSpilled"),
                    "result": g("resultSize"),
                }
    return jobs, stages


def _union(iv: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out: list[list[float]] = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [(a, b) for a, b in out]


def _measure(union: list[tuple[float, float]], lo: float, hi: float) -> float:
    return sum(max(0.0, min(b, hi) - max(a, lo)) for a, b in union)


def _subtract(iv: list[tuple[float, float]], cut: list[tuple[float, float]]) -> list[tuple[float, float]]:
    out = []
    for a, b in iv:
        cur = a
        for c, d in cut:
            if d <= cur or c >= b:
                continue
            if c > cur:
                out.append((cur, c))
            cur = max(cur, d)
        if cur < b:
            out.append((cur, b))
    return out
