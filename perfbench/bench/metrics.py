"""Turns a harness dump into the benchmark's metrics.

End-to-end metrics come from the untraced passes. Per-layer metrics come
from the traced passes of a traced run: listener events (jobs, tasks,
Catalyst phases) are attributed to the innermost benchmark span that
encloses their start.
"""
from . import spans as sp
from .stats import median, tail

MB = 1 << 20


def _dur(s):
    return (s["end"] - s["start"]) / 1e3


class Dump:
    def __init__(self, d):
        self.d = d
        self.spans = sp.from_dump(d["spans"])
        self.kids = sp.children(self.spans)
        self.by_id = {s["id"]: s for s in self.spans}
        self.passes = [s for s in self.spans if s["name"] == "pass"]
        self.values = d["values"]
        self.cpus = d["cpus"]

    def named(self, name):
        return [s for s in self.spans if s["name"] == name]

    def passes_traced(self, traced):
        return [p for p in self.passes if p["attrs"]["traced"] == traced]

    def ops(self, p):
        """The unit operations of a pass: step() or one query."""
        return [c for c in self.kids[p["id"]]
                if c["name"] == "step" or c["name"].startswith("q:")]

    def pass_wall(self, p):
        return sum(_dur(c) for c in self.ops(p))

    def under(self, sid, target_ids):
        """The target span at or above span sid, or None."""
        while sid != -1:
            if sid in target_ids:
                return sid
            sid = self.by_id[sid]["parent"]
        return None

    def per_span(self, targets):
        """Listener totals per target span: wall, job-union, jobs,
        Catalyst seconds and task sums. Events are attributed to the
        innermost span around their start, then rolled up to the target
        enclosing it."""
        tl = sp.Timeline(self.spans)
        ids = {t["id"] for t in targets}
        out = {t["id"]: dict(wall=_dur(t), jobs=0, catalyst=0.0, cpu=0.0,
                             gc=0.0, sw=0.0, sr=0.0, spill=0.0, out=0.0,
                             busy=0.0) for t in targets}
        jobs = self.d["jobs"]
        for (s, _e) in jobs:
            owner = self.under(tl.at(s), ids)
            if owner is not None:
                out[owner]["jobs"] += 1
        for (_n, s, e) in self.d["phases"]:
            owner = self.under(tl.at(s), ids)
            if owner is not None:
                out[owner]["catalyst"] += (e - s) / 1e3
        for (launch, finish, cpu, gc, sw, sr, spill, outb) in self.d["tasks"]:
            owner = self.under(tl.at(launch), ids)
            if owner is None:
                continue
            o = out[owner]
            o["cpu"] += cpu
            o["gc"] += gc
            o["sw"] += sw
            o["sr"] += sr
            o["spill"] += spill
            o["out"] += outb
        for t in targets:
            o = out[t["id"]]
            o["job_union"] = sp.union_length(jobs, t["start"], t["end"]) / 1e3
            o["floor"] = o["wall"] - o["job_union"]
            o["busy"] = sum(
                max(0.0, min(f, t["end"]) - max(l, t["start"]))
                for (l, f, *_rest) in self.d["tasks"]) / 1e3
        return out


def _mean(rows, key):
    return sum(r[key] for r in rows) / len(rows) if rows else 0.0


def end_to_end(d, tables_gen_s=0.0):
    """(gated metrics, report rows) from the untraced passes."""
    untraced = d.passes_traced(0)
    ops = [_dur(o) for p in untraced for o in d.ops(p)]
    session = _dur(d.named("session")[0])
    report = []
    if d.d["workload"] == "queries":
        setup = session + _dur(d.named("warm_pass")[0]) + tables_gen_s
        walls = [_dur(p) for p in untraced]
        report += [("query.suite_s", median(walls), "s", len(walls)),
                   ("query.latency_s.p50", median(ops), "s", len(ops)),
                   ("query.latency_s.p90", tail(ops), "s", len(ops))]
    else:
        setup = session + median([_dur(s) for s in d.named("setup")])
        walls = [d.pass_wall(p) for p in untraced]
        fetched = sum(p["attrs"]["fetched"] for p in untraced)
        report += [
            ("crawl.urls_per_s", fetched / sum(walls), "URLs/s", len(walls)),
            ("crawl.batch_s.p50", median(ops), "s", len(ops)),
            ("crawl.batch_s.p90", tail(ops), "s", len(ops))]
        v = d.values
        if "store_bytes" in v:  # the read phase of a traced run
            reads = [_dur(s) for s in d.spans if s["name"].startswith("read.")]
            resumes = [_dur(s) for s in d.named("resume")]
            report += [
                ("crawl.resume_s", median(resumes), "s", len(resumes)),
                ("crawl.store_bytes_per_url",
                 v["store_bytes"] / v["frontier_rows"], "B", 1),
                ("state.read_s.p50", median(reads), "s", len(reads)),
                ("state.read_s.p90", tail(reads), "s", len(reads))]
    metrics = {"setup_s": setup, "pass_s": median(walls),
               "op_s.p50": median(ops)}
    return metrics, report


def self_time_by_name(d):
    """Seconds of self time per span name, summed over the run."""
    out = {}
    for sid, ms in sp.self_times(d.spans).items():
        name = d.by_id[sid]["name"]
        out[name] = out.get(name, 0.0) + ms / 1e3
    return out


def per_layer(d):
    """Per-layer metrics of the layers this workload exercises."""
    traced = d.passes_traced(1)
    untraced = d.passes_traced(0)
    m = {}
    tw = [d.pass_wall(p) for p in traced]
    uw = [d.pass_wall(p) for p in untraced]
    if tw and uw:
        m["trace_overhead"] = median(tw) / median(uw) - 1
    if d.d["workload"] == "queries":
        qs = {}
        for p in untraced:
            for q in d.ops(p):
                qs.setdefault(q["name"][2:], []).append(_dur(q))
        for name, xs in qs.items():
            m[f"query.{name}_s"] = median(xs)
        rows = list(d.per_span(traced).values())
        m["query.pass.task_cpu_s"] = _mean(rows, "cpu")
        m["query.pass.gc_s"] = _mean(rows, "gc")
        m["query.pass.shuffle_write_mb"] = _mean(rows, "sw") / MB
        m["query.pass.catalyst_s"] = _mean(rows, "catalyst")
        m["query.pass.driver_floor_s"] = _mean(rows, "floor")
        return m

    steps = [s for p in traced for s in d.ops(p)]
    rows = list(d.per_span(steps).values())
    m["engine.step.driver_floor_s"] = _mean(rows, "floor")
    m["engine.step.job_s"] = _mean(rows, "job_union")
    m["engine.step.catalyst_s"] = _mean(rows, "catalyst")
    m["engine.step.jobs"] = _mean(rows, "jobs")
    m["engine.step.task_cpu_s"] = _mean(rows, "cpu")
    m["engine.step.gc_s"] = _mean(rows, "gc")
    m["engine.step.shuffle_write_mb"] = _mean(rows, "sw") / MB
    m["engine.step.shuffle_read_mb"] = _mean(rows, "sr") / MB
    m["engine.step.spill_mb"] = _mean(rows, "spill") / MB
    m["engine.step.output_mb"] = _mean(rows, "out") / MB
    m["engine.step.slot_util"] = sum(r["busy"] for r in rows) / (
        d.cpus * sum(r["wall"] for r in rows))
    grow_b, grow_f = [], []
    for p in traced:
        prev = p["attrs"]
        for s in d.ops(p):
            grow_b.append(s["attrs"]["store_bytes"] - prev["store_bytes"])
            grow_f.append(s["attrs"]["store_files"] - prev["store_files"])
            prev = s["attrs"]
    m["engine.step.files_written"] = sum(grow_f) / len(grow_f)
    m["state.bytes_written_per_batch"] = sum(grow_b) / len(grow_b)
    claims = sum(p["attrs"]["claims"] for p in d.passes)
    m["engine.step.claims"] = claims / sum(p["attrs"]["steps"] for p in d.passes)
    m["engine.fetched_per_claim"] = sum(
        p["attrs"]["fetched"] for p in d.passes) / claims
    for name in ("engine.seed", "engine.warm_corpus", "corpus.gen",
                 "state.latest"):
        m[f"{name}_s"] = median([_dur(s) for s in d.named(name)])
    for kind in ("frontier_stats", "frontier_list", "links_by_domain",
                 "domain_aggregates"):
        m[f"state.read.{kind}_s"] = median(
            [_dur(s) for s in d.named(f"read.{kind}")])
    m["state.manifest_entries"] = d.values["manifest_entries"]
    m["core.normalize_hash_host_us"] = d.values["normalize_hash_host_us"]
    return m
