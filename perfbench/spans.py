"""Span dump reader for the traced run: self time per layer and the
per-layer metrics.

A traced run dumps the benchmark's own spans (`op`, `lang.parse`,
`lang.compile`, `sources.read`, `sources.write`, `sources.render`,
`exec.collect`), the Spark jobs it saw (with their task metrics) and the
planning phases of each query execution. Jobs reach their op through the
job group the benchmark set around its own calls; on the service, whose
requests run on the server's thread, through the time window: the service
runs one request at a time in arrival order, so a job belongs to the oldest
request still in flight when it starts. Planning phases reach their op the
same way, by time.

Self time is attributed by sweeping each op's interval: every instant goes
to the deepest span covering it, so the layer self times of an op add up to
its wall time exactly; what no layer span covers stays with the op itself
and is reported as the remainder.

    python3 perfbench/spans.py TRACED.json [UNTRACED.json]

prints the self-time report of a traced result file, and with an untraced
result file of the same workload and seed, the tracing overhead on every
end-to-end metric.
"""
import bisect
import json
import statistics
import sys

LAYERS = ["lang", "session", "exec", "sources", "service"]
PHASES = {"analysis": "session.analyze", "optimization": "session.optimize",
          "planning": "session.physical"}


def layer_of(name, root_layer):
    if name == "op":
        return root_layer
    if name == "job":
        return "exec"
    return name.split(".", 1)[0]


def _union(intervals):
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Trace:
    """The attributed trace of one traced run."""

    def __init__(self, raw):
        t = raw["trace"]
        self.service = raw["workload"] == "lake_service"
        self.window = (raw["window"]["start"], raw["window"]["end"])
        self.spans = {}
        for s in t["spans"]:
            self.spans.setdefault(s["op"], []).append(s)
        seen, qes = set(), []
        for q in t["qes"]:
            if q["qe"] not in seen and q["phases"]:
                seen.add(q["qe"])
                qes.append(q)
        starts = sorted((o["start"], o["end"], o["id"]) for o in raw["ops"])
        self._starts = [s for s, _, _ in starts]
        self._by_start = starts
        self.jobs = {}
        for j in t["jobs"]:
            op = j["group"] if j["group"] else self._in_flight(j["start"])
            if op:
                self.jobs.setdefault(op, []).append(j)
        self.qes = {}
        for q in qes:
            start = min(p[0] for p in q["phases"].values())
            op = self._owner(start)
            if op:
                self.qes.setdefault(op, []).append(q)

    def _in_flight(self, t):
        """Oldest timed op in flight at `t` (the serial service's FIFO)."""
        if not self.service or not (self.window[0] <= t <= self.window[1] + 10**9):
            return None
        i = bisect.bisect_right(self._starts, t)
        for s, e, op in self._by_start[:i]:
            if e >= t:
                return op
        return None

    def _owner(self, t):
        """The op whose interval holds `t`: a timed op, a probe or set-up."""
        if self.service and self.window[0] <= t <= self.window[1]:
            return self._in_flight(t)
        for op, ss in self.spans.items():
            for s in ss:
                if s["name"] == "op" and s["start"] <= t <= s["end"]:
                    return op
        return None

    def tree(self, op):
        """All spans of an op as (name, layer, start, end, depth)."""
        own = self.spans.get(op, [])
        root = next((s for s in own if s["name"] == "op"), None)
        if root is None:
            return []
        lo, hi = root["start"], root["end"]
        byid = {s["id"]: s for s in own}

        def depth(s):
            d = 0
            while s["parent"] in byid:
                s = byid[s["parent"]]
                d += 1
            return d

        nodes = [(s["name"], s["start"], s["end"], depth(s)) for s in own]

        def container(t, among):
            best = None
            for n in among:
                if n[1] <= t <= n[2] and (best is None or n[3] > best[3]):
                    best = n
            return best

        phases = []
        for q in self.qes.get(op, []):
            for ph, (s, e) in q["phases"].items():
                s, e = max(s, lo), min(e, hi)
                if e > s:
                    parent = container(s, nodes)
                    phases.append((PHASES.get(ph, "session." + ph), s, e, parent[3] + 1))
        jobs = []
        for j in self.jobs.get(op, []):
            s, e = max(j["start"], lo), min(j["end"] or hi, hi)
            if e > s:
                parent = container(s, nodes + phases)
                jobs.append(("job", s, e, parent[3] + 1))
        root_layer = "service" if self.service else "op"
        return [(n, layer_of(n, root_layer), s, e, d) for n, s, e, d in nodes + phases + jobs]

    def self_times(self, op):
        """Self time per layer of one op: the sweep described above."""
        spans = self.tree(op)
        if not spans:
            return {}
        cuts = sorted({t for _, _, s, e, _ in spans for t in (s, e)})
        out = {}
        for a, b in zip(cuts, cuts[1:]):
            mid = (a + b) / 2
            best = None
            for n, layer, s, e, d in spans:
                if s <= mid < e and (best is None or (d, s) > (best[0], best[1])):
                    best = (d, s, layer)
            if best:
                out[best[2]] = out.get(best[2], 0) + (b - a)
        return out

    def span_durations(self, name, ops):
        return [(s["end"] - s["start"]) / 1e6 for op in ops for s in self.spans.get(op, [])
                if s["name"] == name]

    def probe_ops(self):
        return [op for op in self.spans if op.startswith("probe-")]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(raw):
    """Per-layer metrics of one traced run (see README.md for each)."""
    tr = Trace(raw)
    ops = raw["ops"]
    ids = [o["id"] for o in ops]
    n = max(len(ops), 1)
    wall = max((tr.window[1] - tr.window[0]) / 1e9, 1e-9)
    rows = sum(o["in_rows"] for o in ops if o["ok"]) or 1
    jobs = [j for op in ids for j in tr.jobs.get(op, [])]
    qes = [q for op in ids for q in tr.qes.get(op, [])]
    probes = tr.probe_ops()

    def from_ops_or(name, fallback_ops):
        d = tr.span_durations(name, ids)
        return _median(d if d else tr.span_durations(name, fallback_ops))

    def jobs_inside(name, op_ids):
        count, owners = 0, 0
        for op in op_ids:
            spans = [s for s in tr.spans.get(op, []) if s["name"] == name]
            if spans:
                owners += 1
                count += sum(1 for j in tr.jobs.get(op, [])
                             if any(s["start"] <= j["start"] <= s["end"] for s in spans))
        return count / owners if owners else 0.0

    def phase_ms(ph):
        return sum((q["phases"][ph][1] - q["phases"][ph][0]) / 1e6
                   for q in qes if ph in q["phases"]) / n

    def jsum(k):
        return sum(j[k] for j in jobs)

    mib = 1024.0 * 1024.0
    m = {}
    compile_owner = ids if tr.span_durations("lang.compile", ids) else probes
    m["lang.parse_ms"] = from_ops_or("lang.parse", probes)
    m["lang.compile_ms"] = from_ops_or("lang.compile", probes)
    m["lang.compile_jobs"] = jobs_inside("lang.compile", compile_owner)
    m["session.analyze_ms"] = phase_ms("analysis")
    m["session.optimize_ms"] = phase_ms("optimization")
    m["session.physical_ms"] = phase_ms("planning")
    m["session.jobs_per_op"] = len(jobs) / n
    m["session.stages_per_op"] = jsum("stages") / n
    m["session.tasks_per_op"] = jsum("tasks") / n
    m["exec.run_s"] = jsum("run_ms") / 1e3 / n
    m["exec.cpu_s"] = jsum("cpu_ns") / 1e9 / n
    m["exec.gc_s"] = jsum("gc_ms") / 1e3 / n
    m["exec.cpu_per_row_us"] = jsum("cpu_ns") / 1e3 / rows
    m["exec.busy_frac"] = jsum("run_ms") / 1e3 / (wall * raw["cores"])
    m["exec.peak_mem_mb"] = max([j["peak_mem"] for j in jobs] or [0]) / mib
    m["exec.spill_mb"] = jsum("spill") / mib / n
    m["exec.shuffle_read_mb"] = jsum("shuffle_read") / mib / n
    m["exec.shuffle_write_mb"] = jsum("shuffle_write") / mib / n
    m["exec.result_mb"] = jsum("result") / mib / n
    m["sources.scan.bytes_per_row"] = jsum("in_bytes") / rows
    m["sources.scan.records"] = jsum("in_records") / n
    in_bytes = sum(o["in_bytes"] for o in ops)
    rchar = sum(o["rchar"] for o in ops) or raw["jvm"]["rchar"]
    m["sources.scan.read_amp"] = rchar / in_bytes if in_bytes else 0.0
    fr = sum(q.get("framesRead", 0) for q in qes)
    fs = sum(q.get("framesSkipped", 0) for q in qes)
    m["sources.zng.frames_read"] = fr / n
    m["sources.zng.frames_skipped"] = fs / n
    m["sources.zng.skip_ratio"] = fs / (fr + fs) if fr + fs else 0.0
    m["sources.read_call_ms"] = from_ops_or("sources.read", probes)
    m["sources.write.call_ms"] = from_ops_or("sources.write", ["setup"])
    writes = [o for o in ops if o["kind"] == "write"]
    w_rows = sum(o["in_rows"] for o in writes)
    m["sources.write.bytes_per_row"] = sum(o["out_bytes"] for o in writes) / w_rows if w_rows else 0.0
    m["sources.write.files"] = _mean([o["out_files"] for o in writes])
    lake = raw.get("lake", {})
    m["sources.lake.commits"] = sum(p["commits"] for p in lake.values())
    m["sources.lake.objects"] = sum(p["objects"] for p in lake.values())
    m["sources.lake.stored_bytes_per_row"] = lake_bytes_per_row(raw) if lake else 0.0
    m["sources.lake.cached_relations"] = raw["jvm"]["cached_rdds"]
    busy = _union([(max(j["start"], tr.window[0]), min(j["end"], tr.window[1])) for j in jobs
                   if j["end"] > tr.window[0] and j["start"] < tr.window[1]])
    m["service.spark_busy_frac"] = busy / 1e9 / wall
    m["service.non_spark_ms"] = _mean([
        ((o["end"] - o["start"]) - _union([(max(j["start"], o["start"]), min(j["end"], o["end"]))
                                           for j in tr.jobs.get(o["id"], []) if j["end"] > o["start"]]))
        / 1e6 for o in ops])
    m["jvm.gc_s"] = raw["jvm"]["gc_ms"] / 1e3 / n
    m["jvm.gc_count"] = raw["jvm"]["gc_count"] / n
    selfs = self_time_report(raw, tr)
    for layer in LAYERS + ["op"]:
        key = "self.unattributed_ms" if layer == "op" else f"self.{layer}_ms"
        m[key] = selfs["layers"].get(layer, 0.0)
    return m


def lake_bytes_per_row(raw):
    lake = raw["lake"]
    rows = raw["input"]["rows"] + raw["results"]["load"]["expected_rows"]
    return sum(p["bytes"] for p in lake.values()) / rows if rows else 0.0


def self_time_report(raw, tr=None):
    """Mean self time per op by layer (ms), the op wall time, and the
    remainder no layer span covers."""
    tr = tr or Trace(raw)
    totals, walls = {}, []
    for o in raw["ops"]:
        st = tr.self_times(o["id"])
        walls.append((o["end"] - o["start"]) / 1e6)
        for layer, ns in st.items():
            totals[layer] = totals.get(layer, 0) + ns / 1e6
    n = max(len(walls), 1)
    layers = {k: v / n for k, v in totals.items()}
    return {"op_wall_ms": _mean(walls), "layers": layers,
            "remainder_ms": layers.get("op", 0.0), "ops": len(walls)}


def print_report(raw, untraced=None, out=sys.stdout):
    rep = self_time_report(raw)
    wall = rep["op_wall_ms"] or 1.0
    print(f"{raw['workload']}: self time per op by layer ({rep['ops']} ops, mean op wall "
          f"{wall:.2f} ms)", file=out)
    for layer in LAYERS:
        v = rep["layers"].get(layer, 0.0)
        print(f"  {layer:<10} {v:10.2f} ms  {100 * v / wall:5.1f}%", file=out)
    covered = sum(rep["layers"].get(x, 0.0) for x in LAYERS)
    print(f"  {'remainder':<10} {rep['remainder_ms']:10.2f} ms  {100 * rep['remainder_ms'] / wall:5.1f}%"
          f"  (op time no layer span covers)", file=out)
    print(f"  {'sum':<10} {covered + rep['remainder_ms']:10.2f} ms of {wall:.2f} ms wall", file=out)
    if untraced:
        print_overhead(raw, untraced, out)


def print_overhead(traced, untraced, out=sys.stdout):
    """Tracing overhead: traced minus untraced, per end-to-end metric."""
    a, b = traced["e2e"], untraced["e2e"]
    print(f"{traced['workload']}: tracing overhead (traced - untraced, seed {traced['seed']})", file=out)
    for k in a:
        if k in b:
            d = a[k]["value"] - b[k]["value"]
            rel = 100 * d / b[k]["value"] if b[k]["value"] else 0.0
            print(f"  {k:<18} {d:+12.4f} {a[k]['unit']:<6} ({rel:+.1f}%)", file=out)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        sys.exit(__doc__)
    traced = json.load(open(sys.argv[1]))
    untraced = json.load(open(sys.argv[2])) if len(sys.argv) > 2 else None
    print_report(traced, untraced)
