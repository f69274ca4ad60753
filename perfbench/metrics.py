"""Scoring for the harness's raw result: the percentile rule, per-layer
self time from spans, result checks against goldens or the benchmark's
own expectations, and the metric tables printed by run.py."""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
LADDER = (0.999, 0.99, 0.9, 0.75, 0.5)
COMMIT_KINDS = ("append", "merge", "delete", "compact", "vacuum")
READ_KINDS = ("read_latest", "read_pinned")


def quantile(values, p):
    """Nearest-rank quantile of a non-empty list."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p * len(xs)) - 1)]


def tail_percentile(values):
    """The highest percentile of the ladder with at least ten samples
    beyond it, as (p, value); None when even the median has fewer."""
    n = len(values)
    for p in LADDER:
        if n - math.ceil(p * n) >= 10:
            return p, quantile(values, p)
    return None


def timing(values):
    """Median, tail percentile and sample count of a list of timings."""
    if not values:
        return {"n": 0}
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = tail_percentile(values)
    if tail:
        out["tail_p"], out["tail"] = tail
    return out


def self_times(spans):
    """Exclusive time per layer for one op's span tree.

    `spans` are (id, parent, layer, start, end) with the op first. Each
    child is clipped to its parent; at every instant the deepest active
    span owns the time (the later-started one among equals), so the
    self times of a tree sum exactly to the op's wall even where
    siblings overlap."""
    root = spans[0]
    depth = {root[0]: 0}
    bounds = {root[0]: (root[3], root[4])}
    layer = {root[0]: root[2]}
    pending = list(spans[1:])
    while pending:
        rest = []
        for sid, parent, lay, start, end in pending:
            if parent not in bounds:
                rest.append((sid, parent, lay, start, end))
                continue
            lo, hi = bounds[parent]
            start, end = max(start, lo), min(end, hi)
            if end > start:
                depth[sid] = depth[parent] + 1
                bounds[sid] = (start, end)
                layer[sid] = lay
        if len(rest) == len(pending):
            break
        pending = rest
    cuts = sorted({t for b in bounds.values() for t in b})
    out = {}
    for lo, hi in zip(cuts, cuts[1:]):
        live = [s for s, (a, b) in bounds.items() if a <= lo and b >= hi]
        owner = max(live, key=lambda s: (depth[s], bounds[s][0]))
        out[layer[owner]] = out.get(layer[owner], 0) + (hi - lo)
    return out


def attach_by_time(spans, candidates):
    """Give parent-less spans (parent 0) the innermost candidate span that
    contains their start."""
    out = []
    for sid, parent, lay, start, end in spans:
        if parent == 0:
            inside = [c for c in candidates if c[3] <= start <= c[4]]
            if not inside:
                continue
            parent = max(inside, key=lambda c: c[3])[0]
        out.append((sid, parent, lay, start, end))
    return out


def check(op, goldens):
    """None when the op's result is right, else why it is not."""
    if op["err"]:
        return op["err"]
    if op.get("expect_rows") is not None:
        want = (op["expect_rows"], op["expect_hash"])
    elif op["kind"] == "query":
        if op["name"] not in goldens:
            return "NoGolden"
        want = tuple(goldens[op["name"]])
    else:
        return None
    return None if (op["rows"], op["hash"]) == want else "WrongResult"


def measured(ops):
    """The ops after the unmeasured first pass, and the window they span
    in seconds."""
    ops = [o for o in ops if o["pass"] >= 2]
    if not ops:
        return ops, 0.0
    end = max(o["start_us"] + o["wall_ms"] * 1000 for o in ops)
    return ops, (end - min(o["start_us"] for o in ops)) / 1e6


def end_to_end(raw, goldens):
    """Every end-to-end metric of one run, with units and sample counts,
    plus the failures found by the checks (which cover every op, the
    first pass included)."""
    failures = [(o["kind"], o["name"], why) for o in raw["ops"]
                for why in [check(o, goldens)] if why]
    ops, window = measured(raw["ops"])
    walls = [o["wall_ms"] for o in ops]
    m = {
        "setup_s": (statistics.median(raw["setup_s"]), "s", len(raw["setup_s"])),
        "heap_peak_mb": (raw["heap_peak_mb"], "MB", 1),
        "failed_frac": (len(failures) / max(1, len(raw["ops"])), "frac", len(raw["ops"])),
    }
    if window > 0:
        m["ops_per_s"] = (len(ops) / window, "1/s", len(ops))
    if ops:
        m["cpu_ms_per_op"] = (sum(o["cpu_ms"] for o in ops) / len(ops), "ms", len(ops))
    t = timing(walls)
    if t["n"]:
        m["op_p50_ms"] = (t["p50"], "ms", t["n"])
    if "tail" in t:
        m[f"op_p{t['tail_p'] * 100:g}_ms"] = (t["tail"], "ms", t["n"])
    extra = raw.get("extra", {})
    if "pass_s" in extra:
        for i, name in enumerate(("first_pass_s", "second_pass_s")):
            m[name] = (extra["pass_s"][i], "s", 1)
    for group, kinds in (("commit", COMMIT_KINDS), ("read", READ_KINDS)):
        t = timing([o["wall_ms"] for o in ops if o["kind"] in kinds])
        if t["n"]:
            m[f"{group}_p50_ms"] = (t["p50"], "ms", t["n"])
            if "tail" in t:
                m[f"{group}_p{t['tail_p'] * 100:g}_ms"] = (t["tail"], "ms", t["n"])
    if extra.get("batch_bytes"):
        m["write_amp"] = (extra["bytes_written"] / extra["batch_bytes"], "ratio", extra["commits"])
        m["space_amp"] = (extra["warehouse_bytes"] / extra["latest_snapshot_bytes"], "ratio", 1)
    return m, failures


SCHED = {"jobs": "sched.jobs", "stages": "sched.stages", "tasks": "sched.tasks",
         "deser_ms": "sched.task_deser_ms", "run_ms": "sched.task_run_ms",
         "input_bytes": "sched.input_bytes", "shuffle_read_bytes": "sched.shuffle_read_bytes",
         "shuffle_write_bytes": "sched.shuffle_write_bytes", "spill_bytes": "sched.spill_bytes"}
BENCH_LAYERS = ("op", "entry.construct", "entry.action")


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer(raw):
    """Per-layer totals of a traced run over every op of the loop (the
    first pass included, like the JVM counters), and the self-time
    reconciliation: the largest relative gap between an op's summed self
    times and its wall, and the self time of each layer."""
    spans = [(s[0], s[1], s[2], s[4], s[5]) for s in raw["spans"]]
    by_id = {s[0]: s for s in spans}
    children = {}
    for s in attach_by_time(spans, [s for s in spans if s[2] in BENCH_LAYERS]):
        children.setdefault(s[1], []).append(s)
    sched = {int(k): v for k, v in raw["sched"].items()}

    def tree(root):
        out, todo = [], [root]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(children.get(cur[0], []))
        return out

    totals, self_ms, gaps, by_pass = {}, {}, [], {}

    def add(d, k, v):
        d[k] = d.get(k, 0) + v

    for o in raw["ops"]:
        root = by_id.get(o["span"])
        if not root:
            continue
        spans_of_op = tree(root)
        st = self_times(spans_of_op)
        for lay, us in st.items():
            add(self_ms, lay, us / 1000)
        gaps.append(abs(sum(st.values()) / 1000 - o["wall_ms"]) / max(o["wall_ms"], 1e-9))
        add(totals, "buildphase.s", o["build_s"])
        for kind in ("construct", "action"):
            add(totals, f"entry.{kind}_ms", o[f"{kind}_ms"])
            sub = next((c for c in children.get(root[0], []) if c[2] == f"entry.{kind}"), None)
            add(totals, f"entry.{kind}_jobs",
                sum(sched.get(s[0], {}).get("jobs", 0) for s in tree(sub)) if sub else 0)
        row = by_pass.setdefault(o["pass"], {"ops": 0, "jobs": 0, "compiles": 0})
        row["ops"] += 1
        row["compiles"] += o["compiles"]
        row["jobs"] += sum(sched.get(s[0], {}).get("jobs", 0) for s in spans_of_op)
        jobs = []
        for s in spans_of_op:
            c = sched.get(s[0], {})
            for k, name in SCHED.items():
                add(totals, name, c.get(k, 0))
            add(totals, "sched.task_cpu_ms", c.get("cpu_ns", 0) / 1e6)
            if s[2] == "sched.job":
                jobs.append((max(s[3], root[3]), min(s[4], root[4])))
            elif s[2].startswith("catalyst."):
                add(totals, f"{s[2]}_ms", (s[4] - s[3]) / 1000)
        add(totals, "sched.outside_jobs_ms",
            o["wall_ms"] - covered([j for j in jobs if j[1] > j[0]]) / 1000)
    for k in ("analysis", "optimization", "planning"):
        totals.setdefault(f"catalyst.{k}_ms", 0.0)
    totals.update(raw["counters"])
    extra = raw.get("extra", {})
    totals["commit.files_written"] = extra.get("files_written", 0)
    totals["commit.bytes_written"] = extra.get("bytes_written", 0)
    for o in raw["ops"]:
        if o["kind"] in COMMIT_KINDS:
            add(totals, f"commit.{o['kind']}_ms", o["wall_ms"])
        elif o["kind"] in READ_KINDS:
            add(totals, f"read.{o['kind'][5:]}_ms", o["wall_ms"])
    return totals, {"max_gap": max(gaps, default=0.0), "ops": len(gaps), "self_ms": self_ms,
                    "passes": by_pass}
