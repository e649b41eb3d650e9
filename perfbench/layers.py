"""Per-layer counters from a run's spans, jobs and task totals.

A span is a call from the benchmark into one layer. Its self time is its
interval minus the part its child spans cover. A layer's `wall_s` is the
sum of its spans' self time, and its `gap_s` is the part of that self
time no job of the layer covers: driver planning, job submission and the
per-job floor. Jobs and tasks are billed to the span whose call
submitted them.
"""

LAYERS = ["core", "sources", "enrich", "write", "verify", "parse",
          "pipeline", "ops.quality", "ops.dedup", "ops.bpe", "ops.graph",
          "ops.similarity", "streaming"]
COUNTERS = ["wall_s", "jobs", "tasks", "task_s", "gap_s", "shuffle_mb",
            "gc_s"]


def union(intervals):
    """Sorted, disjoint intervals covering the same points."""
    out = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(i) for i in out]


def length(intervals):
    return sum(b - a for a, b in union(intervals))


def subtract(interval, others):
    """`interval` minus the union of `others`, as disjoint intervals."""
    a, b = interval
    out = []
    for x, y in union(others):
        if y <= a or x >= b:
            continue
        if x > a:
            out.append((a, x))
        a = max(a, y)
    if a < b:
        out.append((a, b))
    return out


def intersect(xs, ys):
    """Intersection of two interval sets."""
    xs, ys = union(xs), union(ys)
    out, i, j = [], 0, 0
    while i < len(xs) and j < len(ys):
        a, b = max(xs[i][0], ys[j][0]), min(xs[i][1], ys[j][1])
        if a < b:
            out.append((a, b))
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return out


def descendants(spans, roots):
    """Ids of `roots` and every span below them."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), list(roots)
    while todo:
        x = todo.pop()
        out.add(x)
        todo.extend(children.get(x, []))
    return out


def layer_counters(spans, jobs, tasks, include):
    """Counters per layer over the spans whose id is in `include`.

    `spans`: dicts with id, parent, layer, start_ms, end_ms;
    `jobs`: dicts with span, start_ms, end_ms;
    `tasks`: span id (string) -> dict with tasks, run_ms, gc_ms,
    shuffle_write_bytes.
    """
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    jobs_of = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append((j["start_ms"], j["end_ms"]))
    out = {l: dict.fromkeys(COUNTERS, 0.0) for l in LAYERS}
    for s in spans:
        if s["id"] not in include or s["layer"] not in out:
            continue
        c = out[s["layer"]]
        own = subtract((s["start_ms"], s["end_ms"]),
                       [(k["start_ms"], k["end_ms"])
                        for k in by_parent.get(s["id"], [])])
        wall = length(own)
        js = jobs_of.get(s["id"], [])
        c["wall_s"] += wall / 1000
        c["gap_s"] += (wall - length(intersect(own, js))) / 1000
        c["jobs"] += len(js)
        t = tasks.get(str(s["id"]), {})
        c["tasks"] += t.get("tasks", 0)
        c["task_s"] += t.get("run_ms", 0) / 1000
        c["gc_s"] += t.get("gc_ms", 0) / 1000
        c["shuffle_mb"] += t.get("shuffle_write_bytes", 0) / 1e6
    return out


def span_counts(spans, include, layer, key):
    """Sum of one recorded count over a layer's included spans."""
    return sum(s["counts"].get(key, 0) for s in spans
               if s["id"] in include and s["layer"] == layer)
