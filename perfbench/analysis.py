"""Pure analysis of perfbench records: percentiles, per-layer self time
from nested spans, and call-site-to-module attribution of Spark jobs.

Nothing here touches Spark or the file system; test_analysis.py drives
every function on synthetic inputs.
"""
import re
import statistics

# Modules of the product (src/main/scala/graft/<module>) plus `bench`,
# which takes the harness and the top-level graft entry points.
MODULES = ("io", "queries", "ops", "text", "dedup", "similarity", "topic",
           "graph", "feature", "multimodal", "pipeline", "bench")

# Self-time layers, in the order the report prints them. Their sum over
# the timed region is the traced wall_s.
LAYERS = ("bench", "queries.build", "plan", "exec.driver",
          "pipeline.ingest", "sched", "exec.tasks")

# Harness span name (the part before any ':') -> layer of its self time.
SPAN_LAYER = {"pass": "bench", "op": "bench", "build": "queries.build",
              "plan": "plan", "exec": "exec.driver",
              "ingest": "pipeline.ingest"}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def op_medians(samples):
    """One latency per operation: the median of its samples, given as
    (name, seconds) pairs. A run repeats every operation once per
    measured pass; percentiles are then taken across distinct
    operations, which one slow pass of one operation moves less."""
    by_op = {}
    for name, s in samples:
        by_op.setdefault(name, []).append(s)
    return [median(v) for _, v in sorted(by_op.items())]


def tail(samples):
    """The highest percentile of `samples` with at least ten samples
    beyond it: (value, percentile, n). With n sorted samples that is
    the value at rank n - 10 (1-based), i.e. percentile 100 (n-10)/n.
    Below 20 samples that percentile would fall under the median, so
    the maximum is returned instead, as percentile 100."""
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 100.0, 0
    if n < 20:
        return xs[-1], 100.0, n
    r = n - 10
    return xs[r - 1], 100.0 * r / n, n


_FRAME = re.compile(r"\bgraft\.(\w+)\.")
_TOP = re.compile(r"\bgraft\.[A-Z]\w*[.$(]")


def module_of(*sites, op_module=None):
    """Module of a job from the user-code call sites Spark recorded for
    it (the result stage's details, then its SQL execution's details):
    the first frame inside `graft.<module>.` names the module; a frame
    of a top-level graft object or of the harness means `bench`. A job
    with no user frame at all is `spark`.

    Query plans are lazy, so the jobs that run them are started by the
    harness (its noop write or its plan call) and carry no product
    frame. When `op_module`, the module the enclosing operation's query
    exercises, is given, such `bench` and `spark` jobs go to it."""
    for site in sites:
        for line in (site or "").split("\n"):
            m = _FRAME.search(line)
            if m and m.group(1) in MODULES:
                return m.group(1)
            if _TOP.search(line) or "perfbench." in line:
                return op_module or "bench"
    return op_module or "spark"


def enclosing(spans, sid, prefix):
    """The name (after `prefix`) of the innermost span at or above
    `sid` whose name starts with `prefix`, or None."""
    while sid in spans:
        parent, name, _, _ = spans[sid]
        if name.startswith(prefix):
            return name[len(prefix):]
        sid = parent
    return None


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans, jobs, tasks, roots):
    """Split the time of the `roots` spans (ids) across LAYERS.

    spans: {id: (parent, name, start, end)}; jobs: {job: (span, start,
    end)}; tasks: [(job, launch, finish)]. Times in ms. A job belongs to
    the span active when it started, a task to its job. At every instant
    the innermost thing running takes the time: a running task makes it
    `exec.tasks`, else a running job makes it `sched`, else the
    innermost open span makes it that span's layer, so the result sums
    to the roots' duration.
    Returns {layer: seconds}."""
    children = {}
    for sid, (parent, _, _, _) in spans.items():
        children.setdefault(parent, []).append(sid)
    keep = set()
    stack = list(roots)
    while stack:
        sid = stack.pop()
        keep.add(sid)
        stack.extend(children.get(sid, ()))
    events = []  # (time, order, kind, payload); ends sort before starts
    for sid in keep:
        _, name, s, e = spans[sid]
        events.append((s, 1, "span+", sid))
        events.append((e, 0, "span-", sid))
    kept_jobs = {j for j, (sid, _, _) in jobs.items() if sid in keep}
    for j in kept_jobs:
        sid, s, e = jobs[j]
        lo, hi = spans[sid][2], spans[sid][3]
        s, e = max(s, lo), min(e, hi)
        if e > s:
            events.append((s, 1, "job+", j))
            events.append((e, 0, "job-", j))
    for j, s, e in tasks:
        if j in kept_jobs:
            lo, hi = spans[jobs[j][0]][2], spans[jobs[j][0]][3]
            s, e = max(s, lo), min(e, hi)
            if e > s:
                events.append((s, 1, "task+", j))
                events.append((e, 0, "task-", j))
    events.sort(key=lambda x: (x[0], x[1]))
    depth = {}
    for sid in keep:
        d, p = 0, sid
        while p in spans:
            d, p = d + 1, spans[p][0]
        depth[sid] = d
    out = {l: 0.0 for l in LAYERS}
    open_spans, n_jobs, n_tasks, last = [], 0, 0, None
    for t, _, kind, payload in events:
        if last is not None and t > last:
            if n_tasks:
                layer = "exec.tasks"
            elif n_jobs:
                layer = "sched"
            elif open_spans:
                inner = max(open_spans, key=depth.get)
                layer = SPAN_LAYER.get(spans[inner][1].split(":")[0], "bench")
            else:
                layer = None
            if layer:
                out[layer] += (t - last) / 1e3
        last = t
        if kind == "span+":
            open_spans.append(payload)
        elif kind == "span-":
            open_spans.remove(payload)
        elif kind == "job+":
            n_jobs += 1
        elif kind == "job-":
            n_jobs -= 1
        elif kind == "task+":
            n_tasks += 1
        else:
            n_tasks -= 1
    return out


def subtree(spans, root):
    """Ids of `root` and every span below it."""
    children = {}
    for sid, (parent, _, _, _) in spans.items():
        children.setdefault(parent, []).append(sid)
    out, stack = set(), [root]
    while stack:
        sid = stack.pop()
        out.add(sid)
        stack.extend(children.get(sid, ()))
    return out
