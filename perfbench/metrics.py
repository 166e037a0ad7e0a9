"""Turns the harness's raw measurements into the benchmark's metrics.

Pure functions over plain data, so that tests can exercise them without a
JVM. Times in the raw trace are epoch milliseconds.
"""
import math
import random
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it.
TAIL_SAMPLES = 10


def family(key):
    """The operator family a key belongs to: `q_agg_x` -> `agg`."""
    parts = key.split("_")
    return parts[1] if len(parts) > 2 else parts[-1]


def draw(pool, size, seed):
    """A sample of `size` keys from `pool`, stratified by family: each
    family gets its share of the sample by largest remainder, and `seed`
    picks which of its keys."""
    rng = random.Random(seed)
    fams = {}
    for k in sorted(pool):
        fams.setdefault(family(k), []).append(k)
    exact = {f: size * len(ks) / len(pool) for f, ks in fams.items()}
    quota = {f: int(x) for f, x in exact.items()}
    rest = size - sum(quota.values())
    for f in sorted(fams, key=lambda f: (quota[f] - exact[f], f))[:rest]:
        quota[f] += 1
    return sorted(k for f in sorted(fams) for k in rng.sample(fams[f], quota[f]))


def order(keys, seed, workload, passes):
    """One list of the keys per timed pass, each in the order the run seed
    gives that pass."""
    out = []
    for p in range(passes):
        ks = sorted(keys)
        random.Random(f"{workload}:{seed}:{p}").shuffle(ks)
        out.append(ks)
    return out


def position(n, p):
    """0-based position of the p-th percentile among n sorted samples,
    between two ranks when not whole (linear interpolation)."""
    return (n - 1) * p / 100.0


def beyond(n, p):
    """How many of n samples lie beyond the p-th percentile."""
    return n - math.ceil(position(n, p))


def percentile(values, p):
    """The p-th percentile, interpolated between the two nearest ranks (so
    p50 is the usual median), or None for a tail percentile with fewer than
    TAIL_SAMPLES samples beyond it."""
    if not values or (p > 50 and beyond(len(values), p) < TAIL_SAMPLES):
        return None
    v = sorted(values)
    pos = position(len(v), p)
    lo = math.floor(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def union_ms(intervals, lo=-math.inf, hi=math.inf):
    """Length of the union of [start, end] intervals, clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_ms(span, children):
    """A span's duration minus the part of it its children cover."""
    return (span[1] - span[0]) - union_ms(children, span[0], span[1])


def owner(t, windows):
    """Index of the [start, end] window holding time t, or None. Windows
    are sorted and disjoint (the client is a closed loop)."""
    lo, hi = 0, len(windows) - 1
    while lo <= hi:
        mid = (lo + hi) // 2
        s, e = windows[mid]
        if t < s:
            hi = mid - 1
        elif t > e:
            lo = mid + 1
        else:
            return mid
    return None


def by_sample(result):
    """The traced key samples in time order, their [start, end] windows,
    and per sample the jobs, SQL executions, planning phases and
    micro-batches that started (phases: ended) inside its window. Jobs
    whose end was never seen are left out."""
    trace = result["trace"]
    traced = sorted((s for s in result["samples"] if s["traced"]),
                    key=lambda s: s["start_ms"])
    windows = [(s["start_ms"], s["end_ms"]) for s in traced]
    per = [dict(jobs=[], execs=[], phases=[], batches=[]) for _ in traced]

    def phase_end(p):
        return max((v for k, v in p.items() if k.endswith("_end_ms")),
                   default=None)

    for kind, items, when in (
            ("jobs", [j for j in trace["jobs"] if j["end_ms"] >= j["start_ms"]],
             lambda j: j["start_ms"]),
            ("execs", trace["executions"], lambda x: x["start_ms"]),
            ("phases", trace["phases"], phase_end),
            ("batches", trace["batches"], lambda b: b["start_ms"])):
        for it in items:
            t = when(it)
            i = owner(t, windows) if t is not None else None
            if i is not None:
                per[i][kind].append(it)
    return traced, windows, per


def spans(result):
    """The traced run's spans as one list: key sample, SQL execution, job,
    stage and micro-batch, each with its kind, name, start, end, the index
    of its parent span, and the id of the key sample it belongs to."""
    traced, _, per = by_sample(result)
    stage_of = {s["stage"]: s for s in result["trace"]["stages"]}
    out = []

    def add(kind, name, start, end, parent, sample):
        out.append(dict(kind=kind, name=name, start_ms=start, end_ms=end,
                        parent=parent, sample=sample))
        return len(out) - 1

    for s, d in zip(traced, per):
        key = add("key", s["key"], s["start_ms"], s["end_ms"], None, s["id"])
        execs = {x["exec"]: add("execution", str(x["exec"]), x["start_ms"],
                                x["end_ms"], key, s["id"]) for x in d["execs"]}
        for j in d["jobs"]:
            job = add("job", j["site"], j["start_ms"], j["end_ms"],
                      execs.get(j["exec"], key), s["id"])
            for sid in j["stages"]:
                if sid in stage_of:
                    st = stage_of[sid]
                    add("stage", st["name"], st["start_ms"], st["end_ms"], job,
                        s["id"])
        for b in d["batches"]:
            add("batch", str(b["batch"]), b["start_ms"],
                b["start_ms"] + b["trigger_ms"], key, s["id"])
    return out


def median(xs):
    return statistics.median(xs) if xs else None


def key_medians(samples):
    """Each key's median sample time."""
    by = {}
    for s in samples:
        by.setdefault(s["key"], []).append(s["s"])
    return [statistics.median(v) for v in by.values()]


def end_to_end(result):
    """The end-to-end metrics of an untraced run. `key_p50_s` is the
    median over keys of each key's median sample, so that one slow or
    fast sample cannot move it across the gap between two keys."""
    samples = [s for s in result["samples"] if s["ok"]]
    return {
        "setup_s": (result["setup_s"], "s"),
        "key_p50_s": (percentile(key_medians(samples), 50), "s"),
        "keys_per_s": (keys_per_s(samples), "1/s"),
        "bytes_written_per_key": (result["wchar_bytes"] / len(samples), "B"),
        "peak_rss_mb": (result["peak_rss_kb"] / 1024.0, "MB"),
    }


def keys_per_s(samples):
    """Completed key executions per second of their summed wall."""
    ok = [s for s in samples if s["ok"]]
    return len(ok) / sum(s["s"] for s in ok)


def per_layer(result, cores):
    """The per-layer metrics of a traced run: per traced key sample for
    counts and seconds, per micro-batch for streaming state. Streaming
    phase times are shares (of the keys' wall for the trigger, of the
    trigger for its parts), so they read 0, not a fixed time, on workloads
    without micro-batches.
    `operators.jobs_per_key` counts the jobs a key runs while its frame is
    built (its driver loop); `sched.jobs` counts all of them."""
    traced, windows, per = by_sample(result)
    n = len(traced)
    stage_of = {s["stage"]: s for s in result["trace"]["stages"]}

    def phase_s(name):
        return sum(p.get(f"{name}_end_ms", 0) - p.get(f"{name}_start_ms", 0)
                   for d in per for p in d["phases"]) / 1e3 / n

    exec_site = {x["exec"]: x["site"] for x in result["trace"]["executions"]}

    def site(j, f):
        """Whether job j was called from file f. A job that an adaptive
        query stage submits from Spark's pool thread has that thread's
        call site; the SQL execution it belongs to has the caller's."""
        return any(f" at {f}:" in s
                   for s in (j["site"], exec_site.get(j["exec"], "")))

    tables_jobs = [j for d in per for j in d["jobs"] if site(j, "Tables.scala")]
    build_self = sum(
        self_ms((s["start_ms"], s["built_ms"]),
                [(j["start_ms"], j["end_ms"]) for j in d["jobs"]])
        for s, d in zip(traced, per))
    jobs = [j for d in per for j in d["jobs"]]
    job_ms = sum(union_ms([(j["start_ms"], j["end_ms"]) for j in d["jobs"]])
                 for d in per)
    stages = [stage_of[sid] for j in jobs for sid in j["stages"]
              if sid in stage_of]
    task = {k: sum(s[k] for s in stages) for k in (
        "task_count", "run_ms", "cpu_ns", "gc_ms", "input_bytes",
        "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")}
    batches = [b for d in per for b in d["batches"]]
    trigger_ms = sum(b["trigger_ms"] for b in batches)

    def share_of_trigger(k):
        return sum(b[k] for b in batches) / trigger_ms if trigger_ms else 0.0

    rows = {c["key"]: c["input_rows"] for c in result["check"]}
    ok = [s for s in result["samples"] if s["ok"]]
    events = sum(rows[s["key"]] for s in ok)
    untraced = [s for s in result["samples"] if not s["traced"]]
    calib = result["calib_s"]
    m = {
        "tables.open_jobs": (len(tables_jobs) / n, "count"),
        "tables.open_s": (union_ms([(j["start_ms"], j["end_ms"])
                                    for j in tables_jobs]) / 1e3 / n, "s"),
        "entry.build_self_s": (build_self / 1e3 / n, "s"),
        "entry.analysis_s": (phase_s("analysis"), "s"),
        "entry.optimization_s": (phase_s("optimization"), "s"),
        "entry.planning_s": (phase_s("planning"), "s"),
        "operators.actions": (sum(x["exec"] == x["root"] for d in per
                                  for x in d["execs"]) / n, "count"),
        "operators.ckpt_jobs": (sum(site(j, "package.scala") for j in jobs) / n,
                                "count"),
        "operators.jobs_per_key": (sum(
            1 for s, d in zip(traced, per) for j in d["jobs"]
            if j["start_ms"] <= s["built_ms"]) / n, "count"),
        "sched.jobs": (len(jobs) / n, "count"),
        "sched.stages": (len(stages) / n, "count"),
        "sched.tasks": (task["task_count"] / n, "count"),
        "sched.job_s": (job_ms / 1e3 / n, "s"),
        "sched.slot_util": (task["run_ms"] / (job_ms * cores) if job_ms else 0.0,
                            "ratio"),
        "exec.task_run_s": (task["run_ms"] / 1e3 / n, "s"),
        "exec.task_cpu_s": (task["cpu_ns"] / 1e9 / n, "s"),
        "exec.gc_frac": (task["gc_ms"] / task["run_ms"] if task["run_ms"]
                         else 0.0, "ratio"),
        "exec.input_bytes": (task["input_bytes"] / n, "B"),
        "exec.shuffle_read_bytes": (task["shuffle_read_bytes"] / n, "B"),
        "exec.shuffle_write_bytes": (task["shuffle_write_bytes"] / n, "B"),
        "exec.spill_bytes": (task["spill_bytes"] / n, "B"),
        "stream.batches": (len(batches) / n, "count"),
        "stream.trigger_frac": (trigger_ms / sum(e - s for s, e in windows),
                                "ratio"),
        "stream.planning_frac": (share_of_trigger("planning_ms"), "ratio"),
        "stream.addbatch_frac": (share_of_trigger("addbatch_ms"), "ratio"),
        "stream.log_commit_frac": (share_of_trigger("log_commit_ms"), "ratio"),
        "stream.state_commit_frac": (share_of_trigger("state_commit_ms"),
                                     "ratio"),
        "stream.state_rows": (sum(b["state_rows"] for b in batches)
                              / max(len(batches), 1), "count"),
        "stream.state_bytes": (sum(b["state_bytes"] for b in batches)
                               / max(len(batches), 1), "B"),
        "stream.events_per_s": (events / sum(s["s"] for s in ok), "1/s"),
        "stream.bytes_written_per_event": (
            result["wchar_bytes"] / events if events else 0.0, "B"),
        "fixture.prewarm_s": (result["setup_parts"]["check_s"], "s"),
        "fixture.bytes": (result["fixture_bytes"], "B"),
        "host.calib_s": (median(calib), "s"),
        "host.steal_frac": (result["steal_frac"], "ratio"),
        "trace.overhead_frac": (1 - keys_per_s(traced) / keys_per_s(untraced),
                                "ratio"),
    }
    return m
