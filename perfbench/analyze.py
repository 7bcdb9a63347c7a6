"""Turns one run record of the Scala harness into benchmark metrics.

Pure functions only, so the rules are unit-tested without Spark
(tests/test_analyze.py): the percentile rule, span self time, job
attribution to modules, the per-round time accounting and the digest
comparison.
"""
import math
import re
import statistics

# Module names are graft's packages; a job belongs to the first graft
# frame of its final stage's call stack.
FRAME_RE = re.compile(r"^\s*(?:at\s+)?graft\.(\w+)\.(\w+)[\w$]*\.([\w$]+)\(")

READ_KINDS = ["search", "domain", "neighbors", "facts", "sql"]
LEAVES = ["dd03_minhash_lsh_pairs", "dd03_minhash_xx64", "dd04_simhash_pairs",
          "dd04_simhash_xx64", "ta09_ngram_counts"]
TABLES = ["frontier", "seen", "domains", "pages", "pages_fts", "links",
          "media_refs", "emails", "btc_addresses", "ssh_fps", "open_ports",
          "robots_rules", "crawl_log", "metrics"]
# per-round time buckets: every job in a round lands in exactly one
ROUND_LAYERS = ["store.write", "store.compact", "store.listing", "dedup.fold",
                "dedup.prefix", "crawl.stats", "crawl.broadcast",
                "frontier.robots", "crawl.other"]
# Round takes the prefix-pruned anti-join only when it schedules at most
# one URL per seen prefix directory (256), far below the timed round, so
# that bucket stays in the accounting but is not a metric; the standalone
# dedup.filter_new_pruned_s call measures that path.
ROUND_METRICS = [k for k in ROUND_LAYERS if k != "dedup.prefix"]

E2E = ["setup_s", "work_per_s", "cpu_ms_per_work", "latency_ms_p50"]
E2E_UNITS = {"setup_s": "s", "work_per_s": "1/s", "cpu_ms_per_work": "ms",
             "latency_ms_p50": "ms"}


def per_layer_names():
    """Every per-layer metric name with its unit, in a fixed order."""
    out = []
    for layer in ROUND_METRICS:
        out.append((layer + "_s", "s"))
    out += [("crawl.driver_gap_s", "s"), ("crawl.round_s", "s"),
            ("store.write_cpu_s", "s"), ("store.shuffle_mb", "MB"),
            ("store.spill_mb", "MB"), ("store.output_mb", "MB"),
            ("store.compact_output_mb", "MB"), ("dedup.fold_cpu_s", "s"),
            ("crawl.jobs_per_round", "count"), ("crawl.tasks_per_round", "count"),
            ("crawl.scheduled", "count"), ("crawl.deduped", "count"),
            ("dedup.seen_rows", "count"), ("dedup.new_ratio", "ratio"),
            ("frontier.scheduled_ratio", "ratio"), ("exec.busy_frac", "ratio"),
            ("jvm.gc_s", "s"), ("jvm.heap_peak_mb", "MB"), ("host.steal_frac", "ratio"),
            ("url.fingerprint_ns", "ns"),
            ("extract.parse_us_per_doc", "us"), ("frontier.schedule_s", "s"),
            ("dedup.filter_new_s", "s"), ("dedup.filter_new_pruned_s", "s"),
            ("dedup.bloom_probe_ns", "ns"),
            ("dedup.bloom_fpp_observed", "ratio"),
            ("analytics.read_tail_ms", "ms"), ("analytics.read_tail_pct", "%"),
            ("analytics.reads", "count")]
    for t in TABLES:
        out.append(("store.read_s." + t, "s"))
        out.append(("store.data_dirs." + t, "count"))
    for k in READ_KINDS:
        out.append(("analytics.%s_ms_p50" % k, "ms"))
    for leaf in LEAVES:
        out += [("pipeline.%s_s" % leaf, "s"), ("pipeline.%s_cpu_s" % leaf, "s"),
                ("pipeline.%s_shuffle_mb" % leaf, "MB")]
    return out


# ------------------------------------------------------------ statistics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100) of a non-empty sample."""
    s = sorted(xs)
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail(xs, ladder=(99.9, 99.0, 90.0, 50.0), beyond=10):
    """The highest percentile on `ladder` with at least `beyond` samples
    above it, as (pct, value); (0, 0.0) when even the median lacks them.
    """
    n = len(xs)
    for p in ladder:
        if round(n * (100.0 - p) / 100.0, 6) >= beyond:
            return p, percentile(xs, p)
    return 0.0, 0.0


# ------------------------------------------------------------ intervals

def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
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


def self_times(spans):
    """Span name -> summed self time: each span's duration minus the part
    of it that its direct children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        a, b = s["start_us"], s["end_us"]
        covered = union_length([(max(a, c["start_us"]), min(b, c["end_us"]))
                                for c in kids.get(s["id"], [])])
        out[s["name"]] = out.get(s["name"], 0) + (b - a) - covered
    return out


def shares(jobs, start, end):
    """Splits [start, end) among the jobs running in it: each moment is
    divided equally among the jobs active then. Returns (job index ->
    share, uncovered time). Shares plus the uncovered time equal the
    window exactly."""
    events = []
    for i, j in enumerate(jobs):
        s, e = max(start, j["start_us"]), min(end, j["end_us"])
        if e > s:
            events.append((s, 1, i))
            events.append((e, -1, i))
    events.sort(key=lambda x: (x[0], x[1]))
    active, out, prev, gap = set(), {}, start, 0
    for t, kind, i in events:
        if t > prev:
            if active:
                for a in active:
                    out[a] = out.get(a, 0) + (t - prev) / len(active)
            else:
                gap += t - prev
            prev = t
        if kind == 1:
            active.add(i)
        else:
            active.discard(i)
    if end > prev:
        gap += end - prev
    return out, gap


# ------------------------------------------------------------ attribution

def first_graft_frame(stack):
    """(module, class, method) of the first graft frame, or None."""
    for line in (stack or "").splitlines():
        m = FRAME_RE.match(line)
        if m:
            return m.group(1), m.group(2), m.group(3)
    return None


def classify(job):
    """The per-round layer a Spark job is charged to."""
    f = first_graft_frame(job.get("stack", ""))
    if f is None:
        # jobs launched from broadcast-exchange threads carry no graft frame
        return "crawl.broadcast"
    module, cls, method = f
    if cls == "SnapshotStore":
        if "writeUnion" in method or "writeData" in method:
            return "store.write"
        if "compact" in method:
            return "store.compact"
        return "store.listing"
    if cls == "SeenSet":
        return "dedup.prefix" if "exactSide" in method else "dedup.fold"
    if cls == "GoldenSeq":
        return "crawl.stats"
    if module == "frontier":
        return "frontier.robots"
    return "crawl.other"


# ------------------------------------------------------------ digests

def compare_digests(got, expected):
    """Names whose digest differs from the recorded one (only names that
    were recorded for this seed are compared)."""
    return sorted(k for k, v in (expected or {}).items() if got.get(k) != v)


# ------------------------------------------------------------ metrics

def _ops(rec, kind=None, name=None):
    return [o for o in rec["ops"] if (kind is None or o["kind"] == kind)
            and (name is None or o["name"] == name)]


def _dur_ms(o):
    return (o["end_us"] - o["start_us"]) / 1e3


def end_to_end(workload, rec):
    """Throughput is all timed work over all timed op time. Latency is the
    median round of a crawl, and for a curation batch the sum of the
    per-leaf medians, so a repeated leaf counts once at its median. CPU
    per unit of work is the median over timed units."""
    v = rec["values"]
    ops = rec["ops"]
    time_ms = sum(_dur_ms(o) for o in ops)
    items = sum(o["items"] for o in ops)
    if workload == "curate_batch":
        names = sorted({o["name"] for o in ops})
        latency = sum(median([_dur_ms(o) for o in ops if o["name"] == n]) for n in names)
    else:
        latency = median([_dur_ms(o) for o in ops])
    return {
        "setup_s": (v["setup_end_us"] - v["process_start_us"]) / 1e6,
        "work_per_s": items / time_ms * 1e3 if time_ms > 0 else 0.0,
        "cpu_ms_per_work": median([u["cpu_s"] * 1e3 / u["items"]
                                   for u in v.get("units", []) if u["items"]]),
        "latency_ms_p50": latency,
    }


def round_breakdown(rec):
    """Per timed crawl round: wall, uncovered driver time and each layer's
    share of the round, plus per-round job counts and executor totals."""
    jobs = [j for j in rec.get("jobs", []) if j["end_us"] >= 0]
    out = []
    for r in rec["values"].get("rounds", []):
        s, e = r["start_us"], r["end_us"]
        inside = [j for j in jobs if j["start_us"] < e and j["end_us"] > s]
        sh, gap = shares(inside, s, e)
        layers = {k: 0.0 for k in ROUND_LAYERS}
        cpu = {k: 0.0 for k in ROUND_LAYERS}
        for i, j in enumerate(inside):
            layer = classify(j)
            layers[layer] += sh.get(i, 0.0) / 1e6
            cpu[layer] += j["cpu_ns"] / 1e9
        store_jobs = [j for j in inside if classify(j) == "store.write"]
        compact_jobs = [j for j in inside if classify(j) == "store.compact"]
        out.append({
            "snap": r["snap"], "wall_s": (e - s) / 1e6, "gap_s": gap / 1e6,
            "layers_s": layers, "cpu_s": cpu,
            "jobs": len(inside), "tasks": sum(j["tasks"] for j in inside),
            "run_s": sum(j["run_ms"] for j in inside) / 1e3,
            "store_shuffle_mb": sum(j["shuffle_write_b"] + j["shuffle_read_b"]
                                    for j in store_jobs) / 2**20,
            "store_spill_mb": sum(j["spill_b"] for j in store_jobs) / 2**20,
            "store_output_mb": sum(j["output_b"] for j in store_jobs) / 2**20,
            "compact_output_mb": sum(j["output_b"] for j in compact_jobs) / 2**20,
            "scheduled": r["scheduled"], "deduped": r["deduped"],
            "urls_in": r["urls_in"], "new_seen": r["new_seen"],
            "accounted_s": (sum(sh.values()) + gap) / 1e6,
        })
    return out


def steal_frac(values):
    """Share of the machine's CPU time taken by other tenants during the
    measured window (0 where the platform does not report it)."""
    d = values.get("timed_end_jiffies", 0) - values.get("setup_end_jiffies", 0)
    return (values.get("timed_end_steal", 0) - values.get("setup_end_steal", 0)) / d if d > 0 else 0.0


def per_layer(rec, cpus):
    m = {name: 0.0 for name, _ in per_layer_names()}
    v = rec["values"]
    rounds = round_breakdown(rec)
    if rounds:
        n = len(rounds)
        for layer in ROUND_METRICS:
            m[layer + "_s"] = sum(r["layers_s"][layer] for r in rounds) / n
        m["crawl.driver_gap_s"] = sum(r["gap_s"] for r in rounds) / n
        m["crawl.round_s"] = sum(r["wall_s"] for r in rounds) / n
        m["store.write_cpu_s"] = sum(r["cpu_s"]["store.write"] for r in rounds) / n
        m["dedup.fold_cpu_s"] = sum(r["cpu_s"]["dedup.fold"] for r in rounds) / n
        for k, src in [("store.shuffle_mb", "store_shuffle_mb"),
                       ("store.spill_mb", "store_spill_mb"),
                       ("store.output_mb", "store_output_mb"),
                       ("store.compact_output_mb", "compact_output_mb"),
                       ("crawl.jobs_per_round", "jobs"),
                       ("crawl.tasks_per_round", "tasks"),
                       ("crawl.scheduled", "scheduled"),
                       ("crawl.deduped", "deduped")]:
            m[k] = sum(r[src] for r in rounds) / n
        new = sum(r["new_seen"] for r in rounds)
        ded = sum(r["deduped"] for r in rounds)
        m["dedup.new_ratio"] = new / (new + ded) if new + ded else 0.0
        urls_in = sum(r["urls_in"] for r in rounds)
        m["frontier.scheduled_ratio"] = (sum(r["scheduled"] for r in rounds) / urls_in
                                         if urls_in else 0.0)
    calls = {c["name"]: c for c in rec.get("calls", [])}
    if "store.read.seen" in calls:
        m["dedup.seen_rows"] = calls["store.read.seen"]["rows_out"]
    if "url.fingerprint" in calls:
        c = calls["url.fingerprint"]
        m["url.fingerprint_ns"] = c["seconds"] * 1e9 / max(1, c["rows_in"])
    if "extract.parse" in calls:
        c = calls["extract.parse"]
        m["extract.parse_us_per_doc"] = c["seconds"] * 1e6 / max(1, c["rows_in"])
    if "frontier.schedule" in calls:
        m["frontier.schedule_s"] = calls["frontier.schedule"]["seconds"]
    if "dedup.filter_new" in calls:
        m["dedup.filter_new_s"] = calls["dedup.filter_new"]["seconds"]
    if "dedup.filter_new_pruned" in calls:
        m["dedup.filter_new_pruned_s"] = calls["dedup.filter_new_pruned"]["seconds"]
    if "dedup.bloom_probe" in calls:
        c = calls["dedup.bloom_probe"]
        m["dedup.bloom_probe_ns"] = c["seconds"] * 1e9 / max(1, c["rows_in"])
        m["dedup.bloom_fpp_observed"] = c["value"] or 0.0
    for t in TABLES:
        c = calls.get("store.read." + t)
        if c:
            m["store.read_s." + t] = c["seconds"]
            m["store.data_dirs." + t] = c["rows_in"]
    for k in READ_KINDS:
        m["analytics.%s_ms_p50" % k] = median([c["seconds"] * 1e3 for c in rec.get("calls", [])
                                               if c["name"] == "analytics." + k])
    jobs = [j for j in rec.get("jobs", []) if j["end_us"] >= 0]
    for leaf in LEAVES:
        runs = _ops(rec, "leaf", leaf)
        if not runs:
            continue
        m["pipeline.%s_s" % leaf] = median([_dur_ms(o) / 1e3 for o in runs])
        inside = [j for o in runs for j in jobs
                  if j["start_us"] >= o["start_us"] and j["end_us"] <= o["end_us"]]
        m["pipeline.%s_cpu_s" % leaf] = sum(j["cpu_ns"] for j in inside) / 1e9 / len(runs)
        m["pipeline.%s_shuffle_mb" % leaf] = sum(
            j["shuffle_write_b"] for j in inside) / 2**20 / len(runs)
    reads = [c["seconds"] * 1e3 for c in rec.get("calls", [])
             if c["name"].startswith("analytics.")]
    pct, val = tail(reads)
    m["analytics.read_tail_ms"], m["analytics.read_tail_pct"] = val, pct
    m["analytics.reads"] = len(reads)
    m["jvm.heap_peak_mb"] = v.get("heap_peak_mb", 0.0)
    t0, t1 = v.get("setup_end_us", 0), v.get("timed_end_us", 0)
    m["host.steal_frac"] = steal_frac(v)
    if t1 > t0:
        run_ms = sum(j["run_ms"] for j in jobs if j["start_us"] >= t0 and j["end_us"] <= t1)
        m["exec.busy_frac"] = run_ms / 1e3 / ((t1 - t0) / 1e6 * cpus)
        m["jvm.gc_s"] = v.get("timed_end_gc_s", 0.0) - v.get("setup_end_gc_s", 0.0)
    return m
