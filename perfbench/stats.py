"""Summary statistics for the benchmark: turns the harness's raw
measurements into the end-to-end and per-layer metrics."""

import statistics

# op record fields, as the harness writes them
KIND, NAME, DUE, START, END, STATUS, OK, SAMPLES, ERROR, TAG = range(10)

QUERY_FAMILIES = ["sensor", "promql", "dedup", "similarity", "multimodal", "text",
                  "sampling", "graph", "sketch", "profiling", "streaming",
                  "behavior", "stats"]
SPAN_LAYERS = ["http", "sources", "infer", "prometheus", "catalog", "promql",
               "exporters", "store", "queries", "spark"]
# the dashboard read kinds (Reads.mix in the harness)
READ_KINDS = ["range_rate", "range_count", "query_senml", "query_csv", "query_extended",
              "catalog", "series_export", "discovery", "remote_read"]
# device pushes carry tens of samples, relay batches thousands
RELAY_MIN_SAMPLES = 1000


def tail(values):
    """The highest percentile with at least 10 samples beyond it.

    Returns (value, percentile, n). With n sorted samples, the sample of
    rank n - 10 (1-based) has exactly 10 larger-ranked samples beyond it,
    so the percentile is (n - 10) / n. With 10 samples or fewer no such
    percentile exists and the maximum is returned as percentile 100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return None, None, 0
    if n <= 10:
        return xs[-1], 100.0, n
    k = n - 10
    return xs[k - 1], 100.0 * k / n, n


def latencies(ops, kind, from_due):
    """Latencies (ms) of the successful ops of `kind`; failures are
    never timed. Open-loop ops count from their due time."""
    return [o[END] - (o[DUE] if from_due else o[START])
            for o in ops if o[KIND] == kind and o[OK]]


def grouped(ops, kind, from_due, key):
    """Latencies (ms) of the successful ops of `kind`, grouped by `key`."""
    out = {}
    for o in ops:
        if o[KIND] == kind and o[OK]:
            out.setdefault(key(o), []).append(o[END] - (o[DUE] if from_due else o[START]))
    return out


def size_class(o):
    return "relay" if o[SAMPLES] >= RELAY_MIN_SAMPLES else "push"


def op_name(o):
    return o[NAME]


def self_times(spans):
    """Self time per span: its duration minus the part of it that its
    children cover (children clipped to the parent's interval)."""
    kids = {}
    for s in spans:
        kids.setdefault(s[1], []).append(s)
    out = {}
    for s in spans:
        sid, start, end = s[0], s[5], s[6]
        ivs = sorted((max(c[5], start), min(c[6], end)) for c in kids.get(sid, []))
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in ivs:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[sid] = (end - start) - covered
    return out


def layer_self_ms(spans):
    st = self_times(spans)
    per = {k: 0.0 for k in SPAN_LAYERS}
    for s in spans:
        layer = "spark" if s[3].startswith("spark.") else s[3]
        if layer in per:
            per[layer] += st[s[0]]
    return per


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def write_kind(raw):
    """The op kind of the writes a workload measures, for latency and
    capacity: the capacity batch (ingest) or the warm set-ups' preloads
    (dashboard), both fixed batches drained by 4 closed-loop writers. A
    closed-loop write is due when its writer is free, so its due time is
    its send time. The open-loop ladder's writes spread by up to 30%
    between runs at partial load, so they are reported per layer
    (`load.ladder_write_mean_ms`), not gated."""
    return "capacity" if raw["workload"] == "ingest" else "preload"


def end_to_end(raw):
    """End-to-end metrics and the notes that explain them."""
    ops = raw["ops"]
    ingest = raw["workload"] == "ingest"
    notes = []
    wkind, rkind = write_kind(raw), "verify" if ingest else "read"
    wl = latencies(ops, wkind, True)
    rl = latencies(ops, rkind, False)
    wt, wp, wn = tail(wl)
    rt, rp, rn = tail(rl)
    notes.append(f"write latency over {wn} {wkind} ops (from due time): "
                 f"mean {statistics.mean(wl):.1f} ms, p50 {_median(wl):.1f} ms, "
                 f"tail p{wp:.1f} {wt:.1f} ms")
    notes.append(f"read latency over {rn} {rkind} ops: p50 {_median(rl):.1f} ms, "
                 f"tail p{rp:.1f} {rt:.1f} ms")
    for cls, xs in sorted(grouped(ops, wkind, True, size_class).items()):
        notes.append(f"  {wkind} {cls}: n={len(xs)} mean {statistics.mean(xs):.1f} ms, "
                     f"p50 {_median(xs):.1f} ms")
    for name, xs in sorted(grouped(ops, rkind, False, op_name).items()):
        notes.append(f"  {rkind} {name}: n={len(xs)} p50 {_median(xs):.1f} ms, "
                     f"max {max(xs):.1f} ms")

    reads = [o for o in ops if o[KIND] == rkind and o[OK]]
    if ingest:
        span_ms = max(o[END] for o in reads) - min(o[START] for o in reads)
    else:
        span_ms = raw["measure"]["end_ms"] - raw["measure"]["start_ms"]
    batch = [o for o in ops if o[KIND] == wkind]
    acked = sum(o[SAMPLES] for o in batch if o[OK])
    walls = {}
    for o in batch:
        a, b = walls.get(o[TAG], (o[START], o[END]))
        walls[o[TAG]] = (min(a, o[START]), max(b, o[END]))
    wspan = sum(b - a for a, b in walls.values())
    notes.append(f"capacity: {acked} samples acknowledged in {wspan / 1000.0:.2f} s "
                 f"by 4 closed-loop writers ({len(batch)} {wkind} writes in "
                 f"{len(walls)} batches)")

    attempted = [o for o in ops if o[KIND] in ("write", "capacity", "read", "preload",
                                                "verify", "suite", "control")]
    failed = [o for o in attempted if not o[OK]]
    setup = raw["setup_s"]
    metrics = {
        "setup_s": (raw["boot_s"] + statistics.median(setup), "s"),
        # the mean, not the median: a run affords 16 to 24 writes, and
        # their median jumps between neighbouring order statistics
        "write_mean_ms": (statistics.mean(wl), "ms"),
        "write_tail_ms": (wt, "ms"),
        "ingest_samples_per_s": (acked / (wspan / 1000.0), "samples/s"),
        "read_p50_ms": (_median(rl), "ms"),
        "read_tail_ms": (rt, "ms"),
        "reads_per_s": (len(reads) / (span_ms / 1000.0), "ops/s"),
        "ok_share": (1.0 - len(failed) / len(attempted), "ratio"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return metrics, attempted, failed, notes


def rungs(raw):
    """Per-rung ladder results: offered and acknowledged rate, tail, and
    whether the rung meets the latency limit with no growing backlog,
    i.e. every one of its writes succeeded within the limit of its due
    time."""
    out = []
    ops = [o for o in raw["ops"] if o[KIND] == "write"]
    for k, r in enumerate(raw["rungs"]):
        mine = [o for o in ops if o[TAG] == f"rung{k}"]
        ok = [o for o in mine if o[OK]]
        lat = [o[END] - o[DUE] for o in ok]
        t, p, n = tail(lat)
        dur_s = (r["end_ms"] - r["start_ms"]) / 1000.0
        passed = bool(mine) and len(ok) == len(mine) and max(lat) <= raw["write_limit_ms"]
        out.append({"rate_rps": r["rate_rps"], "offered_sps": r["offered_samples"] / dur_s,
                    "acked_sps": sum(o[SAMPLES] for o in ok) / dur_s, "tail_ms": t,
                    "tail_pct": p, "n": n, "passed": passed})
    return out


def per_layer(raw, history_p50=None):
    """Per-layer metrics of a traced run."""
    ops = raw["ops"]
    m = dict(raw.get("layers", {}))
    http = [h for h in raw["http"] if h["route"] != "/api/v1/admin/metrics"]
    count = sum(h["count"] for h in http) or 1
    handler_ms = sum(h["handler_us"] for h in http) / 1000.0 / count
    measured = _measured(raw)
    m["http.handler_ms"] = handler_ms
    m["http.queue_wait_ms"] = (sum(o[END] - o[DUE] for o in measured) / max(len(measured), 1)
                               - handler_ms)
    m["http.shed_503"] = sum(h["count"] for h in http if h["status"] == 503)
    m["http.timeout_408"] = sum(h["count"] for h in http if h["status"] == 408)
    m["http.error_5xx"] = sum(h["count"] for h in http if h["status"] >= 500)
    m["http.absent_series_5xx"] = sum(1 for o in ops if o[KIND] == "defect" and o[STATUS] >= 500)
    m["store.live_files"] = raw["store"]["data_files"]
    m["store.bytes_per_sample"] = raw["store"]["bytes"] / raw["store"]["samples"]

    qs = [q for q in raw.get("queries", []) if q.get("ok")]
    m["queries.build_s"] = sum(q["build_s"] for q in qs)
    m["queries.action_s"] = sum(q["action_s"] for q in qs)
    m["queries.plan_s"] = sum(q["plan_s"] for q in qs)
    m["queries.jobs_per_query"] = sum(q["jobs"] for q in qs) / max(len(qs), 1)
    m["pipeline.checkpoint_jobs"] = sum(q["checkpoint_jobs"] for q in qs)
    for f in QUERY_FAMILIES:
        m[f"queries.family_wall_s.{f}"] = sum(q["build_s"] + q["action_s"]
                                             for q in qs if q["family"] == f)

    for layer, v in layer_self_ms(raw.get("spans", [])).items():
        m[f"trace.self_ms.{layer}"] = v
    m["trace.p50_delta_ms"] = 0.0 if history_p50 is None else client_p50(raw) - history_p50

    m["load.loadavg_start"] = (raw["loadavg_start"] or [0.0])[0]
    m["load.loadavg_end"] = (raw["loadavg_end"] or [0.0])[0]
    m["load.generator_late_ms"] = (_median(raw["generator_late_ms"]) if raw["generator_late_ms"]
                                   else _median(closed_loop_gaps(ops, "read")))
    m["load.control_ms"] = control_ms(raw)
    m["suite.wall_s"] = raw["suite_wall_s"]
    m["setup.boot_s"] = raw["boot_s"]
    m["setup.cold_s"] = raw["setup_s"][0]
    m["setup.warm_s"] = statistics.median(raw["setup_s"][1:])
    passed = [r for r in rungs(raw) if r["passed"]]
    m["load.highest_passing_rps"] = passed[-1]["rate_rps"] if passed else 0.0
    ladder = latencies(ops, "write", True)
    m["load.ladder_write_mean_ms"] = statistics.mean(ladder) if ladder else 0.0

    writes = grouped(ops, write_kind(raw), True, size_class)
    for cls in ("push", "relay"):
        m[f"writes.mean_ms.{cls}"] = statistics.mean(writes[cls]) if cls in writes else 0.0
    reads = grouped(ops, "read", False, op_name)
    for k in READ_KINDS:
        m[f"reads.p50_ms.{k}"] = _median(reads.get(k, []))
    return m


def closed_loop_gaps(ops, kind):
    """How late closed-loop clients sent: for each operation, the time
    since the nearest earlier answer, which is almost always its own
    client's previous one (the gap is building the next request)."""
    xs = sorted((o[START], o[END]) for o in ops if o[KIND] == kind)
    ends = sorted(e for _, e in xs)
    gaps = []
    for s, _ in xs:
        before = [e for e in ends if e <= s]
        if before:
            gaps.append(s - before[-1])
    return gaps


def _measured(raw):
    """The successful writes and reads due inside the measured phase."""
    m0, m1 = raw["measure"]["start_ms"], raw["measure"]["end_ms"]
    return [o for o in raw["ops"]
            if o[KIND] in ("write", "capacity", "read") and o[OK] and m0 <= o[DUE] <= m1]


def client_p50(raw):
    """Median client latency (from due time) of the measured phase."""
    xs = [o[END] - o[DUE] for o in _measured(raw)]
    return statistics.median(xs) if xs else None


def control_ms(raw):
    """Median latency of the fixed control operation (GET /series)."""
    return _median([o[END] - o[START] for o in raw["ops"] if o[KIND] == "control" and o[OK]])
