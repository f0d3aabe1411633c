"""Metric math of the benchmark: turns the raw record the JVM harness writes
into the end-to-end metrics (untraced run) or the per-layer metrics (traced
run). Pure functions, covered by test_metrics.py."""
# Phases of an op, all inside its timed window; "execute" and "merge" are
# the noop writes.
OP_PHASES = ("construct", "execute", "drain", "merge")


def median(xs):
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no values")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def tail(xs, beyond=10):
    """The op time at the highest percentile that still has `beyond`
    samples above it: the (beyond+1)-th largest sample.
    Returns (value, percentile, n)."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond any of them")
    return s[n - beyond - 1], 100.0 * (n - beyond) / n, n


def core_time(task_run_s, wall_s, cores):
    """(idle_core_s, core_util): core time the window offered but no task
    used, and the share of it tasks did use."""
    offered = wall_s * cores
    return offered - task_run_s, (task_run_s / offered if offered > 0 else 0.0)


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover (ms)."""
    clipped = [(max(c["start"], span["start"]), min(c["end"], span["end"]))
               for c in children]
    return (span["end"] - span["start"]) - union_length(
        [(s, e) for s, e in clipped if e > s])


def op_time(op):
    return sum(op["phases"].get(p, 0.0) for p in OP_PHASES)


def failures(record, expected):
    """(attempted, failed, problems): every op run counts as attempted; an
    op fails when it threw, or when its verified output differs from the
    expected digest (catalog ops, cold pass) or the batch reference
    (ingest, every pass)."""
    attempted, failed, problems = 0, 0, []
    for p in record["passes"]:
        for op in p["ops"]:
            attempted += 1
            if op["error"]:
                failed += 1
                problems.append(f"pass {p['pass']} {op['op']}: {op['error']}")
            elif op["digest"] is not None and op["digest"] != expected.get(op["op"]):
                failed += 1
                problems.append(f"{op['op']}: digest {op['digest']} != "
                                f"expected {expected.get(op['op'])}")
        if "ingest_digest" in p and p["ingest_digest"] != record["ingest_reference"]:
            failed += 1
            problems.append(f"pass {p['pass']}: merged view {p['ingest_digest']} != "
                            f"batch pipeline {record['ingest_reference']}")
    return attempted, failed, problems


def timed_passes(record):
    """The timed warm passes: all passes after the cold pass and the
    untimed settle passes."""
    return record["passes"][1 + record["settle_passes"]:]


def end_to_end(record):
    """The seven end-to-end values of one untraced run, minus fail_ratio,
    which the result line carries as failed / attempted."""
    cold, warm = record["passes"][0], timed_passes(record)
    warm_ops = [op_time(op) for p in warm for op in p["ops"] if not op["error"]]
    value, pct, n = tail(warm_ops)
    return {
        "setup_s": record["setup_s"],
        "cold_pass_s": sum(op_time(op) for op in cold["ops"]),
        "warm_pass_s": median([sum(op_time(op) for op in p["ops"]) for p in warm]),
        "op_p50_s": median(warm_ops),
        "op_tail_s": value,
        "peak_live_heap_mb": record["peak_live_heap_bytes"] / 2.0 ** 20,
    }, {"op_tail_percentile": pct, "op_tail_n": n,
        "pass_s": [sum(op_time(op) for op in p["ops"]) for p in record["passes"]]}


def per_layer(record):
    """Per-layer values of one traced run: the median over the timed warm
    passes of each pass's total, plus the kernel rates."""
    tr = record["trace"]
    cores = record["cores"]
    spans = tr["spans"]
    jobs = {j["id"]: j for j in tr["jobs"] if "end" in j}
    stages_of = {}
    for s in tr["stages"]:
        stages_of.setdefault(s["job"], []).append(s)
    pass_span = {s["name"]: s for s in spans if s["kind"] == "pass"}
    children = {}
    for j in jobs.values():
        if j["span"] is not None:
            children.setdefault(int(j["span"]), []).append(j)

    def one_pass(p):
        n = p["pass"]
        ops = p["ops"]
        phase = {k: sum(op["phases"].get(k, 0.0) for op in ops) for k in OP_PHASES}
        wall = sum(op_time(op) for op in ops)
        pjobs = [j for j in jobs.values()
                 if j["pass"] == str(n) and j["phase"] in OP_PHASES]
        pstages = [s for j in pjobs for s in stages_of.get(j["id"], [])]
        total = lambda key, ss=pstages: sum(s[key] for s in ss)
        run_s = total("run_ms") / 1e3
        idle, util = core_time(run_s, wall, cores)
        file_stages = [s for s in pstages if s["file_scan"]]
        block_stages = [s for s in pstages if not s["file_scan"]]
        construct = phase["construct"]
        noop = phase["execute"] + phase["merge"]
        ps = pass_span[f"pass{n}"]
        pspans = [s for s in spans if s["kind"] in OP_PHASES and
                  ps["start"] <= s["start"] and s["end"] <= ps["end"]]

        def span_self(kind):
            return sum(self_time(s, children.get(s["id"], []))
                       for s in pspans if s["kind"] == kind) / 1e3

        batches = [b for b in tr["batches"] if ps["start"] <= b["start"] <= ps["end"]]
        input_bytes = p.get("input_bytes", 0)
        written = p.get("store_bytes", 0) + p.get("checkpoint_bytes", 0)
        return {
            "trace.warm_pass_s": wall,
            "queries.construct_s": construct,
            "queries.construct_self_s": span_self("construct"),
            "queries.construct_jobs": sum(1 for j in pjobs if j["phase"] == "construct"),
            "queries.construct_share": construct / (construct + noop) if construct + noop else 0.0,
            "bridge.checkpoint_blocks": sum(j["blocks"] for j in pjobs),
            "bridge.checkpoint_bytes": sum(j["block_bytes"] for j in pjobs),
            "bridge.block_read_bytes": total("in_bytes", block_stages),
            "bridge.resident_bytes_end": p.get("resident_bytes_end", 0),
            "exec.execute_s": noop,
            "exec.execute_self_s": span_self("execute") + span_self("merge"),
            "exec.jobs": len(pjobs),
            "exec.stages": len(pstages),
            "exec.tasks": total("tasks"),
            "exec.tasks_per_stage": total("tasks") / len(pstages) if pstages else 0.0,
            "exec.task_run_s": run_s,
            "exec.task_cpu_s": total("cpu_ns") / 1e9,
            "exec.task_gc_s": total("gc_ms") / 1e3,
            "exec.idle_core_s": idle,
            "exec.core_util": util,
            "exec.shuffle_write_bytes": total("shuffle_write"),
            "exec.shuffle_read_bytes": total("shuffle_read"),
            "exec.spill_bytes": total("spill_disk"),
            "exec.peak_exec_mem_max": max([s["peak_mem_max"] for s in pstages], default=0),
            "exec.failed_tasks": total("failed_tasks"),
            "sources.scan_bytes": total("in_bytes", file_stages),
            "sources.scan_rows": total("in_records", file_stages),
            "sources.output_bytes": total("out_bytes"),
            "streaming.batches": len(batches),
            "streaming.drain_s": phase["drain"],
            "streaming.merge_s": phase["merge"],
            "streaming.add_batch_ms": sum(b["add_batch_ms"] for b in batches),
            "streaming.wal_commit_ms": sum(b["wal_commit_ms"] for b in batches),
            "streaming.commit_offsets_ms": sum(b["commit_offsets_ms"] for b in batches),
            "streaming.query_planning_ms": sum(b["query_planning_ms"] for b in batches),
            "streaming.store_bytes": p.get("store_bytes", 0),
            "streaming.checkpoint_bytes": p.get("checkpoint_bytes", 0),
            "streaming.write_amp": written / input_bytes if input_bytes else 0.0,
            "jvm.driver_gc_s": sum(op["gc_s"] for op in ops),
        }

    rows = [one_pass(p) for p in timed_passes(record)]
    out = {k: median([r[k] for r in rows]) for k in rows[0]}
    for name, rate in record["functions"].items():
        out[f"functions.{name}_rows_per_s"] = rate
    return out
