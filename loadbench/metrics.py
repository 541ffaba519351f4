"""Turns one harness run record into the benchmark's metrics: the
end-to-end set (untraced window) or the per-layer set (traced run)."""

import stats

END_TO_END = [  # name, unit
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("op_tail_ms", "ms"),
    ("store_bytes_per_input_byte", "ratio"),
    ("heap_live_mb", "MiB"),
]

PER_LAYER = [  # name, unit, better
    ("server.rows_per_flush", "count", "higher"),
    ("server.posts_per_flush", "count", "higher"),
    ("server.self_ms", "ms", "lower"),
    ("server.plan_cache_hit_ratio", "ratio", "higher"),
    ("server.rejected", "count", "lower"),
    ("server.stale_retries", "count", "lower"),
    ("server.days_scanned", "count", "lower"),
    ("logql.parse_ms", "ms", "lower"),
    ("logql.compile_ms", "ms", "lower"),
    ("spark.analysis_ms", "ms", "lower"),
    ("spark.optimization_ms", "ms", "lower"),
    ("spark.planning_ms", "ms", "lower"),
    ("spark.jobs_per_op", "count", "lower"),
    ("spark.stages_per_op", "count", "lower"),
    ("spark.tasks_per_op", "count", "lower"),
    ("spark.task_run_ms_per_op", "ms", "lower"),
    ("spark.task_cpu_ms_per_op", "ms", "lower"),
    ("spark.task_gc_ms_per_op", "ms", "lower"),
    ("spark.task_wait_ms_per_op", "ms", "lower"),
    ("spark.input_bytes_per_op", "B", "lower"),
    ("spark.input_rows_per_result_row", "ratio", "lower"),
    ("spark.shuffle_bytes_per_op", "B", "lower"),
    ("spark.spill_bytes", "B", "lower"),
    ("spark.output_bytes_per_row", "B", "lower"),
    ("streaming.append_ms", "ms", "lower"),
    ("streaming.drive_planning_ms", "ms", "lower"),
    ("streaming.drive_wal_ms", "ms", "lower"),
    ("streaming.drive_add_batch_ms", "ms", "lower"),
    ("store.files", "count", "lower"),
    ("store.files_per_flush", "count", "lower"),
    ("store.bytes", "B", "lower"),
    ("store.compaction_ms", "ms", "lower"),
    ("store.compaction_bytes_rewritten", "B", "lower"),
    ("store.lastn_ms", "ms", "lower"),
    ("store.bloom_probe_ms", "ms", "lower"),
    ("store.bloom_kept_ratio", "ratio", "lower"),
] + [(f"ops.{f}{k}", "s", "lower")
     for f in ("lql", "dedup", "sim", "text", "multimodal", "stream", "store", "other")
     for k in ("_s", "_cpu_s")] + [
    ("jvm.gc_ms", "ms", "lower"),
    ("jvm.gc_count", "count", "lower"),
    ("jvm.jit_ms", "ms", "lower"),
    ("trace.coverage_median", "ratio", "higher"),
    ("trace.ops_covered_90", "ratio", "higher"),
    ("trace.overhead_p50_ms", "ms", "lower"),
    ("trace.overhead_ops_per_s", "1/s", "lower"),
]

# Tail percentile per workload: the highest whose sample count the
# workload's sizing always reaches with ten samples beyond it. It is fixed
# so that every run of a workload reports the same percentile.
TAIL_PCT = {"ingest": 75.0, "analytics": 80.0}

# The workload-level names each figure goes by in the detail line.
WORKLOAD_NAMES = {
    "ingest": {"ops_per_s": None, "op_p50_ms": "ingest_post_p50_ms",
               "op_tail_ms": "ingest_post_tail_ms"},
    "analytics": {"ops_per_s": "queries_per_s", "op_p50_ms": "query_p50_ms",
                  "op_tail_ms": "query_tail_ms"},
}


def window_figures(wins, tail_pct):
    """Throughput, median and tail of the ops of one or more timed windows
    taken together."""
    ops = [o for w in wins for o in w["ops"]]
    if not ops:
        return None
    ms = [(o["t1"] - o["t0"]) / 1e6 for o in ops]
    secs = sum((max(o["t1"] for o in w["ops"]) - w["t0"]) / 1e9 for w in wins if w["ops"])
    return {"n": len(ops), "ops_per_s": len(ops) / secs, "p50_ms": stats.median(ms),
            "tail": stats.tail(ms, tail_pct), "rows": sum(o["rows"] for o in ops), "secs": secs}


def span_figures(spans):
    kids = stats.children_of(spans)
    ops = [s for s in spans if s["name"].startswith("op.")]
    cov = [stats.coverage(o, kids.get(o["id"], [])) for o in ops]
    self_ms = [stats.self_time(o, kids.get(o["id"], [])) / 1e6 for o in ops]
    return {
        "trace.coverage_median": stats.median(cov) if cov else 0.0,
        "trace.ops_covered_90": (sum(1 for c in cov if c >= 0.9) / len(cov)) if cov else 0.0,
        "op_self_ms": (sum(self_ms) / len(self_ms)) if self_ms else 0.0,
    }


def summarize(rec):
    """(detail, result): `detail` carries every figure by its workload name
    with percentiles, sample counts, checks, calibration and stamp;
    `result` is the contract line."""
    wl = rec["workload"]
    wins = {w["label"]: w for w in rec["windows"]}
    # a traced run splits its untraced window in two halves around the
    # traced one ("plain", "plain.2"); they are taken together
    plains = [w for w in rec["windows"] if w["label"].split(".")[0] == "plain"]
    plain_ops = [o for w in plains for o in w["ops"]]
    plain = window_figures(plains, TAIL_PCT[wl])
    checks = rec["checks"]
    problems = [c["name"] + ": " + c["detail"] for c in checks if not c["ok"]]
    if plain is None:
        problems.append("no ops in the timed window")
    elif plain["tail"] is None:
        problems.append(f"only {plain['n']} samples: fewer than {stats.MIN_BEYOND} "
                        f"beyond p{TAIL_PCT[wl]:g}")
    # the harness counts every op of the run; the window's own ops are
    # re-checked here from their status codes
    attempted, failed = rec["attempted"], rec["failed"]
    w_attempted, w_failed = stats.failures(plain_ops)
    if failed or w_failed:
        problems.append(f"{failed} of {attempted} ops failed "
                        f"({w_failed} of {w_attempted} in the window)")
    correct = not problems

    e2e = {}
    if plain is not None:
        e2e = {
            "setup_s": stats.median(rec["setup_s"]),
            "ops_per_s": plain["ops_per_s"],
            "op_p50_ms": plain["p50_ms"],
            "op_tail_ms": plain["tail"]["value"] if plain["tail"] else None,
            "store_bytes_per_input_byte": rec["values"]["store_bytes_per_input_byte"],
            "heap_live_mb": rec["heap_live_mb"],
        }
    detail = {"workload": wl, "seed": rec["seed"], "correct": correct,
              "problems": problems, "setup_s_all": rec["setup_s"],
              "calib": rec["calib"], "stamp": rec["stamp"], "checks": checks,
              "jvm_window": [w["jvm"] for w in plains], "run_s": rec["run_s"]}
    if plain is not None:
        names = WORKLOAD_NAMES[wl]
        for k in ("ops_per_s", "op_p50_ms", "op_tail_ms"):
            if names[k]:
                detail[names[k]] = e2e[k]
        if wl == "ingest":
            detail["ingest_rows_per_s"] = plain["rows"] / plain["secs"]
        if plain["tail"]:
            t = plain["tail"]
            detail["tail_pct"], detail["tail_n"], detail["tail_beyond"] = t["pct"], t["n"], t["beyond"]
        by_cls = {}
        for o in plain_ops:
            by_cls.setdefault(o["cls"], []).append((o["t1"] - o["t0"]) / 1e6)
        detail["class_p50_ms"] = {k: stats.median(v) for k, v in sorted(by_cls.items())}
        for k in ("setup_s", "store_bytes_per_input_byte", "heap_live_mb"):
            detail[k] = e2e[k]

    if rec["trace"]:
        traced = wins["traced"]
        tfig = window_figures([traced], TAIL_PCT[wl])
        read = wins.get("read", {"layers": {}, "ops": []})
        layer = {n: 0.0 for n, _, _ in PER_LAYER}
        for k, v in (list(traced["layers"].items()) + list(read["layers"].items())
                     + list(rec["values"].items())):
            if k in layer and isinstance(v, (int, float)):
                layer[k] = float(v)
        for k in ("gc_ms", "gc_count", "jit_ms"):
            layer["jvm." + k] = float(traced["jvm"][k])
        sf = span_figures(traced["spans"])
        layer["trace.coverage_median"] = sf["trace.coverage_median"]
        layer["trace.ops_covered_90"] = sf["trace.ops_covered_90"]
        if wl == "ingest":
            layer["server.self_ms"] = sf["op_self_ms"]
        if tfig and plain:
            layer["trace.overhead_p50_ms"] = tfig["p50_ms"] - plain["p50_ms"]
            layer["trace.overhead_ops_per_s"] = plain["ops_per_s"] - tfig["ops_per_s"]
        units = {n: u for n, u, _ in PER_LAYER}
        metrics = {k: {"value": layer[k], "unit": units[k]} for k, _, _ in PER_LAYER}
        detail["traced_window"] = {"n": tfig["n"] if tfig else 0,
                                   "op_p50_ms": tfig["p50_ms"] if tfig else None}
        if read["ops"]:
            by_cls = {}
            for o in read["ops"]:
                by_cls.setdefault(o["cls"], []).append((o["t1"] - o["t0"]) / 1e6)
            # `needle` is the newest-rows (`limit=50`) request class
            detail["read_probe"] = {"n": len(read["ops"]),
                                    "class_p50_ms": {k: stats.median(v) for k, v in sorted(by_cls.items())}}
    else:
        units = dict(END_TO_END)
        # a run short of tail samples is incorrect and reports no tail
        metrics = {k: {"value": e2e[k], "unit": units[k]}
                   for k, _ in END_TO_END if e2e.get(k) is not None}
    result = {"correct": correct, "attempted": max(1, attempted), "failed": failed,
              "metrics": metrics}
    return detail, result
