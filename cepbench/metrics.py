"""Pure part of the benchmark: turns the JVM's raw numbers and the check
outcomes into the reported result. No I/O here, so the tests can drive it.
"""

import math
import re
from collections import Counter

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# (name, unit, better) of every end-to-end metric, reported with --trace 0.
END_TO_END = [
    ("setup_s", "s", "lower"),
    ("pass_s_p50", "s", "lower"),
    ("events_per_s", "1/s", "higher"),
]

_SUITE_MODULES = ("relational", "pipeline", "operators", "sql")
_SUITE_FIELDS = [("build_s", "s"), ("analysis_s", "s"), ("optimization_s", "s"),
                 ("planning_s", "s"), ("codegen_s", "s"), ("exec_s", "s"),
                 ("jobs", "count"), ("shuffle_bytes", "B")]

# (name, unit, better) of every per-layer metric, reported with --trace 1.
PER_LAYER = [
    ("sources.scan_s", "s", "lower"),
    ("sources.rows", "count", "higher"),
    ("pattern.nfa_s", "s", "lower"),
    ("pattern.nfa_events_per_s", "1/s", "higher"),
    ("pattern.hot_key_nfa_s", "s", "lower"),
    ("pattern.hot_key_events", "count", "lower"),
    ("pattern.live_partials_max", "count", "lower"),
    ("pattern.matches", "count", "higher"),
    ("pattern.timeouts", "count", "higher"),
    ("operators.dsl_job_s", "s", "lower"),
    ("operators.shuffle_write_bytes", "B", "lower"),
    ("operators.shuffle_read_bytes", "B", "lower"),
    ("operators.spill_bytes", "B", "lower"),
    ("operators.tasks", "count", "lower"),
    ("operators.task_skew", "ratio", "lower"),
    ("sql.parse_ms", "ms", "lower"),
    ("sql.build_ms", "ms", "lower"),
    ("sql.mr_job_s", "s", "lower"),
    ("sql.shuffle_bytes", "B", "lower"),
    ("sql.task_skew", "ratio", "lower"),
    ("streaming.batch_ms_p50", "ms", "lower"),
    ("streaming.batch_ms_tail", "ms", "lower"),
    ("streaming.batch_ms_tail_pct", "%", "higher"),
    ("streaming.batch_ms_tail_beyond", "count", "higher"),
    ("streaming.triggers", "count", "lower"),
    ("streaming.add_batch_ms_p50", "ms", "lower"),
    ("streaming.planning_ms_p50", "ms", "lower"),
    ("streaming.commit_ms_p50", "ms", "lower"),
    ("streaming.timer_trigger_ms_p50", "ms", "lower"),
    ("streaming.state_commit_ms", "ms", "lower"),
    ("streaming.state_rows_updated", "count", "lower"),
    ("streaming.state_memory_bytes", "B", "lower"),
    ("streaming.state_rows_total", "count", "lower"),
] + [(f"{m}.suite_{f}", u, "lower") for m in _SUITE_MODULES for f, u in _SUITE_FIELDS] + [
    ("harness.query_s_p50", "s", "lower"),
    ("harness.query_s_tail", "s", "lower"),
    ("harness.query_s_tail_pct", "%", "higher"),
    ("harness.query_s_tail_beyond", "count", "higher"),
    ("harness.warm_build_s.events_first_touch", "s", "lower"),
    ("harness.warm_failures", "count", "lower"),
    ("harness.failed_ratio", "ratio", "lower"),
    ("harness.trace_overhead", "ratio", "lower"),
    ("jvm.gc_s", "s", "lower"),
    ("jvm.peak_rss_mb", "MB", "lower"),
]

# Checks every run of a workload must make.
REQUIRED_CHECKS = {
    "cep_uniform": ("dsl_vs_nfa", "mr_vs_strict_nfa"),
    "cep_hotkey": ("dsl_vs_nfa", "mr_vs_strict_nfa"),
}
# Checks a traced run makes on top: the sweep's stream pass and the two
# low-balance entries of the declared-query suite.
TRACED_CHECKS = ("stream_vs_nfa", "suite_cep_low_balance", "suite_mr_low_balance")


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def tail(samples, min_beyond=10):
    """The highest percentile of TAIL_LADDER with at least `min_beyond`
    samples above it, by nearest rank: `(percentile, value, beyond)`. With
    too few samples for any, the median with its (smaller) count beyond."""
    s = sorted(samples)
    n = len(s)
    if n == 0:
        raise ValueError("tail of no samples")
    for p in TAIL_LADDER:
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
        if n - rank >= min_beyond:
            return p, s[rank - 1], n - rank
    rank = max(1, math.ceil(n / 2))
    return 50.0, s[rank - 1], n - rank


def compare_rows(got, want):
    """Multiset difference of two row lists: `(missing, extra)` counts."""
    g, w = Counter(got), Counter(want)
    return sum((w - g).values()), sum((g - w).values())


def valid_name(name):
    return bool(NAME_RE.match(name))


def valid_unit(unit):
    return bool(UNIT_RE.match(unit))


def _metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(raw):
    setup = raw["setup"]
    setup_s = setup["session_s"] + median(setup["stage_s"]) + setup["first_touch_s"] + setup["warm_s"]
    ok = [p for p in raw["passes"] if p["ok"]]
    if not ok:
        raise ValueError("no pass completed")
    return {
        "setup_s": setup_s,
        "pass_s_p50": median([p["wall_s"] for p in ok]),
        "events_per_s": median([p["events"] / p["busy_s"] for p in ok]),
    }


def trace_overhead(untraced, traced):
    """Slowdown of traced passes: passes run in blocks U T T U, so
    `untraced` and `traced` hold two passes per block, in order. The median
    over blocks of (traced time / untraced time) of each block cancels a
    linear drift of pass times within a block."""
    if not untraced or len(untraced) != len(traced) or len(untraced) % 2:
        raise ValueError(f"passes not in whole U T T U blocks: {len(untraced)} U, {len(traced)} T")
    return median([(traced[i] + traced[i + 1]) / (untraced[i] + untraced[i + 1])
                   for i in range(0, len(untraced), 2)])


def per_layer(raw, failed, attempted, peak_rss_mb):
    tr = raw["trace"]
    out = dict(tr["layers"])
    for key, prefix in (("stream_batch_ms", "streaming.batch_ms"), ("suite_query_s", "harness.query_s")):
        xs = tr[key]
        pct, value, beyond = tail(xs)
        out[f"{prefix}_p50"] = median(xs)
        out[f"{prefix}_tail"] = value
        out[f"{prefix}_tail_pct"] = pct
        out[f"{prefix}_tail_beyond"] = beyond
    out["harness.trace_overhead"] = trace_overhead(tr["untraced_pass_s"], tr["traced_pass_s"])
    out["harness.failed_ratio"] = failed / attempted
    out["jvm.peak_rss_mb"] = peak_rss_mb
    return out


def result(raw, outcomes, fixture_ok, peak_rss_mb, traced):
    """The benchmark's last line. `outcomes` maps each check name to its
    `(missing, extra)` rows; every errored operation, mismatched check,
    missing required check and a fixture mismatch counts as one failure."""
    failed = len(raw["errors"])
    failed += sum(1 for m, e in outcomes.values() if m or e)
    required = REQUIRED_CHECKS[raw["workload"]] + (TRACED_CHECKS if traced else ())
    failed += sum(1 for c in required if c not in outcomes)
    failed += 0 if fixture_ok else 1
    attempted = max(raw["attempted"], failed, 1)
    if traced:
        values = per_layer(raw, failed, attempted, peak_rss_mb)
        spec = PER_LAYER
    else:
        values = end_to_end(raw)
        spec = END_TO_END
    missing = [n for n, _, _ in spec if n not in values]
    if missing:
        raise ValueError(f"metrics not measured: {missing}")
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: _metric(values[n], u) for n, u, _ in spec},
    }


def check_shape(res, traced):
    """Raise ValueError unless `res` has the benchmark's output shape."""
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"keys {sorted(res)}")
    if not isinstance(res["correct"], bool):
        raise ValueError("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(res[k], int) or isinstance(res[k], bool):
            raise ValueError(f"{k} is not a whole number")
    if res["attempted"] < 1:
        raise ValueError("attempted < 1")
    spec = PER_LAYER if traced else END_TO_END
    if list(res["metrics"]) != [n for n, _, _ in spec]:
        raise ValueError("metric names differ from the declared list")
    for n, u, _ in spec:
        m = res["metrics"][n]
        if set(m) != {"value", "unit"} or m["unit"] != u:
            raise ValueError(f"metric {n}: {m}")
        if not isinstance(m["value"], (int, float)) or isinstance(m["value"], bool) \
                or not math.isfinite(m["value"]):
            raise ValueError(f"metric {n} is not a finite number")
