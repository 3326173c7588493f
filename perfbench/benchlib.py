"""Pure logic of the graft benchmark: query order, statistics, result
hashing and metric aggregation. Kept free of process handling so the
unit tests in perfbench/tests can check it directly."""
import functools
import hashlib
import importlib.util
import json
import math
import os
import statistics

# Each workload is a list of registered query names (SparkEntry.queries).
# Why each set was chosen, and what it leaves out, is in README.md.
WORKLOADS = {
    "mr-sql": [
        "q_wordcount", "q_grep", "q_pipe_wordcount", "q_mr_job",
        "q_range_join", "q_interval_join", "q_sql_range", "q1_agg",
    ],
    "stream-replay": [
        "q_stream_dedup_base", "q_stream_topk", "q_stream_hist",
        "q_stream_enrich", "q_stream_cms",
    ],
    # Runnable, but not in BENCHMARK.json: see README.md, "Time budget".
    "graph-iter": ["q_bfs_reach", "q_katz", "q_cc_star"],
    "dedup-join": [
        "q_sql_fuzzy", "q_fuzzy_pairs", "q_sql_jaccard", "q_dedup_near",
        "q_sql_hamming",
    ],
}


# Nominal time of one timed pass on a 4-core x86-64 VM: a run makes
# round(seconds / this) passes, so every run of a workload does the same work.
PASS_SECONDS = {"mr-sql": 7.0, "stream-replay": 7.5, "graph-iter": 8.0,
                "dedup-join": 10.0}


def pass_kinds(workload, seconds, trace):
    """Whether each timed pass of a run is traced, in pass order. A traced
    run alternates untraced and traced passes, starting and ending with an
    untraced one, at least five in all: the first sf0.1 pass runs colder
    than the rest, and the median over three or more untraced passes
    leaves it out, while warming over the run falls on both kinds alike."""
    n = max(1, round(seconds / PASS_SECONDS[workload]))
    if not trace:
        return [False] * n
    half = max(2, (n + 1) // 2)
    return [i % 2 == 1 for i in range(2 * half + 1)]


def permutation(names, seed, label):
    """The query order of one pass: a deterministic shuffle keyed by the
    seed and the pass label, the same on every platform and Python."""
    def key(name):
        return hashlib.sha256(f"{seed}/{label}/{name}".encode()).hexdigest()
    return sorted(names, key=key)


def tail_percentile(samples, beyond=10):
    """The highest whole percentile with at least `beyond` samples above
    it, by the nearest-rank rule. Returns (percentile, value, n_beyond),
    or None when there are too few samples for any percentile."""
    xs = sorted(samples)
    n = len(xs)
    for p in range(99, 0, -1):
        rank = math.ceil(p * n / 100)
        if rank >= 1 and n - rank >= beyond:
            return p, xs[rank - 1], n - rank
    return None


@functools.cache
def compare_norm():
    """The value normalization of tools/compare.py, loaded from the
    checkout so the result hash follows that file's rules."""
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "compare.py")
    spec = importlib.util.spec_from_file_location("compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.norm


def result_hash(df):
    """Order-insensitive hash of a pandas frame under compare.py's rules:
    columns sorted by name, values normalized, rows sorted."""
    norm = compare_norm()
    cols = sorted(df.columns)
    rows = sorted(tuple(norm(v) for v in r)
                  for r in df[cols].itertuples(index=False))
    blob = json.dumps([cols, rows], separators=(",", ":"))
    return {"rows": len(rows), "hash": hashlib.sha256(blob.encode()).hexdigest()}


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pass_sums(samples, key=lambda s: s["s"]):
    """Sum of `key` per timed pass, in pass order."""
    sums = {}
    for s in samples:
        sums[s["pass"]] = sums.get(s["pass"], 0.0) + key(s)
    return [sums[p] for p in sorted(sums)]


def median_pass(samples):
    """A pass made of each query's median sample: with several passes it
    is steadier than the median pass, with one pass it is that pass."""
    by_name = {}
    for s in samples:
        by_name.setdefault(s["name"], []).append(s["s"])
    return sum(median(v) for v in by_name.values())


def gc_counts(record):
    """GCs of the whole run, and where the timed passes saw them: inside
    a query sample, or as full GCs inside a release of cached blocks."""
    timed = [s for s in record["samples"] if s["phase"] == "timed"]
    return {
        "run": record["gc_total"],
        "run_full": record["full_gc_total"],
        "in_samples": sum(s["gc"] for s in timed),
        "full_in_samples": sum(s["full_gc"] for s in timed),
        "full_in_releases": sum(s["release_full_gc"] for s in timed),
    }


def warmup_s(record):
    """Wall time of the warm-up pass: the sum of its samples."""
    return sum(s["s"] for s in record["samples"] if s["phase"] == "warmup")


def end_to_end(record, setup_s):
    """End-to-end metrics of an untraced run record (samples.json), and
    the ones only printed: see README.md for why they carry no bound."""
    samples = [s for s in record["samples"] if s["phase"] == "timed" and not s["traced"]]
    times = [s["s"] for s in samples]
    metrics = {"setup_s": setup_s, "total_s": median_pass(samples)}
    printed = {"query_p50_s": median(times), "query_tail": tail_percentile(times),
               "samples": len(times), "heap_peak_mb": record["heap_peak_mb"],
               "warmup_s": warmup_s(record)}
    return metrics, printed


# Per-layer metrics summed per traced pass; the run reports the median pass.
LAYER_SUMS = [
    "GraftSession.release_s", "GraftSession.leaked_storage_mb", "GraftSession.forced_gc",
    "operators.build_s", "operators.build_jobs", "operators.checkpointed_rdds",
    "catalyst.analysis_s", "catalyst.optimize_s", "catalyst.physical_s", "catalyst.rule_s",
    "plans.rule_s", "plans.rule_runs", "plans.rule_effective_runs",
    "codegen.compiles", "codegen.compile_s",
    "exec.jobs", "exec.stages", "exec.tasks",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s", "exec.task_wait_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.spill_mb", "exec.input_mb",
    "exec.driver_only_s",
    "streaming.batches", "streaming.trigger_s", "streaming.add_batch_s",
    "streaming.query_planning_s", "streaming.wal_commit_s", "streaming.commit_offsets_s",
    "streaming.latest_offset_s", "streaming.state_commit_s", "streaming.state_rows",
    "streaming.start_s",
    "jvm.gc_s", "jvm.gc_count", "jvm.jit_s",
]


def unit(name):
    """Unit of a metric, from its name's suffix."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_frac", ".overhead")):
        return "ratio"
    return "count"


def per_layer(record, build_s, cores):
    """Per-layer metrics of a traced run record: the median traced pass of
    each per-query sum, plus the ratios."""
    timed = [s for s in record["samples"] if s["phase"] == "timed"]
    traced = [s for s in timed if s["traced"]]
    plain = [s for s in timed if not s["traced"]]
    by_qid = {t["qid"]: t["m"] for t in record["traced"]}
    for s in traced:
        s["m"] = by_qid.get(s["qid"], {})
    out = {"GraftSession.build_s": build_s, "warmup_s": warmup_s(record)}
    for key in LAYER_SUMS:
        out[key] = median(pass_sums(traced, lambda s, k=key: s["m"].get(k, 0.0)))
    out["jvm.gc_in_window"] = median(pass_sums(traced, lambda s: s["gc"]))
    out["jvm.full_gc_in_window"] = median(pass_sums(traced, lambda s: s["full_gc"]))
    walls = pass_sums(traced, lambda s: (s["w1"] - s["w0"]) / 1e3)
    runs = pass_sums(traced, lambda s: s["m"].get("exec.task_run_s", 0.0))
    out["exec.busy_frac"] = median([r / (w * cores) for r, w in zip(runs, walls) if w > 0])
    untraced_total = median_pass(plain)
    traced_total = median_pass(traced)
    out["trace.overhead"] = traced_total / untraced_total if untraced_total else 0.0
    out["exec.driver_only_frac"] = out["exec.driver_only_s"] / traced_total if traced_total else 0.0
    out["trace.warmup_frac"] = out["warmup_s"] / untraced_total if untraced_total else 0.0
    return out
