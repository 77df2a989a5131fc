#!/usr/bin/env python3
"""End-to-end benchmark of the graft cache library, driven from outside
through its public API.

    python3 perfbench/run.py --workload notebook_rehit --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark (perfbench/build.py), runs one workload
in one JVM on local[min(4, nproc)], checks every result, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones named in BENCHMARK.json;
with --trace 1 they are the per-layer ones, taken from spans and counters
recorded around each call the benchmark makes into a layer. Lines before the
last give the machine context, every end-to-end metric (also those that only
some workloads have), and with --trace 1 every per-layer metric. The spans
and the computed metrics are kept in .bench_out/ for perfbench/report.py.
Workloads and metrics are described in perfbench/spec.json.
"""
import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import fixtures  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((HERE / "spec.json").read_text())
DEFAULT_DATA = Path.home() / "testdata" / "sf0.1"  # the layout TESTDATA.md describes
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()
QUERIES = SPEC["workloads"]["pipeline_ops"]["inputs"]["queries"]
OUTCOMES = ["hit", "written", "below_threshold", "passthrough"]
PROBES = ["PlanFingerprint.getQueryPlan", "Freshness.inputDirModTimes",
          "CacheIO.readCacheIfExist", "Complexity.estimate"]
RUN_LIMIT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def gated_e2e():
    return [k for k, v in SPEC["end_to_end"].items() if not v.get("printed_only")]


def per_layer_specs():
    """(name, unit) of every per-layer metric, query.<name>.* expanded."""
    out = []
    for name, spec in SPEC["per_layer"].items():
        if "<name>" in name:
            out += [(name.replace("<name>", q), spec["unit"]) for q in QUERIES]
        else:
            out.append((name, spec["unit"]))
    return out


def make_inputs(args, work):
    """Seconds spent writing the workload's inputs into work/input."""
    inputs = SPEC["workloads"][args.workload]["inputs"]
    if "lineitem_files" not in inputs:
        return 0.0
    t0 = time.perf_counter()
    fixtures.write(args.data, work / "input", args.seed, inputs["lineitem_files"],
                   inputs.get("replacement_pool_files", 0))
    return time.perf_counter() - t0


def run_jvm(args, classes, work, deadline):
    cores = min(4, os.cpu_count() or 1)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    # The parallel collector works only in pauses: no concurrent GC threads
    # compete with the measured work for the few cores.
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", "-XX:+UseParallelGC",
            f"-Djava.io.tmpdir={work / 'tmp'}",
            "-cp", build.classpath(classes), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", args.data, "--cores", str(cores), "--queries", ",".join(QUERIES),
            "--out", str(work)]
    log = work / "jvm.log"
    with open(log, "w") as f:
        try:
            code = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                                  timeout=max(10, deadline - time.time())).returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    for line in log.read_text(errors="replace").splitlines():
        if line.startswith("perfbench:"):
            print(line, file=sys.stderr)
    result = work / "result.json"
    if code != 0 or not result.exists():
        tail = log.read_text(errors="replace").splitlines()[-40:]
        raise SystemExit(f"run: benchmark JVM failed ({code}):\n" + "\n".join(tail))
    return json.loads(result.read_text())


# ---- result checks --------------------------------------------------------

def _floating(v):
    return isinstance(v, float)


def _key(row):
    exact = tuple((v is None, 0 if v is None else v) for v in row if not _floating(v))
    return exact + tuple(v for v in row if _floating(v))


def _sorted(rows):
    try:
        return sorted(rows, key=_key)
    except TypeError:  # values without an order (maps): order by their text
        return sorted(rows, key=lambda r: [str(v) for v in _key(r)])


def _close(a, b):
    if _floating(a) and _floating(b):
        return a == b or (math.isnan(a) and math.isnan(b)) or \
            abs(a - b) <= 1e-9 * max(abs(a), abs(b))
    return a == b


def same_rows(got, want):
    """Exact on every non-floating column, 1e-9 relative on floating ones;
    row order ignored."""
    if len(got) != len(want):
        return False
    got, want = _sorted(got), _sorted(want)
    return all(len(x) == len(y) and all(_close(a, b) for a, b in zip(x, y))
               for x, y in zip(got, want))


def check_pipeline(result, data, work):
    """Failed query names: each result against its DuckDB oracle."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute(f"SET temp_directory = '{work / 'tmp'}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    checks = result["checks"]
    failed = {}
    for name in sorted({o["name"] for o in result["ops"]}):
        oracle = checks["oracles"].get(name)
        if oracle is None:
            failed[name] = "no oracle"
            continue
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{checks['results_dir']}/{name}/*.parquet')"
            ).fetch_arrow_table()
            want = con.execute(oracle).fetch_arrow_table()
        except Exception as e:  # a missing result or a failing oracle is a failed check
            failed[name] = str(e).splitlines()[0]
            continue
        cols = sorted(got.column_names)
        if cols != sorted(want.column_names):
            failed[name] = f"columns {cols} vs {sorted(want.column_names)}"
            continue
        rows = lambda t: [tuple(r[c] for c in cols) for r in t.select(cols).to_pylist()]
        if not same_rows(rows(got), rows(want)):
            failed[name] = f"rows differ ({got.num_rows} vs {want.num_rows})"
    return failed


# ---- metrics --------------------------------------------------------------

def by_name(ops):
    out = {}
    for o in ops:
        out.setdefault(o["name"], []).append(o["ms"])
    return out


def p50(ops):
    """Median over the operation kinds of each kind's median latency. Every
    kind runs equally often in a pass, so this is the median operation of a
    pass; unlike the median of the pooled samples it does not jump from one
    kind's latencies to the next when a few samples move."""
    return statistics.median(statistics.median(v) for v in by_name(ops).values())


def tail(ops):
    """(value, percentile) of the highest percentile with at least 10 samples
    beyond it, used once that is the 75th percentile or higher (40 samples).
    With fewer samples the tail is the median latency of the slowest kind of
    operation, which a few whole passes still estimate steadily."""
    xs = sorted(o["ms"] for o in ops)
    if len(xs) >= 40:
        k = len(xs) - 10
        return xs[k - 1], 100.0 * k / len(xs)
    return max(statistics.median(v) for v in by_name(ops).values()), None


def per_pass(ops, f):
    """Median over the whole passes of f(latencies, CPU times) of a pass. A
    pass is one round over the workload's fixed list of cells or queries;
    its time is the sum of its operations' latencies, which is the window's
    time for that pass without the result checks."""
    passes = {}
    for o in ops:
        passes.setdefault(o["pass"], []).append(o)
    size = max(len(v) for v in passes.values())
    return statistics.median(f([o["ms"] for o in v], [o["cpu_ms"] for o in v])
                             for v in passes.values() if len(v) == size)


def median_or_none(xs):
    return statistics.median(xs) if xs else None


def e2e_metrics(result, failed_ops):
    ops = result["ops"]
    by = lambda outcome: [o["ms"] for o in ops if o["outcome"] == outcome]
    tail_ms, tail_pct = tail(ops)
    m = {
        "setup_s": result["setup_s"],
        "op_p50_ms": p50(ops),
        "op_tail_ms": tail_ms,
        "ops_per_s": per_pass(ops, lambda ms, cpu: 1000.0 * len(ms) / sum(ms)),
        "proc_cpu_ms_per_op": per_pass(ops, lambda ms, cpu: sum(cpu) / len(cpu)),
        "live_heap_mb": result["live_heap_mb"],
        "failed_ratio": failed_ops / len(ops),
        "hit_p50_ms": median_or_none(by("hit")),
        "miss_p50_ms": median_or_none(by("written")),
        "cache_stored_mb": result["cache_stored_mb"],
    }
    outcomes = {}
    for o in ops:
        outcomes[o["outcome"]] = outcomes.get(o["outcome"], 0) + 1
    notes = {"op_tail_percentile": tail_pct and round(tail_pct, 1), "samples": len(ops),
             "passes": len({o["pass"] for o in ops}), "outcomes": outcomes,
             "window_s": result["window_s"], "window_ops_per_s": len(ops) / result["window_s"],
             "window_cpu_ms_per_op": result["proc_cpu_ms"] / len(ops)}
    return m, notes


def _union_ms(intervals):
    total, end = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def layer_metrics(result):
    ops = result["ops"]
    n = len(ops)
    outcome = {o["id"]: o["outcome"] for o in ops}
    counted = set(outcome)
    spans = result["trace"]["spans"]
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s

    for s in spans:
        s["dur"] = s["end_ms"] - s["start_ms"]
        s["root_kind"] = root(s)["kind"]
    in_ops = [s for s in spans if s["op"] in counted and s["root_kind"] == "op"]
    probes = [s for s in spans if s["op"] in counted and s["kind"] == "probe"]
    op_spans = [s for s in in_ops if s["kind"] == "op"]
    cells = [o for o in ops if o["kind"] == "cell"]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    def named(pool, name):
        return [s for s in pool if s["name"] == name]

    def per_op(total):
        return total / n if n else 0.0

    def spark_sum(pool, key):
        return sum(s["spark"].get(key, 0) for s in pool)

    m = {}
    for p in PROBES:
        m[p + ".ms"] = mean([s["dur"] for s in named(probes, p)])
    m["PlanFingerprint.plan_chars"] = mean(
        [s["attrs"]["plan_chars"] for s in named(probes, "PlanFingerprint.getQueryPlan")])
    m["Freshness.dirs"] = mean([s["attrs"]["dirs"] for s in named(probes, "Freshness.inputDirModTimes")])
    m["reread.ms"] = mean([s["dur"] for s in named(in_ops, "reread")])
    calls = named(in_ops, "cacheToDbfs")
    for oc in OUTCOMES:
        mine = [s["dur"] for s in calls if outcome[s["op"]] == oc]
        m[f"cacheToDbfs.ms.{oc}"] = mean(mine)
        m[f"cacheToDbfs.count.{oc}"] = sum(1 for o in cells if o["outcome"] == oc)
    cacheable = sum(m[f"cacheToDbfs.count.{oc}"] for oc in ("hit", "written", "below_threshold"))
    m["cache.hit_ratio"] = m["cacheToDbfs.count.hit"] / cacheable if cacheable else 0.0
    phase_ms = {}
    for s in probes:
        if s["name"] in PROBES:
            phase_ms[s["op"]] = phase_ms.get(s["op"], 0.0) + s["dur"]
    m["cacheToDbfs.unattributed.ms"] = mean([s["dur"] - phase_ms.get(s["op"], 0.0) for s in calls])
    m["DirectData.createCachedDataFrame.ms"] = mean(
        [s["dur"] for s in named(in_ops, "DirectData.createCachedDataFrame")])
    for name in ("Management.getCachedDataframeMetadata", "Management.clearInconsistentCache"):
        m[name + ".ms"] = mean([s["dur"] for s in named(in_ops, name)])
    m["Management.entries"] = mean(
        [s["attrs"]["entries"] for s in named(in_ops, "Management.getCachedDataframeMetadata")])
    for key in ("fs.list_calls", "fs.entries_listed", "fs.status_calls", "fs.open_calls",
                "fs.create_calls", "fs.rename_calls", "fs.delete_calls", "fs.bytes_written"):
        m[key] = per_op(sum(s["fs"].get(key, 0) for s in op_spans))
    m["fs.list_calls.spark_read"] = per_op(sum(s["fs"]["fs.list_calls"] for s in named(in_ops, "spark.read")))
    m["fs.list_calls.cacheToDbfs"] = per_op(sum(s["fs"]["fs.list_calls"] for s in calls))
    jobs = [(j["start_ms"], j["end_ms"]) for j in result["trace"]["jobs"]]
    in_jobs = 0.0
    for s in op_spans:
        in_jobs += _union_ms([(max(a, s["start_ms"]), min(b, s["end_ms"])) for a, b in jobs
                              if b > s["start_ms"] and a < s["end_ms"]])
    m["driver.ms"] = per_op(sum(s["dur"] for s in op_spans) - in_jobs)
    m["spark.job_ms"] = per_op(in_jobs)
    mb = 1048576.0
    m["spark.jobs"] = per_op(spark_sum(in_ops, "jobs"))
    m["spark.tasks"] = per_op(spark_sum(in_ops, "tasks"))
    m["spark.exec_cpu_ms"] = per_op(spark_sum(in_ops, "exec_cpu_ms"))
    m["spark.gc_ms"] = per_op(spark_sum(in_ops, "gc_ms"))
    m["spark.shuffle_write_mb"] = per_op(spark_sum(in_ops, "shuffle_write_bytes") / mb)
    m["spark.input_mb"] = per_op(spark_sum(in_ops, "input_bytes") / mb)
    m["spark.output_mb"] = per_op(spark_sum(in_ops, "output_bytes") / mb)
    m["spark.storage_mb_end"] = result["storage_mb_end"]
    for q in QUERIES:
        roots = named(op_spans, f"query.{q}")
        trees = {s["id"] for s in roots}
        mine = [s for s in in_ops if root(s)["id"] in trees]
        k = len(roots)
        m[f"query.{q}.ms"] = mean([s["dur"] for s in roots])
        m[f"query.{q}.jobs"] = spark_sum(mine, "jobs") / k if k else 0.0
        m[f"query.{q}.exec_cpu_ms"] = spark_sum(mine, "exec_cpu_ms") / k if k else 0.0
        m[f"query.{q}.shuffle_write_mb"] = spark_sum(mine, "shuffle_write_bytes") / mb / k if k else 0.0
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["notebook_rehit", "source_churn", "pipeline_ops"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--data", default=str(DEFAULT_DATA), help="directory of the sf0.1 parquet tables")
    args = ap.parse_args(argv)
    if not Path(args.data, "lineitem.parquet").exists():
        raise SystemExit(f"run: no sf0.1 tables in {args.data}")

    classes = build.build()
    deadline = time.time() + RUN_LIMIT_S  # the JVM is killed after this
    work = ROOT / ".bench_run" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        (work / "tmp").mkdir(parents=True)
        fixture_s = make_inputs(args, work)
        result = run_jvm(args, classes, work, deadline)
        result["setup_s"] += fixture_s
        failed_queries = check_pipeline(result, args.data, work) if args.workload == "pipeline_ops" else {}
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ops = result["ops"]
    bad = [o for o in ops if not o["ok"] or o["name"] in failed_queries]
    e2e, notes = e2e_metrics(result, len(bad))
    layers = layer_metrics(result) if args.trace else {}

    spec = SPEC["workloads"][args.workload]
    context = dict(result["context"], workload=args.workload, seed=args.seed,
                   loop=spec["loop"], clients=spec["clients"], inputs=result["info"])
    print("context " + json.dumps(context, sort_keys=True))
    for name, value in e2e.items():
        unit = SPEC["end_to_end"][name]["unit"]
        shown = "n/a" if value is None else f"{value:.6g}"
        print(f"e2e {name} = {shown} {unit}")
    print("e2e notes " + json.dumps(notes))
    for name, unit in per_layer_specs() if args.trace else []:
        print(f"layer {name} = {layers[name]:.6g} {unit}")
    for o in bad[:20]:
        print(f"failed op {o['id']} {o['name']} {o['outcome']}: "
              f"{o['error'] or failed_queries.get(o['name'], '')}")
    for name, why in failed_queries.items():
        print(f"failed check {name}: {why}")

    saved = ROOT / ".bench_out"
    saved.mkdir(exist_ok=True)
    (saved / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(json.dumps(
        {"context": context, "e2e": e2e, "notes": notes, "per_layer": layers, "ops": ops,
         "failed_queries": failed_queries, "trace": result["trace"]}))

    if args.trace:
        metrics = {name: {"value": layers[name], "unit": unit} for name, unit in per_layer_specs()}
    else:
        metrics = {name: {"value": e2e[name], "unit": SPEC["end_to_end"][name]["unit"]}
                   for name in gated_e2e()}
    print(json.dumps({"correct": not bad and not failed_queries, "attempted": len(ops),
                      "failed": len(bad), "metrics": metrics}))


if __name__ == "__main__":
    main()
