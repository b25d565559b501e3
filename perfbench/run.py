#!/usr/bin/env python3
"""End-to-end SPARQL benchmark of the graft engine.

    python3 perfbench/run.py --workload bgp_store --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

One process, Spark local[4], one closed-loop client: each query is
issued only after the previous one has written its results. The path
measured is the one a user runs: TpchQuads corpus -> QuadsIO N-Quads
export -> QuadsIO.read -> DictStore.encode/append (or the term-struct
parquet of QuadsIO.writeParquet) -> sparql -> Sparql.writeResultsJson.
Every result is checked against DuckDB over the same source parquet.

Each run works in a fresh directory under .bench_build/perfbench/tmp,
deleted at exit. Stdout carries one short line per metric and, last,
one JSON object; the full per-query and per-layer detail goes to
perfbench/results/<workload>-seed<n>-trace<t>.json. See README.md for
the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import oracle  # noqa: E402
import workload  # noqa: E402

ROOT = build.ROOT
CORES = 4
ORDERS = 3000          # ~0.002 of TPC-H sf1: ~100k quads
SMOKE_ORDERS = 1500    # the shape of the repo's sf0.001 test data
REPS = 3               # set-up repetitions; setup_s takes their median
APPENDS = 2            # append batches after the repeated encodes
WARM_QUERIES = 12      # untimed queries before timing: 3 bgp or 6 lookup rounds
TIMED_QUERIES = 600    # more than any run can issue
SECOND_ROUNDS = 2      # traced passes over every template on the second layout
JVM_TIMEOUT_S = 170
# a root span's self time always includes a few microseconds between
# its children; the traced-minus-untraced overhead it is held to is a
# difference of two noisy medians and can be below zero
MIN_ALLOWANCE_MS = 1.0

# workload -> (store layout, lookup queries?, second layout of a traced run)
WORKLOADS = {
    "bgp_store": ("store", False, "quads"),
    "bgp_quads": ("quads", False, None),
    "lookup_store": ("store", True, None),
}

END_TO_END = {
    "setup_s": "s", "query_p50_s": "s", "query_tail_s": "s",
    "queries_per_s": "1/s", "cpu_s_per_query": "s",
    "ingest_quads_per_s": "1/s", "append_p50_s": "s",
    "store_bytes_per_quad": "B", "peak_rss_mb": "MB",
}

QUERY_LAYERS = {
    "SparqlParser.parse_ms": "ms", "Sparql.preBind_ms": "ms",
    "BgpOptimizer.optimize_ms": "ms", "Compiler.build_ms": "ms",
    "DictStore.build_ms": "ms", "DictStore.build_jobs": "count",
    "catalyst.plan_ms": "ms", "spark.exec_ms": "ms",
    "spark.task_cpu_s": "s", "spark.shuffle_read_bytes": "B",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.stages": "count", "spark.tasks": "count",
    "spark.input_bytes": "B", "spark.input_records": "count",
    "spark.rows_read_per_result": "ratio", "spark.exec_share": "ratio",
    "Sparql.writeResults_ms": "ms", "Sparql.result_rows": "count",
    "Sparql.result_bytes": "B",
}
# the term-struct path (QuadsIO.writeParquet -> readParquet ->
# QuadsOps.sparql), from the second layout of a traced bgp_store run
QUADS_LAYERS = {
    "QuadsIO.writeParquet_ms": "ms", "quads.query_ms": "ms",
    "quads.catalyst.plan_ms": "ms", "quads.spark.exec_ms": "ms",
    "quads.spark.task_cpu_s": "s", "quads.spark.shuffle_read_bytes": "B",
    "quads.spark.input_bytes": "B", "quads.spark.input_records": "count",
    "quads.Sparql.writeResults_ms": "ms",
}
INGEST_LAYERS = {
    "QuadsIO.read_ms": "ms", "QuadsIO.quads_parsed": "count",
    "DictStore.encode_ms": "ms", "DictStore.append_ms": "ms",
    "DictStore.files_written": "count", "DictStore.bytes_written": "B",
    "DictStore.dict_terms": "count", "DictStore.files_after_appends": "count",
    "ryw.query_ms": "ms",
}
RUN_LAYERS = {
    "host.probe_before_s": "s", "host.probe_after_s": "s",
    "trace.overhead_ms": "ms", "trace.unaccounted_ms": "ms",
}
SHAPE_LAYERS = {
    "query_ms": "ms", "build_ms": "ms", "catalyst.plan_ms": "ms",
    "spark.exec_ms": "ms", "spark.task_cpu_s": "s",
    "spark.shuffle_read_bytes": "B", "spark.input_records": "count",
    "Sparql.result_rows": "count",
}
SHAPES = workload.BGP_SHAPES + workload.LOOKUP_SHAPES


def per_layer_units():
    units = {**QUERY_LAYERS, **QUADS_LAYERS, **INGEST_LAYERS, **RUN_LAYERS}
    for shape in SHAPES:
        for m, u in SHAPE_LAYERS.items():
            units[f"{shape}.{m}"] = u
    for shape in workload.BGP_SHAPES:
        units[f"quads.{shape}.query_ms"] = "ms"
    return units


JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it:
    (value, percentile, samples). With eleven or fewer samples that is
    the fastest one; reporting the slowest instead would make the
    metric jump between the two ends as a window's count crosses 11."""
    s = sorted(xs)
    if not s:
        return 0.0, 0.0, 0
    i = max(len(s) - 11, 0)
    return s[i], 100.0 * (i + 1) / len(s), len(s)


# ----- plan, JVM, checks -----

def write_plan(path, conf, slices, queries):
    with open(path, "w", encoding="utf-8") as f:
        for k, v in conf.items():
            f.write(f"conf\t{k}\t{v}\n")
        for lo, hi in slices:
            f.write(f"slice\t{lo}\t{hi}\n")
        for phase, q in queries:
            f.write("\t".join(["query", phase, q["id"], q["shape"], q["bind"],
                               q["query"]]) + "\n")


def run_jvm(classes, work, plan, report, log):
    jars = os.path.join(build.spark_jars(), "*")
    jtmp = os.path.join(work, "jtmp")
    os.makedirs(jtmp)
    # -UsePerfData: no hsperfdata file in /tmp; the run stays in its dir
    cmd = ["java", *JAVA_OPENS, "-Xms1g", "-Xmx1g", "-Xss8m", "-XX:+UseParallelGC",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={jtmp}", "-Dspark.ui.enabled=false",
           "-cp", f"{classes}{os.pathsep}{jars}",
           "perfbench.PerfBench", plan, report]
    with open(log, "w") as out:
        proc = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT,
                              cwd=work, timeout=JVM_TIMEOUT_S)
    if proc.returncode != 0 or not os.path.exists(report):
        raise RuntimeError(f"JVM exited {proc.returncode}; see {log}")
    with open(report) as f:
        rep = json.load(f)
    if "fatal" in rep:
        raise RuntimeError(f"JVM failed: {rep['fatal']}")
    return rep


def check_all(rep, src, sql_of, ryw_expected):
    """Oracle-check every query the JVM ran; annotate each in place."""
    orc = oracle.Oracle(src)
    for q in rep["queries"]:
        if q["error"]:
            q["ok"] = False
            continue
        try:
            if q["phase"] == "ryw":
                ok, detail = orc.check(q["out"], count=ryw_expected[q["id"]])
            else:
                ok, detail = orc.check(q["out"], sql=sql_of[q["id"]])
        except Exception as e:  # noqa: BLE001 - a broken result is a failure
            ok, detail = False, {"check_error": f"{type(e).__name__}: {e}"}
        q["ok"] = ok
        q.update(detail)


def ryw_ids(layouts, base_orders, slices):
    """Expected order count of each read-your-writes probe."""
    exp = {}
    for layout in layouts:
        n = base_orders
        for i, (lo, hi) in enumerate(slices):
            n += hi - lo
            exp[f"ryw_{layout}_{i}"] = n
    return exp


# ----- metrics -----

def end_to_end(rep, layout):
    timed = [q for q in rep["queries"]
             if q["phase"] == "timed" and not q["traced"]]
    secs = [q["s"] for q in timed]
    correct = sum(1 for q in timed if q["ok"])
    writes = [e for e in rep["ingest"] if e.get("layout") == layout]
    encodes = [e for e in writes if e["op"] == "encode"]
    appends = [e for e in writes if e["op"] == "append"]
    stored = encodes[0]["quads"] + sum(e["quads"] for e in appends)
    t_val, t_pct, t_n = tail(secs)
    metrics = {
        "setup_s": rep["setup_s"],
        "query_p50_s": median(secs),
        "query_tail_s": t_val,
        "queries_per_s": correct / rep["timed_wall_s"],
        "cpu_s_per_query": rep["timed_cpu_s"] / max(len(timed), 1),
        "ingest_quads_per_s": stored / (median([e["s"] for e in encodes])
                                        + sum(e["s"] for e in appends)),
        "append_p50_s": median([e["s"] for e in appends]),
        "store_bytes_per_quad": appends[-1]["store_bytes"] / stored,
        "peak_rss_mb": rep["peak_rss_mb"],
    }
    extra = {"query_tail_percentile": t_pct, "query_samples": t_n}
    return metrics, extra


def unaccounted_ms(spans):
    """The root span's time that no direct child covers, per trace (one
    traced query = one trace). Recomputed from start and duration, so
    it does not rely on the self times the JVM wrote."""
    by_id = {s["id"]: s for s in spans}
    out = {}
    for s in spans:
        if s["name"] == "query" and s["parent"] == -1:
            out[s["trace"]] = s["dur_ns"] / 1e6
    for s in spans:
        parent = by_id.get(s["parent"])
        if parent is not None and parent["name"] == "query" \
                and parent["trace"] in out:
            out[parent["trace"]] -= s["dur_ns"] / 1e6
    return out


def spans_account(unaccounted, overhead_ms):
    """The traced queries' child spans account for their root spans
    within the tracing overhead: a phase left outside every child span
    would show as root self time above it."""
    return median(unaccounted) <= max(overhead_ms, MIN_ALLOWANCE_MS)


def by_trace(spans):
    out = {}
    for s in spans:
        out.setdefault(s["trace"], []).append(s)
    return out


def span_ms(traces, trace, name):
    """Total duration of the spans called `name` in one trace."""
    return sum(s["dur_ns"] for s in traces.get(trace, [])
               if s["name"] == name) / 1e6


def traced_rows(rep, spans):
    """One row of layer figures per traced query, from its spans and
    its job groups' task metrics."""
    groups = rep.get("groups", {})
    traces = by_trace(spans)
    gaps = unaccounted_ms(spans)
    def grp(qid, field, phases=("build", "plan", "exec")):
        return sum(groups.get(f"{qid}/{p}", {}).get(field, 0.0) for p in phases)

    rows = []
    for q in rep["queries"]:
        if q["phase"] not in ("timed", "second") or not q["traced"]:
            continue
        qid = q["id"]
        store = q["layout"] == "store"
        result_rows = q.get("rows", 0)
        parse = span_ms(traces, qid, "SparqlParser.parse")
        optimize = span_ms(traces, qid, "BgpOptimizer.optimize")
        r = {
            "shape": q["shape"], "layout": q["layout"], "phase": q["phase"],
            "query_ms": q["s"] * 1000,
            "unaccounted_ms": gaps.get(qid, 0.0),
            "SparqlParser.parse_ms": parse,
            "Sparql.preBind_ms": span_ms(traces, qid, "Sparql.preBind"),
            "BgpOptimizer.optimize_ms": optimize,
            "Compiler.build_ms": span_ms(traces, qid, "Compiler.build"),
            # DictStore.sparql parses and optimizes again inside the
            # build span; the benchmark's own parse and optimize of the
            # same text stand in for that part, so it is counted once
            "DictStore.build_ms":
                max(span_ms(traces, qid, "DictStore.build") - parse - optimize, 0.0)
                if store else 0.0,
            "DictStore.build_jobs": grp(qid, "jobs", ("build",)) if store else 0.0,
            "catalyst.plan_ms": span_ms(traces, qid, "catalyst.plan"),
            "spark.exec_ms": grp(qid, "job_ms", ("exec",)),
            "spark.task_cpu_s": grp(qid, "cpu_ns") / 1e9,
            "spark.shuffle_read_bytes": grp(qid, "shuffle_read_bytes"),
            "spark.shuffle_write_bytes": grp(qid, "shuffle_write_bytes"),
            "spark.spill_bytes": grp(qid, "spill_bytes"),
            "spark.stages": grp(qid, "stages"),
            "spark.tasks": grp(qid, "tasks"),
            "spark.input_bytes": grp(qid, "input_bytes"),
            "spark.input_records": grp(qid, "input_records"),
            "spark.rows_read_per_result":
                grp(qid, "input_records") / max(result_rows, 1),
            "Sparql.writeResults_ms": span_ms(traces, qid, "Sparql.writeResults"),
            "Sparql.result_rows": result_rows,
            "Sparql.result_bytes": q.get("bytes", 0),
        }
        r["spark.exec_share"] = r["spark.exec_ms"] / r["query_ms"]
        r["build_ms"] = r["DictStore.build_ms"] + r["Compiler.build_ms"]
        rows.append(r)
    return rows


def per_layer(rep, spans, layout):
    """Per-layer medians over the traced queries of the timed window
    (per query and per shape), over those of the second layout, and of
    the set-up's ingest layers. Returns (metrics, rows, spans account
    for their roots?)."""
    rows = traced_rows(rep, spans)
    timed = [r for r in rows if r["phase"] == "timed"]
    quads = [r for r in rows if r["layout"] == "quads"]

    out = {m: median([r[m] for r in timed]) for m in QUERY_LAYERS}
    out["Compiler.build_ms"] = median([r["Compiler.build_ms"] for r in quads])
    for shape in SHAPES:
        mine = [r for r in timed if r["shape"] == shape]
        for m in SHAPE_LAYERS:
            out[f"{shape}.{m}"] = median([r[m] for r in mine])
    for m in QUADS_LAYERS:
        if m.startswith("quads."):
            out[m] = median([r[m[len("quads."):]] for r in quads])
    for shape in workload.BGP_SHAPES:
        out[f"quads.{shape}.query_ms"] = median(
            [r["query_ms"] for r in quads if r["shape"] == shape])

    # ingest layers, from the set-up's traced repetitions; the writes
    # are DictStore.encode/append on the store layout and
    # QuadsIO.writeParquet (overwrite, then append) on the quads one
    ingest = rep["ingest"]
    traces = by_trace(spans)
    stored = [e for e in ingest if e.get("layout") == "store"]
    parsed = {e["src"]: e["quads"] for e in ingest if e["op"] == "parse"}

    def write_ms(entries, op):
        return median([e["write_s"] * 1000 for e in entries if e["op"] == op])

    out.update({
        "QuadsIO.read_ms": median([span_ms(traces, e["trace"], "QuadsIO.read")
                                   for e in ingest if e.get("layout") == layout]),
        "QuadsIO.quads_parsed": sum(parsed.values()),
        "QuadsIO.writeParquet_ms": write_ms(
            [e for e in ingest if e.get("layout") == "quads"], "encode"),
        "DictStore.encode_ms": write_ms(stored, "encode"),
        "DictStore.append_ms": write_ms(stored, "append"),
        "DictStore.files_written": median([e["files_written"] for e in stored]),
        "DictStore.bytes_written": median([e["bytes_written"] for e in stored]),
        "DictStore.dict_terms": max([e["dict_terms"] for e in stored], default=0),
        "DictStore.files_after_appends": max(
            [e["store_files"] for e in stored if e["op"] == "append"], default=0),
        "ryw.query_ms": median([q["s"] * 1000 for q in rep["queries"]
                                if q["phase"] == "ryw" and q["layout"] == layout]),
    })

    # tracing overhead: traced and untraced queries alternate in one
    # window, so warm-up drift affects both medians alike
    untraced = [q["s"] for q in rep["queries"]
                if q["phase"] == "timed" and not q["traced"]]
    out["trace.overhead_ms"] = (median([r["query_ms"] for r in timed])
                                - 1000 * median(untraced))
    out["trace.unaccounted_ms"] = median([r["unaccounted_ms"] for r in timed])
    out["host.probe_before_s"] = median(rep["probe_before_s"])
    out["host.probe_after_s"] = median(rep["probe_after_s"])
    accounted = spans_account([r["unaccounted_ms"] for r in rows],
                              out["trace.overhead_ms"])
    return out, rows, accounted


# ----- entry points -----

def new_work_dir():
    base = os.path.join(build.OUT, "tmp")
    os.makedirs(base, exist_ok=True)
    return tempfile.mkdtemp(prefix="run-", dir=base)


def bench(args, classes):
    layout, lookup, second = WORKLOADS[args.workload]
    work = new_work_dir()
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        workload.make_tables(src, args.seed, ORDERS)
        slices, base_orders = workload.ingest_plan(args.seed, ORDERS, APPENDS)
        timed = workload.query_plan(args.seed, ORDERS, lookup, TIMED_QUERIES)
        n_shapes = len(workload.LOOKUP_SHAPES if lookup else workload.BGP_SHAPES)
        # warm-up constants come from a different seed than the timed ones
        warm = workload.query_plan(args.seed + 7919, ORDERS, lookup, WARM_QUERIES)
        for q in warm:
            q["id"] = "w" + q["id"]
        phases = [("warm", warm), ("timed", timed)]
        layouts = [layout]
        if args.trace and second:
            # a traced run also puts the first templates of the window
            # through the second layout, after the window
            layouts.append(second)
            phases += [("second_warm", relabel(warm[:n_shapes], second)),
                       ("second", relabel(timed[:SECOND_ROUNDS * n_shapes],
                                          second))]
        conf = {"mode": "bench", "layouts": ",".join(layouts),
                "trace": args.trace, "seconds": args.seconds,
                "round": n_shapes, "cores": CORES,
                "reps": REPS, "work": work, "src": src,
                "ryw_query": workload.RYW_QUERY}
        plan = os.path.join(work, "plan.tsv")
        write_plan(plan, conf, slices,
                   [(phase, q) for phase, qs in phases for q in qs])
        report = os.path.join(work, "report.json")
        log = os.path.join(work, "jvm.log")
        try:
            rep = run_jvm(classes, work, plan, report, log)
        except Exception:
            keep_log(log, args)
            raise
        sql_of = {q["id"]: q["sql"] for _, qs in phases for q in qs}
        check_all(rep, src, sql_of, ryw_ids(layouts, base_orders, slices))
        spans = []
        if args.trace:
            with open(report + ".spans.json") as f:
                spans = json.load(f)
        return summarize(args, rep, spans, layout)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def relabel(queries, layout):
    return [{**q, "id": f"{layout}_{q['id']}"} for q in queries]


def keep_log(log, args):
    if os.path.exists(log):
        dst = os.path.join(HERE, "results", f"{args.workload}-seed{args.seed}.log")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(log, dst)
        sys.stderr.write(f"JVM log kept at {dst}\n")


def summarize(args, rep, spans, layout):
    attempted = len(rep["queries"])
    failed = sum(1 for q in rep["queries"] if not q["ok"])
    probe_b = median(rep["probe_before_s"])
    probe_a = median(rep["probe_after_s"])
    steal = rep["timed_steal_share"]
    # other tenants of the host took cores during the window. The probe
    # is recorded but not used here: its before/after ratio reaches 1.45
    # on quiet runs, as often as on contended ones
    contended = steal > 0.05
    accounted = True
    if args.trace:
        metrics, rows, accounted = per_layer(rep, spans, layout)
        units, extra = per_layer_units(), {"spans_account": accounted}
    else:
        metrics, extra = end_to_end(rep, layout)
        units, rows = END_TO_END, []
    w = args.workload
    for name, value in metrics.items():
        print(f"{name} {w} {value:.6g} {units[name]}")
    print(f"error_rate {w} {failed / attempted:.6g} ratio")
    if not accounted:
        print(f"trace.spans {w} FAIL: root self time above the tracing overhead")
    print(f"host.probe {w} before={probe_b:.4f} after={probe_a:.4f} s "
          f"steal={steal:.4f}{' CONTENDED' if contended else ''}")
    detail = {"workload": w, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "orders": ORDERS, "cores": CORES,
              "metrics": metrics, "extra": extra,
              "error_rate": failed / attempted, "attempted": attempted,
              "failed": failed, "host_contended": contended,
              "report": rep, "traced_queries": rows}
    out_dir = os.path.join(HERE, "results")
    os.makedirs(out_dir, exist_ok=True)
    stem = os.path.join(out_dir, f"{w}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    if args.trace:
        with open(stem + ".spans.json", "w") as f:
            json.dump(spans, f)
    result = {"correct": failed == 0 and accounted, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    print(json.dumps(result))
    return 0


def smoke(args, classes):
    """Every template once on both layouts (and the read-your-writes
    probes) at the small scale, each checked against its oracle."""
    work = new_work_dir()
    try:
        src = os.path.join(work, "src")
        os.makedirs(src)
        workload.make_tables(src, args.seed, SMOKE_ORDERS)
        slices, base_orders = workload.ingest_plan(args.seed, SMOKE_ORDERS, APPENDS)
        qs = workload.every_template(args.seed, SMOKE_ORDERS)
        layouts = ["store", "quads"]
        conf = {"mode": "smoke", "layouts": ",".join(layouts),
                "trace": args.trace, "seconds": 0, "cores": CORES,
                "work": work, "src": src, "ryw_query": workload.RYW_QUERY}
        plan = os.path.join(work, "plan.tsv")
        write_plan(plan, conf, slices, [("timed", q) for q in qs])
        rep = run_jvm(classes, work, plan, os.path.join(work, "report.json"),
                      os.path.join(work, "jvm.log"))
        sql_of = {f"{q['id']}_{lay}": q["sql"] for q in qs for lay in layouts}
        check_all(rep, src, sql_of, ryw_ids(layouts, base_orders, slices))
        bad = 0
        for q in rep["queries"]:
            bad += not q["ok"]
            print(f"smoke {q['id']} {q['shape']} {q['layout']} "
                  f"{'ok' if q['ok'] else 'FAIL'} rows={q.get('rows')} "
                  f"oracle_rows={q.get('oracle_rows', q.get('expected'))}"
                  f"{' ' + q['error'] if q['error'] else ''}")
        print(json.dumps({"smoke_checked": len(rep["queries"]), "failed": bad}))
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS) + ["all"],
                    help="'all' runs every workload BENCHMARK.json lists")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="check every template against its oracle at sf0.001")
    args = ap.parse_args()
    # a SIGTERM unwinds like an error: the JVM child is killed and waited
    # for, and the run's directory is deleted
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke")
    classes = build.ensure_built()
    if args.smoke:
        return smoke(args, classes)
    if args.workload != "all":
        return bench(args, classes)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [w["name"] for w in json.load(f)["workloads"]]
    for args.workload in listed:
        bench(args, classes)
    return 0


if __name__ == "__main__":
    sys.exit(main())
