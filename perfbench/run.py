#!/usr/bin/env python3
"""graft pipeline benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs them through
the program's public entry points (`PipelineRunner.run` in a harness
JVM, or the `graft` CLI as child processes), checks every run's sink
output against DuckDB (perfbench/check.py), and prints one JSON line
last: end-to-end metrics with --trace 0, per-layer metrics from a
separate traced run with --trace 1. Everything it writes goes under
`.bench_build/` in the repository root.

Workloads:
  etl_relational  star-schema SQL/filter/join/map/aggregate/sort, tiny output
  text_curation   gzip decode, PII, profile, exact + MinHash dedup, split
  cli_small_runs  closed loop, one client, one `graft run` process per step
"""
import sys

sys.dont_write_bytecode = True

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sqlite3  # noqa: E402
import subprocess  # noqa: E402
import threading  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = build.BUILD
WORKLOADS = ["etl_relational", "text_curation", "cli_small_runs"]
HISTORY_RUNS = {"etl_relational": 20, "text_curation": 20,
                "cli_small_runs": gen.CLI["history_runs"]}
SETUP_SAMPLES = 2        # setup is measured in this many fresh processes
BASELINE_RUNS = 3        # untraced runs beside the traced one
WARMUP_RUNS = 5          # untimed in-JVM runs between the cold run and the timed ones
HEAP = "2g"
PROCESS_LIMIT_S = 150    # a child process running longer is killed

# run_s_tail and peak_rss_mb are printed with the results but are not
# bounded: a run holds too few samples for a tail (see stats.tail), and
# a JVM's peak RSS moves with GC timing (1.1 or 1.4 GB on one input)
END_TO_END = [("setup_s", "s"), ("cold_run_s", "s"), ("run_s_p50", "s"), ("rows_per_s", "1/s")]
PER_LAYER = [
    ("catalog.save_s", "s"), ("catalog.load_s", "s"), ("catalog.record_s", "s"),
    ("catalog.file_kb", "KB"),
    ("spec.parse_s", "s"), ("compile.s", "s"), ("compile.analysis_s", "s"),
    ("compile.optimize_s", "s"), ("compile.physical_s", "s"), ("compile.plan_nodes", "count"),
    ("compile.exchanges", "count"), ("compile.jobs", "count"),
    ("transforms.build_s", "s"), ("transforms.jobs", "count"),
    ("sources.read_s", "s"), ("sources.scan_s", "s"), ("sources.scan_tasks", "count"),
    ("sources.input_mb", "MB"),
    ("sinks.task_s", "s"), ("sinks.cpu_s", "s"), ("sinks.gc_s", "s"),
    ("sinks.shuffle_write_mb", "MB"), ("sinks.spill_mb", "MB"), ("sinks.aqe_replans", "count"),
    ("sinks.tasks", "count"), ("sinks.write_s", "s"), ("sinks.files", "count"),
    ("sinks.output_mb", "MB"), ("sinks.jobs", "count"), ("sinks.driver_gap_s", "s"),
    ("run.s", "s"), ("run.overhead_s", "s"), ("run.jobs", "count"), ("run.extra_jobs", "count"),
    ("run.cold_jit_s", "s"), ("run.cold_gc_s", "s"),
    ("trace.overhead_s", "s"), ("trace.residual_s", "s"),
]

ADD_OPENS = [a for p in [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"] for a in ("--add-opens", f"{p}=ALL-UNNAMED")]

TRACE_PROPS = ["-Dspark.extraListeners=graftbench.TraceListener",
               "-Dspark.sql.queryExecutionListeners=graftbench.PhaseListener"]


CHILDREN = set()


def stop_children(signum, _frame):
    """On SIGTERM/SIGINT, end the running child before exiting."""
    for p in list(CHILDREN):
        p.kill()
        os.waitpid(p.pid, 0)
    sys.exit(128 + signum)


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def java(cp, work, main, args, props=()):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(os.path.join(tmp, "spark"), exist_ok=True)
    # no perf-data file: the JVM would write it outside the checkout
    return ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", *ADD_OPENS,
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}/hadoop",
            f"-Dspark.local.dir={tmp}/spark",
            f"-Dspark.sql.warehouse.dir={work}/warehouse",
            "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
            *props, "-cp", cp, main, *args]


def launch(cmd, work, tag, env=None):
    """Run one child process to completion. Returns (launch epoch ms,
    wall s, exit code, peak RSS MB, stdout text)."""
    out_p, err_p = f"{work}/{tag}.out", f"{work}/{tag}.err"
    with open(out_p, "w") as out, open(err_p, "w") as err:
        launch_ms = time.time() * 1000.0
        t0 = time.perf_counter()
        p = subprocess.Popen(cmd, stdout=out, stderr=err, cwd=work,
                             env=dict(os.environ, **(env or {})))
        CHILDREN.add(p)
        timer = threading.Timer(PROCESS_LIMIT_S, p.kill)
        timer.start()
        try:
            _, status, ru = os.wait4(p.pid, 0)
        finally:
            timer.cancel()
            CHILDREN.discard(p)
        wall = time.perf_counter() - t0
        p.returncode = os.waitstatus_to_exitcode(status)
    with open(out_p) as f:
        text = f.read()
    if p.returncode != 0:
        with open(err_p) as f:
            log(f"{tag}: exit {p.returncode}\n" + f.read()[-3000:])
    return launch_ms, wall, p.returncode, ru.ru_maxrss / 1024.0, text


def harness(cp, work, mode, cfg, tag, props=()):
    cfg = dict(cfg, result=f"{work}/{tag}.result.json")
    with open(f"{work}/{tag}.cfg.json", "w") as f:
        json.dump(cfg, f)
    launch_ms, wall, rc, rss, _ = launch(
        java(cp, work, "graftbench.Harness", [mode, f"{work}/{tag}.cfg.json"], props), work, tag)
    if rc != 0:
        raise RuntimeError(f"harness {mode} failed (exit {rc}); see {work}/{tag}.err")
    if mode == "prep":
        return None
    with open(cfg["result"]) as f:
        res = json.load(f)
    res.update(launch_ms=launch_ms, process_wall_s=wall, peak_rss_mb=rss)
    return res


def render_spec(workload, data, out, path):
    with open(f"{HERE}/specs/{workload}.json") as f:
        text = f.read()
    text = text.replace("${DATA}", data).replace("${OUT}", out)
    spec = json.loads(text)
    for s in spec["sources"]:
        if s["config"].get("data") == "${INLINE}":
            with open(f"{data}/customers.json") as f:
                s["config"]["data"] = json.load(f)
    with open(path, "w") as f:
        json.dump(spec, f, indent=1)


def cli_env(catalog, cores):
    return {"PIPELINE_DB": catalog, "GRAFT_MASTER": f"local[{cores}]"}


def provenance(cp, digest, work, pid, cores, seed, traffic, input_rows, workload):
    """Versions, flags and both sessions' effective conf. The confs are
    recorded once per build and reused."""
    conf_file = f"{BUILD}/conf-{digest[:16]}.json"
    if not os.path.exists(conf_file):
        shutil.copy(f"{work}/catalog.db", f"{work}/conf_catalog.db")
        _, _, rc, _, _ = launch(java(cp, work, "graft.cli.Main", ["explain", pid], [
            "-Dspark.extraListeners=graftbench.ConfListener",
            f"-Dgraftbench.conf.out={work}/cli_conf.json"]),
            work, "cli_conf", cli_env(f"{work}/conf_catalog.db", cores))
        if rc != 0:
            raise RuntimeError("graft explain failed while recording the CLI conf")
        probe = harness(cp, work, "conf", {"cores": cores, "catalog": "", "pipeline_id": pid,
                                           "out_dir": ""}, "jvm_conf")
        with open(f"{work}/cli_conf.json") as f:
            cli = json.load(f)
        with open(conf_file + ".tmp", "w") as f:
            json.dump({"cli": cli, "in_jvm": probe["conf"], "spark_version": probe["spark_version"],
                       "java_version": probe["java_version"]}, f)
        os.rename(conf_file + ".tmp", conf_file)
    with open(conf_file) as f:
        conf = json.load(f)
    keys = sorted(set(conf["cli"]) | set(conf["in_jvm"]))
    diff = {k: [conf["cli"].get(k), conf["in_jvm"].get(k)] for k in keys
            if conf["cli"].get(k) != conf["in_jvm"].get(k)
            and not k.startswith(("spark.app.", "spark.driver.host", "spark.driver.port",
                                  "spark.executor.id", "spark.sql.warehouse.dir",
                                  "spark.extraListeners"))}
    commit = None
    try:
        commit = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                                text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    return {"workload": workload, "seed": seed, "nproc": os.cpu_count(), "cores": cores,
            "commit": commit, "source_sha256": digest, "traffic": traffic,
            "input_rows": input_rows, "java_version": conf["java_version"],
            "spark_version": conf["spark_version"], "heap": f"-Xmx{HEAP}",
            "conf_cli": conf["cli"], "conf_in_jvm": conf["in_jvm"],
            "conf_diff_cli_vs_in_jvm": diff}


# ---------------- output checks ----------------

def check_run(workload, expected, run, stdout_text=None):
    """(actual rows, failure reason or None) for one run record."""
    if run["status"] != "success":
        return 0, f"run {run['status']}: {run.get('error')}"
    try:
        if workload == "cli_small_runs":
            return check.check_cli(expected, run["sink_dir"], stdout_text)
        return check.CHECK[workload](expected, run["sink_dir"])
    except Exception as e:  # an unreadable or missing sink is a failed check
        return 0, f"check error: {e}"


def account(workload, expected, runs):
    """Checks every run; returns (attempted, failed, record_row_error,
    reasons)."""
    failed, recorded, actual, reasons = 0, 0, 0, []
    for r in runs:
        rows, why = check_run(workload, expected, r, r.get("stdout"))
        if why:
            failed += 1
            reasons.append(why)
        recorded += r["rows_written"]
        actual += rows
    err = stats.record_row_error(recorded, actual) if actual else None
    return len(runs), failed, err, reasons


# ---------------- workloads, untraced ----------------

def jvm_untraced(cp, work, cfg, seconds):
    samples = []
    for i in range(SETUP_SAMPLES):
        last = i == SETUP_SAMPLES - 1
        samples.append(harness(cp, work, "main" if last else "probe",
                               dict(cfg, seconds=seconds, out_dir=f"{work}/out{i}",
                                    warmup_runs=WARMUP_RUNS),
                               "main" if last else f"probe{i}"))
    main = samples[-1]
    setup = [(s["first_job_ms"] - s["launch_ms"]) / 1000.0 for s in samples]
    warm = [r["wall_s"] for r in main["runs"]]
    runs = [main["cold"]] + main["warmups"] + main["runs"]
    return {"setup": setup, "cold": [main["cold"]["wall_s"]], "warm": warm,
            "window_s": main["window_s"], "peak_rss_mb": main["peak_rss_mb"],
            "runs": runs, "warm_runs": len(warm)}


def cli_step(cp, work, pid, cores, tag, props=()):
    """One `graft run` process on a fresh copy of the pre-seeded
    catalog; its sinks and catalog are moved under `tag`."""
    cur, step = f"{work}/cur", f"{work}/{tag}"
    shutil.copy(f"{work}/catalog.db", f"{work}/step_catalog.db")
    _, wall, rc, rss, out = launch(java(cp, work, "graft.cli.Main", ["run", pid], props),
                                   work, tag, cli_env(f"{work}/step_catalog.db", cores))
    os.makedirs(step)
    if os.path.isdir(cur):
        os.rename(cur, f"{step}/sinks")
    os.rename(f"{work}/step_catalog.db", f"{step}/catalog.db")
    db = sqlite3.connect(f"file:{step}/catalog.db?mode=ro", uri=True)
    try:
        rec = db.execute("SELECT status, rows_written, error FROM runs "
                         "WHERE id NOT LIKE 'history-%'").fetchall()
    finally:
        db.close()
    status, written, error = rec[-1] if rec else ("missing", 0, f"exit {rc}")
    if rc != 0 and status == "success":
        status = f"exit {rc}"
    return {"wall_s": wall, "status": status, "rows_written": int(written or 0),
            "error": error, "sink_dir": f"{step}/sinks", "stdout": out, "peak_rss_mb": rss}


def cli_untraced(cp, work, pid, cores, seconds):
    setup = []
    for i in range(SETUP_SAMPLES):
        shutil.copy(f"{work}/catalog.db", f"{work}/explain_catalog.db")
        _, wall, rc, _, _ = launch(java(cp, work, "graft.cli.Main", ["explain", pid]), work,
                                   f"explain{i}", cli_env(f"{work}/explain_catalog.db", cores))
        if rc != 0:
            raise RuntimeError("graft explain failed")
        setup.append(wall)
    steps, t0 = [], time.perf_counter()
    while not steps or time.perf_counter() - t0 < seconds:
        steps.append(cli_step(cp, work, pid, cores, f"step{len(steps):03d}"))
    walls = [s["wall_s"] for s in steps]
    return {"setup": setup, "cold": walls, "warm": walls, "window_s": sum(walls),
            "peak_rss_mb": max(s["peak_rss_mb"] for s in steps), "runs": steps,
            "warm_runs": len(steps)}


# ---------------- traced run ----------------

def layer_metrics(res, trace, sink_dir):
    spans, jobs = trace["spans"], trace["jobs"]
    for j in jobs:
        j["span"] = stats.innermost(spans, j["start_ms"])

    def named(name):
        return [s for s in spans if s["name"] == name]

    def dur(name):
        return sum(s["end_ms"] - s["start_ms"] for s in named(name)) / 1000.0

    def jobs_under(name):
        ids = set()
        for s in named(name):
            ids |= stats.subtree(spans, s["id"])
        return [j for j in jobs if j["span"] in ids]

    def total(js, key):
        return sum(j[key] for j in js)

    mb = 1024.0 * 1024.0
    sinks = named("sinks")[0]
    sink_jobs = jobs_under("sinks")
    files, out_bytes = 0, 0
    for dp, _, fs in os.walk(sink_dir):
        for f in fs:
            if not f.startswith((".", "_")):
                files += 1
                out_bytes += os.path.getsize(os.path.join(dp, f))
    ph = res["compile_phases"]
    m = {
        "catalog.save_s": dur("catalog.save"), "catalog.load_s": dur("catalog.load"),
        "catalog.record_s": dur("catalog.record"), "catalog.file_kb": res["catalog_bytes"] / 1024.0,
        "spec.parse_s": dur("spec.parse"), "compile.s": dur("compile"),
        "compile.analysis_s": ph["analysis_s"], "compile.optimize_s": ph["optimize_s"],
        "compile.physical_s": ph["physical_s"], "compile.plan_nodes": ph["plan_nodes"],
        "compile.exchanges": ph["exchanges"], "compile.jobs": len(jobs_under("compile")),
        "transforms.build_s": dur("transforms"), "transforms.jobs": len(jobs_under("transforms")),
        "sources.read_s": dur("sources.read"), "sources.scan_s": dur("sources.scan"),
        "sources.scan_tasks": total(jobs_under("sources.scan"), "tasks"),
        "sources.input_mb": total(jobs_under("sources.scan"), "input_bytes") / mb,
        "sinks.task_s": total(sink_jobs, "run_ms") / 1000.0,
        "sinks.cpu_s": total(sink_jobs, "cpu_ns") / 1e9,
        "sinks.gc_s": total(sink_jobs, "gc_ms") / 1000.0,
        "sinks.shuffle_write_mb": total(sink_jobs, "shuffle_write_bytes") / mb,
        "sinks.spill_mb": total(sink_jobs, "spill_bytes") / mb,
        "sinks.aqe_replans": sum(1 for t in trace["aqe_updates_ms"]
                                 if sinks["start_ms"] <= t <= sinks["end_ms"]),
        "sinks.tasks": total(sink_jobs, "tasks"), "sinks.write_s": dur("sinks"),
        "sinks.files": files, "sinks.output_mb": out_bytes / mb, "sinks.jobs": len(sink_jobs),
        "sinks.driver_gap_s": stats.driver_gap_ms(
            (sinks["start_ms"], sinks["end_ms"]),
            [(j["start_ms"], j["end_ms"]) for j in sink_jobs]) / 1000.0,
        "run.s": dur("run"), "run.jobs": len(jobs_under("run")),
        "run.cold_jit_s": res["cold_jit_s"], "run.cold_gc_s": res["cold_gc_s"],
    }
    m["run.overhead_s"] = stats.run_overhead(m["run.s"], m["compile.s"], m["sinks.write_s"],
                                             m["catalog.record_s"])
    m["run.extra_jobs"] = stats.extra_jobs(m["run.jobs"], m["compile.jobs"],
                                           m["transforms.jobs"], m["sinks.jobs"])
    m["trace.overhead_s"] = m["run.s"] - stats.median([r["wall_s"] for r in res["runs"]])
    # self time per layer; the part of the harness wall no span covers
    # is the residual, so the table sums to the wall exactly
    own = stats.self_times(spans)
    layers = {}
    for s in spans:
        layer = s["name"].split(".")[0]
        layers[layer] = layers.get(layer, 0.0) + own[s["id"]] / 1000.0
    wall = (res["end_ms"] - res["start_ms"]) / 1000.0
    m["trace.residual_s"] = wall - sum(layers.values())
    return m, layers, wall, own


def traced(cp, work, cfg, workload, pid, cores):
    res = harness(cp, work, "trace", dict(cfg, out_dir=f"{work}/out", trace_out=f"{work}/trace.json",
                                          baseline_runs=BASELINE_RUNS, warmup_runs=WARMUP_RUNS),
                  "trace", TRACE_PROPS)
    with open(f"{work}/trace.json") as f:
        trace = json.load(f)
    m, layers, wall, own = layer_metrics(res, trace, f"{res['walk_dir']}")
    walk = {"status": "success", "rows_written": 0, "sink_dir": res["walk_dir"]}
    runs = [res["cold"], res["traced"]] + res["warmups"] + res["runs"]
    child = None
    if workload == "cli_small_runs":
        child = cli_step(cp, work, pid, cores, "traced_cli", TRACE_PROPS + [
            f"-Dgraftbench.trace.out={work}/cli_trace.json"])
        runs.append(child)
        with open(f"{work}/cli_trace.json") as f:
            child = json.load(f)
    return res, trace, m, layers, wall, own, runs, walk, child


# ---------------- main ----------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, stop_children)
    signal.signal(signal.SIGINT, stop_children)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        log("run.py: no program sources (src/main/scala) beside the benchmark")
        return 2

    cp = build.build()
    # scratch space of earlier JVMs (a halted setup probe leaves its own)
    shutil.rmtree(os.path.join(BUILD, "tmp", "spark"), ignore_errors=True)
    with open(os.path.join(BUILD, "classes.sha256")) as f:
        digest = f.read()
    cores = os.cpu_count()
    data = f"{BUILD}/data/{a.workload}/seed-{a.seed}"
    traffic, input_rows = gen.generate(a.workload, a.seed, data)

    work = f"{BUILD}/work/{a.workload}-s{a.seed}-t{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    pid = f"bench-{a.workload}"
    render_spec(a.workload, data, f"{work}/cur", f"{work}/spec.json")
    oracle_file = f"{BUILD}/oracle-{digest[:16]}.json"
    prep = {"catalog": f"{work}/catalog.db", "spec_file": f"{work}/spec.json",
            "pipeline_id": pid, "history_runs": HISTORY_RUNS[a.workload]}
    if not os.path.exists(oracle_file):
        prep.update(oracle_out=oracle_file, oracle_keys=check.ORACLE_KEYS)
    harness(cp, work, "prep", prep, "prep")
    with open(oracle_file) as f:
        oracle_sql = json.load(f)
    expected = check.expected_rows(a.workload, data, oracle_sql)
    prov = provenance(cp, digest, work, pid, cores, a.seed, traffic, input_rows, a.workload)
    cfg = {"cores": cores, "catalog": f"{work}/catalog.db", "pipeline_id": pid,
           "spec_file": f"{work}/spec.json"}

    detail = {"provenance": prov}
    if a.trace == 0:
        r = (cli_untraced(cp, work, pid, cores, a.seconds) if a.workload == "cli_small_runs"
             else jvm_untraced(cp, work, cfg, a.seconds))
        attempted, failed, row_err, reasons = account(a.workload, expected, r["runs"])
        tail, pct, n = stats.tail(r["warm"])
        values = {"setup_s": stats.median(r["setup"]), "cold_run_s": stats.median(r["cold"]),
                  "run_s_p50": stats.median(r["warm"]),
                  "rows_per_s": input_rows * r["warm_runs"] / r["window_s"]}
        units = dict(END_TO_END)
        detail.update(
            samples={"setup_s": r["setup"], "cold_run_s": r["cold"], "run_s": r["warm"]},
            extra={"run_s_tail": {"value": tail, "unit": "s", "percentile": pct, "samples": n},
                   "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
                   "fail_ratio": {"value": failed / attempted, "unit": "ratio"},
                   "record_row_error": {"value": row_err, "unit": "ratio"}},
            failures=reasons)
    else:
        res, trace, values, layers, wall, own, runs, walk, child = traced(
            cp, work, cfg, a.workload, pid, cores)
        attempted, failed, _, reasons = account(a.workload, expected, runs)
        _, wwhy = check_run(a.workload, expected, walk)
        attempted += 1
        if wwhy:
            failed += 1
            reasons.append("walk: " + wwhy)
        units = dict(PER_LAYER)
        log_trace(a, layers, wall, values)
        out = f"{BUILD}/traces/{a.workload}-s{a.seed}.json"
        os.makedirs(os.path.dirname(out), exist_ok=True)
        spans = [dict(s, self_ms=own[s["id"]]) for s in trace["spans"]]
        with open(out, "w") as f:
            json.dump(dict(trace, spans=spans, layers_self_s=layers, wall_s=wall,
                           metrics=values, cli_child=child, provenance=prov), f)
        detail.update(trace_file=os.path.relpath(out, ROOT), layers_self_s=layers,
                      wall_s=wall, failures=reasons)
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    detail["metrics"] = metrics
    os.makedirs(f"{BUILD}/results", exist_ok=True)
    with open(f"{BUILD}/results/{a.workload}-s{a.seed}-t{a.trace}.json", "w") as f:
        json.dump(detail, f, indent=1)
    for run_dir in os.listdir(work):     # sink outputs are checked; drop them
        p = os.path.join(work, run_dir)
        if os.path.isdir(p) and run_dir.startswith(("out", "step", "traced_cli", "cur")):
            shutil.rmtree(p, ignore_errors=True)
    print(json.dumps({k: v for k, v in detail.items() if k != "metrics"}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def log_trace(a, layers, wall, values):
    print(f"# traced run: {a.workload} seed {a.seed}, harness wall {wall:.3f} s")
    print(f"# {'layer':<12} {'self_s':>9} {'share':>7}")
    for k, v in sorted(layers.items(), key=lambda kv: -kv[1]):
        print(f"# {k:<12} {v:9.3f} {v / wall:7.1%}")
    res = values["trace.residual_s"]
    print(f"# {'(residual)':<12} {res:9.3f} {res / wall:7.1%}")
    print(f"# trace.overhead_s {values['trace.overhead_s']:.3f}")


if __name__ == "__main__":
    sys.exit(main())
