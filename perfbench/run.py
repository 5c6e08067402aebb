#!/usr/bin/env python3
"""Two-workload benchmark of the graft batch-ETL library.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name|all> --seed <n> \
        --seconds <s> --trace <0|1>

Workloads (one closed-loop client, local[nproc], shuffle partitions =
nproc, inputs from perfbench/data and the seeded generator):

  etl_batch  graft.examples.FactCustomerTask over seeded CSVs with planted
             DQ faults; one operation = one execute() of a report-date
             batch (idempotent batch overwrite).
  catalog    catalog queries: relational and TPC-H-shape SQL, native LSH
             kernels, and a persisted index that is written, appended to
             and read.

A catalog operation builds the query's frame and collects its result.
The seed generates the ETL inputs and permutes the catalog query order.

The first run builds the library and the harness with sbt (perfbench/
build.sbt), caches the classpath and records a JVM class-data-sharing
archive; later runs start the JVM directly.
Each run does three set-ups, one untimed warm-up pass over the
operations, a fixed number of timed passes (sized from --seconds and the
workload's nominal pass length), then untimed checks: every catalog
result is compared with its DuckDB oracle by tools/compare_oracle.py,
and every ETL count with the generator's planted counts, once after the
warm-up pass has loaded every date and again after the timed passes have
re-run them.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics with --trace 0, the per-layer metrics
of a traced run with --trace 1. The full record (per-operation table,
health, per-layer self times) is written to perfbench/out/. The command
exits non-zero when any check fails.
"""
import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import etlgen  # noqa: E402
import stats  # noqa: E402

# After its warm-up pass a run makes max(2, round(seconds / PASS_S))
# timed passes over a workload's operations: a fixed count for a given
# --seconds, so per-operation medians rest on the same number of samples
# on every run and commit. PASS_S is a pass's length on a 4-core host.
CATALOG_OPS = {
    # relational (q1), TPC-H shape (q256), LSH kernels of graft.functions
    # under graft.operators.Similarity (q29), and a TF index written,
    # appended to and read by graft.operators.Retrieval (q330)
    "catalog": ["q1_agg", "q256_tpch16", "q29_lsh_neardup", "q330_bm25_incremental"],
}
PASS_S = {"etl_batch": 5.0, "catalog": 9.5}
WORKLOADS = ["etl_batch", *CATALOG_OPS]
ETL_CUSTOMERS = 10000
ETL_DATES = 2

END_TO_END = [("setup_s", "s"), ("run_s", "s"), ("op_p50_s", "s"),
              ("op_tail_s", "s"), ("heap_live_peak_mb", "MB"),
              ("rows_per_s", "1/s")]
PER_LAYER = [
    ("queries.build_s", "s"), ("queries.exec_s", "s"),
    ("sched.jobs_build", "count"), ("sched.jobs_exec", "count"),
    ("driver.result_bytes", "B"), ("catalyst.plan_s", "s"),
    ("sched.task_wait_s", "s"), ("exec.run_s", "s"), ("exec.cpu_s", "s"),
    ("exec.gc_s", "s"), ("exec.core_busy_share", "ratio"),
    ("shuffle.write_bytes", "B"), ("shuffle.read_bytes", "B"),
    ("shuffle.fetch_wait_s", "s"), ("spill.bytes", "B"),
    ("sources.csv_s", "s"), ("pipeline.migrate_s", "s"),
    ("pipeline.transform_s", "s"), ("pipeline.validate_s", "s"),
    ("sink.overwrite_batch_fact_s", "s"), ("sink.overwrite_batch_dq_s", "s"),
    ("sched.jobs_per_batch", "count"), ("io.read_amplification", "ratio"),
    ("io.input_bytes", "B"), ("io.output_bytes", "B"),
    ("io.out_bytes_per_in_byte", "ratio"), ("tracing.overhead_s", "s"),
    ("sched.speedup_1core", "ratio"), ("host.cpu_probe_before_s", "s"),
    ("host.cpu_probe_after_s", "s"), ("host.load_avg_before", "load"),
    ("host.load_avg_after", "load"), ("health.first_vs_median", "ratio"),
]
CDS_ARCHIVE = os.path.join(HERE, "target", "classes.jsa")
BUILD_SPANS = {"queries.build", "pipeline.migrate", "pipeline.transform"}
EXEC_SPANS = {"queries.exec", "pipeline.validate"}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


class BenchError(Exception):
    pass


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, **kw):
    """Run a child to completion, killing it on timeout; output to stderr."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=kw.pop("stdout", sys.stderr),
                         stderr=sys.stderr, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise BenchError(f"{cmd[0]} timed out after {timeout:.0f} s")
    except BaseException:  # interrupted or terminated: take the child along
        p.kill()
        p.wait()
        raise
    return p.returncode, out


def classpath():
    """Build with sbt when the cached classpath is missing or older than
    any source; return the classpath."""
    lib = os.path.join(ROOT, "src", "main", "scala")
    oracle = os.path.join(ROOT, "tools", "compare_oracle.py")
    for p in (lib, oracle, os.path.join(HERE, "data")):
        if not os.path.exists(p):
            raise BenchError(f"missing {os.path.relpath(p, ROOT)}: run from a checkout of the repository")
    marker = os.path.join(HERE, "target", "classpath.txt")
    newest = 0.0
    for top in (lib, os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, _, files in os.walk(top):
            if os.path.relpath(d, HERE).startswith(os.path.join("project", "target")):
                continue
            newest = max([newest] + [os.path.getmtime(os.path.join(d, f)) for f in files])
    newest = max(newest, os.path.getmtime(os.path.join(HERE, "build.sbt")))
    if not os.path.exists(marker) or os.path.getmtime(marker) < newest:
        log("[perfbench] building library and harness with sbt")
        rc, _ = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         HERE, 600, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(marker):
            raise BenchError(f"sbt build failed (exit {rc})")
    with open(marker) as f:
        cp = f.read().strip()
    if not os.path.exists(CDS_ARCHIVE) or os.path.getmtime(CDS_ARCHIVE) < os.path.getmtime(marker):
        train_cds(cp)
    return cp


def train_cds(cp):
    """Record the classes the catalog warm-up pass loads into a JVM
    class-data-sharing archive. It halves JVM and Spark start-up, which is
    most of a run's fixed cost. Without it runs still work, only slower."""
    log("[perfbench] recording the class-data-sharing archive")
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)
    work = os.path.join(HERE, ".work", f"cds-{os.getpid()}")
    os.makedirs(work)
    args = {"workload": "catalog", "cores": len(os.sched_getaffinity(0)),
            "passes": 0, "trace": 0, "work": work, "data": os.path.join(HERE, "data"),
            "ops": ",".join(CATALOG_OPS["catalog"])}
    try:
        run_jvm(cp, args, work, 300, [f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}"])
    except BenchError as e:
        log(f"[perfbench] no class-data-sharing archive: {e}")
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run_jvm(cp, args, work, timeout, flags=None):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    if flags is None:
        flags = [f"-XX:SharedArchiveFile={CDS_ARCHIVE}"] if os.path.exists(CDS_ARCHIVE) else []
    cmd = [java, "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", "-Xlog:disable",
           "-Xlog:all=error:stderr", *flags, f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.system.home={work}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
    cmd += ["-cp", cp, "perfbench.Main"] + [f"{k}={v}" for k, v in args.items()]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rc, _ = run_proc(cmd, work, timeout, stdin=subprocess.DEVNULL)
    if rc != 0:
        raise BenchError(f"benchmark JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---- checks ---------------------------------------------------------------

def oracle_failures(result, ops, timeout):
    """Operations whose dumped result does not match its DuckDB oracle."""
    dump = result["check"]["dump_dir"]
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        have = set(json.load(f))
    checked = [o for o in ops if o in have and o in result["check"]["dumped"]]
    rc, out = run_proc([sys.executable, os.path.join(ROOT, "tools", "compare_oracle.py"),
                        os.path.join(HERE, "data"), dump, ",".join(checked)],
                       ROOT, timeout, stdout=subprocess.PIPE, text=True)
    log(out.rstrip())
    ok = {line.split()[1].rstrip(":") for line in out.splitlines()
          if line.startswith("OK ")}
    return {o for o in ops if o not in ok}


def etl_failures(result, expected):
    """Report dates whose fact or DQ counts differ from the planted ones,
    after the warm-up pass loaded every date or after the timed passes
    re-ran them."""
    fact, dq = expected
    c = result["check"]
    bad = set()
    for got_fact, got_dq in ((c["fact"], c["dq"]), (c["fact_rerun"], c["dq_rerun"])):
        for d in fact:
            if got_fact.get(d) != fact[d]:
                bad.add(d)
        for k in set(dq) | set(got_dq):
            if dq.get(k) != got_dq.get(k):
                bad.add(k.split("|")[0])
    return bad


# ---- metrics --------------------------------------------------------------

def end_to_end(result, samples):
    """End-to-end metrics. op_p50_s and op_tail_s are the median and p90
    of the per-operation medians: a run has too few samples per operation
    for a pooled percentile with ten samples beyond it, and a pooled
    percentile lands on one operation's samples. The pooled tail goes to
    the record with its sample count."""
    by_op = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["seconds"])
    times = [s["seconds"] for s in samples]
    medians = sorted(stats.median(v) for v in by_op.values())
    level, value, n, beyond, rule_met = stats.tail(times)
    return {
        "setup_s": stats.median(result["setups"]),
        "run_s": sum(medians),
        "op_p50_s": stats.median(medians),
        "op_tail_s": stats.nearest_rank(medians, 90),
        "heap_live_peak_mb": result["heap_live_peak_mb"],
        "rows_per_s": sum(s["rows"] for s in samples) / sum(times),
    }, {"level": level, "value": value, "n": n, "beyond": beyond,
        "ten_beyond": rule_met, "pooled_p50_s": stats.median(times)}, by_op


def per_layer(result, samples, by_op, firsts, input_bytes):
    """Per-operation means of the traced run's layer figures."""
    tr = result["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    ev = {}
    for e in tr["events"]:
        ev.setdefault(e["kind"], []).append(e)
    roots = sorted((s for s in spans.values() if s["name"] == "op"),
                   key=lambda s: s["start_us"])
    n_ops = max(1, len(roots))
    windows = [(s["start_us"] / 1e3, s["end_us"] / 1e3) for s in roots]

    def kind_of(name):
        if name in BUILD_SPANS:
            return "build"
        if name in EXEC_SPANS or name.startswith("sink.overwrite_batch"):
            return "exec"
        return "op"

    jobs = {j["id"]: j for j in ev.get("job", [])}
    for e in ev.get("job_end", []):
        if e["id"] in jobs:
            jobs[e["id"]]["end_ms"] = e["end_ms"]
    stage_job = {}
    for j in sorted(jobs.values(), key=lambda j: j["id"]):
        j["kind"] = kind_of(spans[int(j["group"])]["name"]) \
            if j["group"] and j["group"].isdigit() and int(j["group"]) in spans else "none"
        for st in j["stages"]:
            stage_job.setdefault(st, j["id"])
    stages = {s["id"]: s for s in ev.get("stage", [])}
    tasks = [t for t in ev.get("task", []) if t["stage"] in stage_job]
    for t in tasks:
        t["job"] = jobs[stage_job[t["stage"]]]

    def total(name):
        return sum(s["end_us"] - s["start_us"] for s in spans.values()
                   if s["name"] == name) / 1e6 / n_ops

    def tsum(key, pred=lambda t: True):
        return sum(t[key] for t in tasks if pred(t)) / n_ops

    first_launch = {}
    for t in tasks:
        jid = t["job"]["id"]
        first_launch[jid] = min(first_launch.get(jid, t["launch_ms"]), t["launch_ms"])
    plan_ms = sum(p["end_ms"] - p["start_ms"] for p in ev.get("phase", [])
                  if any(a <= p["start_ms"] <= b for a, b in windows))
    in_b = tsum("in_b")
    out_b = tsum("out_b")
    etl = result["workload"] == "etl_batch"
    medians = sum(stats.median(v) for v in by_op.values())
    firsts = sum(firsts.values())
    h = result["health"]
    m = {
        "queries.build_s": sum(total(n) for n in BUILD_SPANS),
        "queries.exec_s": sum(total(n) for n in EXEC_SPANS) + sum(
            total(n) for n in {s["name"] for s in spans.values()}
            if n.startswith("sink.overwrite_batch")),
        "sched.jobs_build": sum(1 for j in jobs.values() if j["kind"] == "build") / n_ops,
        "sched.jobs_exec": sum(1 for j in jobs.values() if j["kind"] == "exec") / n_ops,
        "driver.result_bytes": tsum("result_b", lambda t: t["job"]["kind"] == "build"),
        "catalyst.plan_s": plan_ms / 1e3 / n_ops,
        "sched.task_wait_s": sum(first_launch[j] - jobs[j]["start_ms"]
                                 for j in first_launch) / 1e3 / n_ops,
        "exec.run_s": tsum("run_ms") / 1e3,
        "exec.cpu_s": tsum("cpu_ns") / 1e9,
        "exec.gc_s": tsum("gc_ms") / 1e3,
        "exec.core_busy_share": stats.core_busy_share(
            [(t["launch_ms"], t["finish_ms"]) for t in tasks], windows, result["cores"]),
        "shuffle.write_bytes": tsum("sw_b"),
        "shuffle.read_bytes": tsum("sr_b"),
        "shuffle.fetch_wait_s": tsum("fetch_ms") / 1e3,
        "spill.bytes": tsum("spill_b"),
        "sources.csv_s": tsum("run_ms", lambda t: stages.get(t["stage"], {}).get("csv", False)) / 1e3,
        "pipeline.migrate_s": total("pipeline.migrate"),
        "pipeline.transform_s": total("pipeline.transform"),
        "pipeline.validate_s": total("pipeline.validate"),
        "sink.overwrite_batch_fact_s": total("sink.overwrite_batch.fact_customer"),
        "sink.overwrite_batch_dq_s": total("sink.overwrite_batch.fact_customer_dq"),
        "sched.jobs_per_batch": len(jobs) / n_ops if etl else 0.0,
        "io.read_amplification": in_b / input_bytes if etl and input_bytes else 0.0,
        "io.input_bytes": in_b,
        "io.output_bytes": out_b,
        # ETL: bytes written per byte of source CSV; catalog: per byte read
        "io.out_bytes_per_in_byte": out_b / (input_bytes if etl else in_b) if in_b else 0.0,
        "tracing.overhead_s": tr["overhead_s"] / n_ops,
        # the one-core pass runs warm: compare it with the last pass
        "sched.speedup_1core": result["one_core_pass_s"] / sum(
            s["seconds"] for s in samples if s["pass"] == result["passes"] - 1),
        "host.cpu_probe_before_s": h["before"]["cpu_probe_s"],
        "host.cpu_probe_after_s": h["after"]["cpu_probe_s"],
        "host.load_avg_before": h["before"]["load_avg"],
        "host.load_avg_after": h["after"]["load_avg"],
        "health.first_vs_median": firsts / medians if medians else 0.0,
    }
    return m, layer_table(spans, jobs, tasks, n_ops), op_split(spans, jobs, roots, samples)


def layer_table(spans, jobs, tasks, n_ops):
    """Self time per layer: spans, the Spark jobs submitted under them, and
    the tasks of those jobs (which are leaves)."""
    nodes = {("s", s["id"]): (("s", s["parent"]) if s["parent"] else 0,
                              s["start_us"] / 1e6, s["end_us"] / 1e6)
             for s in spans.values()}
    names = {("s", s["id"]): s["name"] for s in spans.values()}
    for j in jobs.values():
        if "end_ms" in j:
            parent = ("s", int(j["group"])) if j["kind"] != "none" else 0
            nodes[("j", j["id"])] = (parent, j["start_ms"] / 1e3, j["end_ms"] / 1e3)
            names[("j", j["id"])] = "sched.job"
    for k, t in enumerate(tasks):
        if ("j", t["job"]["id"]) in nodes:
            nodes[("t", k)] = (("j", t["job"]["id"]), t["launch_ms"] / 1e3, t["finish_ms"] / 1e3)
    self_t = stats.self_times(nodes)
    rows = {}
    for node, name in names.items():
        r = rows.setdefault(name, {"count": 0, "total_s": 0.0, "self_s": 0.0})
        r["count"] += 1
        r["total_s"] += nodes[node][2] - nodes[node][1]
        r["self_s"] += self_t[node]
    for r in rows.values():
        r["self_s_per_op"] = r["self_s"] / n_ops
    return rows


def op_split(spans, jobs, roots, samples):
    """Build/execute split per operation: median seconds and mean jobs.
    Root spans run in the order the samples were recorded."""
    kids = {}
    for s in spans.values():
        kids.setdefault(s["parent"], []).append(s)
    root_name, out = {}, {}
    for root, sample in zip(roots, samples):
        root_name[root["id"]] = sample["op"]
        d = out.setdefault(sample["op"], {"build_s": [], "exec_s": [], "jobs_build": 0, "jobs_exec": 0})
        b = sum(k["end_us"] - k["start_us"] for k in kids.get(root["id"], [])
                if k["name"] in BUILD_SPANS) / 1e6
        d["build_s"].append(b)
        d["exec_s"].append((root["end_us"] - root["start_us"]) / 1e6 - b)
    for j in jobs.values():
        if j["kind"] in ("build", "exec"):
            name = root_name.get(spans[int(j["group"])]["parent"])
            if name:
                out[name]["jobs_" + j["kind"]] += 1
    return {n: {"build_s": stats.median(d["build_s"]), "exec_s": stats.median(d["exec_s"]),
                "jobs_build": d["jobs_build"] / len(d["build_s"]),
                "jobs_exec": d["jobs_exec"] / len(d["build_s"])} for n, d in out.items()}


# ---- one run ----------------------------------------------------------------

def run_one(name, seed, seconds, trace, cp):
    """Run one workload; return (result line, report)."""
    started = time.time()
    rng = random.Random(seed)
    work = os.path.join(HERE, ".work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        args = {"workload": name, "cores": len(os.sched_getaffinity(0)),
                "passes": max(2, round(seconds / PASS_S[name])),
                "trace": trace, "work": work, "data": os.path.join(HERE, "data")}
        input_bytes = 0
        if name == "etl_batch":
            dates = etlgen.report_dates(ETL_DATES)
            csv_dir = os.path.join(work, "csv")
            expected = etlgen.generate(seed, csv_dir, ETL_CUSTOMERS, dates)
            input_bytes = sum(os.path.getsize(os.path.join(csv_dir, f))
                              for f in os.listdir(csv_dir))
            args.update(ops=",".join(dates), csv_dir=csv_dir, rows_per_op=ETL_CUSTOMERS)
        else:
            ops = list(CATALOG_OPS[name])
            rng.shuffle(ops)
            args["ops"] = ",".join(ops)
        result = run_jvm(cp, args, work, 150 - (time.time() - started))
        log(f"[perfbench] {name}: JVM done after {time.time() - started:.1f} s")
        samples = result["samples"]
        if name == "etl_batch":
            bad = etl_failures(result, expected)
        else:
            bad = oracle_failures(result, args["ops"].split(","),
                                  max(5, 170 - (time.time() - started)))
        log(f"[perfbench] {name}: checks done after {time.time() - started:.1f} s")
        warm_up = result["warm_up"]
        failed = sum(1 for s in warm_up + samples if not s["ok"] or s["op"] in bad)
        firsts = {s["op"]: s["seconds"] for s in warm_up}
        e2e, tail, by_op = end_to_end(result, samples)
        report = {"workload": name, "seed": seed, "trace": trace,
                  "passes": result["passes"], "measure_s": result["measure_s"],
                  "setups_s": result["setups"], "end_to_end": e2e, "op_tail": tail,
                  "heap_live_mb": result["heap_live_mb"],
                  "health": dict(result["health"], first_vs_median={
                      op: firsts[op] / stats.median(v) for op, v in by_op.items()}),
                  "check": result["check"], "failed_checks": sorted(bad), "errors": sorted(
                      {s["error"] for s in warm_up + samples if s["error"]}),
                  "warm_up": warm_up, "samples": samples}
        units = dict(END_TO_END)
        if trace:
            layer, table, split = per_layer(result, samples, by_op, firsts, input_bytes)
            report.update(per_layer=layer, layer_self_times=table, op_split=split)
            metrics, units = layer, dict(PER_LAYER)
        else:
            metrics = e2e
        line = {"correct": failed == 0, "attempted": len(warm_up) + len(samples),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        out = os.path.join(HERE, "out", f"{name}_seed{seed}_trace{trace}")
        os.makedirs(os.path.dirname(out), exist_ok=True)
        with open(out + ".json", "w") as f:
            json.dump(report, f, indent=1)
        if trace:  # the raw spans, jobs, stages and tasks
            shutil.copy(os.path.join(work, "result.json"), out + ".raw.json")
        return line, report
    finally:
        shutil.rmtree(work, ignore_errors=True)


def print_report(report, line):
    w = report["workload"]
    print(f"== {w}  seed {report['seed']}  passes {report['passes']}  "
          f"measured {report['measure_s']:.2f} s  attempted {line['attempted']}  "
          f"failed {line['failed']}")
    for k, m in line["metrics"].items():
        print(f"  {k:32s} {m['value']:>14.6g} {m['unit']}")
    t = report["op_tail"]
    print(f"  pooled tail: p{t['level']} of {t['n']} operations = {t['value']:.4f} s "
          f"({t['beyond']} beyond it{'' if t['ten_beyond'] else '; fewer than 10'})")
    h = report["health"]
    print(f"  host: load {h['before']['load_avg']:.2f} -> {h['after']['load_avg']:.2f}, "
          f"cpu probe {h['before']['cpu_probe_s']:.4f} -> {h['after']['cpu_probe_s']:.4f} s")
    if "op_split" in report:
        print(f"  {'operation':28s} {'build_s':>9s} {'exec_s':>9s} {'jobs_b':>7s} {'jobs_e':>7s}")
        for op, d in sorted(report["op_split"].items()):
            print(f"  {op:28s} {d['build_s']:9.4f} {d['exec_s']:9.4f} "
                  f"{d['jobs_build']:7.1f} {d['jobs_exec']:7.1f}")
        print(f"  {'layer':36s} {'count':>6s} {'total_s':>9s} {'self_s':>9s} {'self/op':>9s}")
        for name, r in sorted(report["layer_self_times"].items()):
            print(f"  {name:36s} {r['count']:6d} {r['total_s']:9.3f} {r['self_s']:9.3f} "
                  f"{r['self_s_per_op']:9.4f}")
    if report["failed_checks"] or report["errors"]:
        print(f"  failed checks: {report['failed_checks']}  errors: {report['errors'][:3]}")


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        cp = classpath()
        names = WORKLOADS if a.workload == "all" else [a.workload]
        lines = []
        for name in names:
            line, report = run_one(name, a.seed, a.seconds, a.trace, cp)
            print_report(report, line)
            lines.append((name, line))
    except BenchError as e:
        log(f"[perfbench] error: {e}")
        sys.exit(2)
    if len(lines) == 1:
        final = lines[0][1]
    else:
        final = {"correct": all(l["correct"] for _, l in lines),
                 "attempted": sum(l["attempted"] for _, l in lines),
                 "failed": sum(l["failed"] for _, l in lines),
                 "metrics": {f"{n}.{k}": m for n, l in lines for k, m in l["metrics"].items()}}
    print(json.dumps(final), flush=True)
    sys.exit(0 if final["correct"] else 1)


if __name__ == "__main__":
    main()
