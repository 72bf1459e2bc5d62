#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, fresh JVMs.

    python3 perfbench/run.py --workload etl_arrivals --seed 1 --seconds 20 --trace 0

Run from the repository root.  Builds the program and the benchmark
driver from source into .bench_build/ (scalac from the Spark jars, no
sbt), generates the seeded inputs (cached per seed in .bench_build/),
runs the workload in fresh JVMs, checks every output, prints a report
and, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}.

--trace 0: end-to-end metrics.
--trace 1: per-layer metrics from a traced first pass, plus the tracing
overhead: its wall_s minus the wall_s of an untraced first pass of the
same seed in another fresh JVM.

Exit status 0 when every operation succeeded and every output matched;
1 on a failed or wrong output; 2 when the program cannot be built or
run (for instance outside a checkout of the repository).
"""
import argparse
import glob
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import check  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

BUILD = ".bench_build"
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
JVM_TIMEOUT = 150
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
MINHASH_LANES = {"q_dedup_minhash", "q_split_leakage", "q_dedup_clusters",
                 "q_dedup_keep_best", "q_dedup_incremental", "q_containment"}


def die(msg):
    print(f"graft benchmark: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scalac(out, classpath, sources):
    os.makedirs(out)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g",
                        "-cp", os.path.join(SPARK_JARS, "*"),
                        "scala.tools.nsc.Main", "-nowarn", "-d", out,
                        "-classpath", classpath] + sources,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        die(f"compile failed:\n{r.stdout[-4000:]}")


def build():
    """Compile src/main (and its resources) and the benchmark driver,
    once per source tree; returns the run classpath."""
    main_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    resources = sorted(p for p in glob.glob("src/main/resources/**", recursive=True)
                       if os.path.isfile(p))
    if not main_src or not bench_src:
        die("no program sources here; run from the root of a graft checkout")
    if not glob.glob(os.path.join(SPARK_JARS, "spark-sql_*.jar")):
        die(f"no Spark jars in {SPARK_JARS!r}; set SPARK_HOME")
    jars = os.pathsep.join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
    key = tree_hash(main_src + resources + bench_src)
    done = os.path.join(BUILD, f"classes-{key}")
    if not os.path.isdir(done):
        tmp = done + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        t = time.time()
        scalac(os.path.join(tmp, "main"), jars, main_src)
        for r in resources:
            dst = os.path.join(tmp, "main", os.path.relpath(r, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        scalac(os.path.join(tmp, "bench"), os.pathsep.join([os.path.join(tmp, "main"), jars]),
               bench_src)
        os.rename(tmp, done)
        print(f"built program and driver in {time.time() - t:.1f} s", file=sys.stderr)
    return os.pathsep.join([os.path.abspath(os.path.join(done, "bench")),
                            os.path.abspath(os.path.join(done, "main")),
                            os.path.join(SPARK_JARS, "*")])


def inputs(workload, seed):
    """Generated inputs for (workload, seed), cached per seed."""
    key = tree_hash([os.path.join(HERE, "gen.py")])
    d = os.path.abspath(os.path.join(BUILD, "inputs", f"{workload}-s{seed}-{key}"))
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(workload, seed, tmp)
        os.rename(tmp, d)
    return d


def heap_gb():
    """Half the machine's memory, clamped to 2..8 GB (Tier-1's rule)."""
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return min(8, max(2, kb // 2097152))


def jvm(cp, workload, inp, work, seconds, trace, lanes):
    """One fresh JVM; returns its result JSON."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{heap_gb()}g", "-XX:ReservedCodeCacheSize=1g", "-XX:-UsePerfData",
            "-Dspark.sql.codegen.cache.maxEntries=4096",
            "-Dspark.sql.codegen.useIdInClassName=false",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", cp, "graftbench.Main", workload, inp, work, str(seconds),
            str(trace)]
    launch = int(time.time() * 1000)
    cmd += [str(launch), ",".join(lanes) or "-"]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT)
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:  # also on SIGTERM/SIGINT: never leave the JVM behind
            if p.poll() is None:
                p.kill()
                p.wait()
    res = os.path.join(work, "run.json")
    if rc != 0 or not os.path.exists(res):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"JVM for {workload} ended with {rc}")
    with open(res) as f:
        return json.load(f)


def lane_order(cfg, workload, seed):
    lanes = list(cfg["workloads"][workload].get("lanes", {}))
    if workload == "lake_queries":
        random.Random(seed).shuffle(lanes)
    return lanes


def checks(workload, inp, work, res, truth, report):
    """{output: [failures]}"""
    t = time.time()
    if workload == "etl_arrivals":
        out = {"zones": check.etl(os.path.join(work, "zones"), res["orders_state"], truth)}
    else:
        took = {}
        out = check.lanes(os.path.join(inp, "lake"), os.path.join(work, "lanes"),
                          res.get("oracle_sql", {}), took)
        slow = sorted(took.items(), key=lambda kv: -kv[1])[:3]
        report.append("  slowest oracles: " + ", ".join(f"{k} {v:.2f} s" for k, v in slow))
    report.append(f"  output check took {time.time() - t:.1f} s")
    return out


def input_rows(workload, truth):
    if workload == "etl_arrivals":
        return truth["raw_rows"]
    if workload == "curate_corpus":
        return truth["rows"]["documents"]
    return sum(truth["rows"].values())


def end_to_end(workload, res, truth, report):
    ops = res["ops"]
    first = [o["dur_s"] for o in ops if o["pass"] == 0]
    settled = [o["dur_s"] for o in ops if o["pass"] > 0]
    m = {"setup_s": (res["setup_s"], "s"),
         "wall_s": (res["first_pass_s"], "s"),
         "rows_per_s": (input_rows(workload, truth) / res["first_pass_s"], "rows/s"),
         "first_p50_s": (statistics.median(first), "s"),
         "settled_p50_s": (statistics.median(settled), "s"),
         "retained_heap_mb": (res["retained_heap_mb"], "MB")}
    # G1 sizes the heap adaptively, so the peak RSS of identical runs
    # spreads by more than any usable bound: reported, not a metric
    report.append(f"  peak_rss_mb: {res['peak_rss_mb']:.1f} MB")
    # With a dozen operations per pass the tail rule lands near the
    # minimum, so tails are reported here but are not end-to-end metrics.
    for name, xs in (("first", first), ("settled", settled)):
        t = stats.tail(xs)
        report.append(f"  {name}_tail_s: " + (f"p{t[0]} of {len(xs)} samples = {t[1]:.6f} s"
                                              if t else f"n/a ({len(xs)} samples)"))
    return m


def per_layer(workload, res, ref, work, truth, report):
    """Per-layer metrics of a traced first pass (see workloads.json
    predictions); layers the workload does not call read 0."""
    tr = res["trace"]
    spans = tr["spans"]
    by_id = {s["id"]: s for s in spans}
    ops = [s for s in spans if s["parent"] == 0]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    ctr = {c["span"]: c for c in tr["op_counters"]}
    cores = tr["cores"]

    def layer_sum(name, op_ids):
        return sum(s["end"] - s["start"] for i in op_ids for s in kids.get(i, [])
                   if s["name"] == name)

    def exec_time(i):
        o = by_id[i]
        return stats.covered([(s["start"], s["end"]) for s in kids.get(i, [])
                              if s["name"] == "spark.job"], o["start"], o["end"])

    def driver_time(i):
        # time in the operation with no Spark job running
        return by_id[i]["end"] - by_id[i]["start"] - exec_time(i)

    def csum(key, op_ids):
        return sum(ctr[i][key] for i in op_ids if i in ctr)

    lane_ops = [o["id"] for o in ops if not o["name"].startswith("op:arrival_")]
    etl_ops = [o["id"] for o in ops if o["name"].startswith("op:arrival_")]
    all_ops = [o["id"] for o in ops]
    m = {}
    exec_s = sum(exec_time(i) for i in lane_ops)
    cpu_s = csum("cpu_ns", lane_ops) / 1e9
    m.update({
        "catalog.plan_s": (csum("plan_ms", lane_ops) / 1e3, "s"),
        "catalog.construct_s": (layer_sum("catalog.construct", lane_ops), "s"),
        "catalog.codegen_compiles": (csum("codegen_compiles", lane_ops), "count"),
        "catalog.codegen_s": (csum("codegen_ns", lane_ops) / 1e9, "s"),
        "catalog.jit_s": (csum("jit_ms", lane_ops) / 1e3, "s"),
        "catalog.jobs": (csum("jobs", lane_ops), "count"),
        "catalog.stages": (csum("stages", lane_ops), "count"),
        "catalog.tasks": (csum("tasks", lane_ops), "count"),
        "catalog.exec_s": (exec_s, "s"),
        "catalog.driver_s": (sum(driver_time(i) for i in lane_ops), "s"),
        "catalog.cpu_s": (cpu_s, "s"),
        "catalog.core_util": (cpu_s / (exec_s * cores) if exec_s else 0.0, "ratio"),
        "catalog.gc_s": (csum("gc_ms", lane_ops) / 1e3, "s"),
        "catalog.scan_bytes": (csum("scan_bytes", lane_ops), "bytes"),
        "catalog.shuffle_write_bytes": (csum("shuffle_write_bytes", lane_ops), "bytes"),
        "catalog.shuffle_read_bytes": (csum("shuffle_read_bytes", lane_ops), "bytes"),
        "catalog.fetch_wait_s": (csum("fetch_wait_ms", lane_ops) / 1e3, "s"),
        "catalog.spill_bytes": (csum("spill_bytes", lane_ops), "bytes"),
        "operators.build_s": (csum("build_ns", all_ops) / 1e9, "s"),
        "operators.derived_builds": (csum("derived_builds", all_ops), "count"),
        "operators.minhash_lsh_s": (sum(o["end"] - o["start"] for o in ops
                                        if o["name"][3:] in MINHASH_LANES), "s"),
    })
    pairs = os.path.join(work, "lanes", "q_dedup_minhash", "first")
    cand = res.get("lsh")
    m["operators.lsh_verified_ratio"] = (
        pq.read_table(pairs).num_rows / cand if cand and os.path.isdir(pairs) else 0.0, "ratio")
    kern = res.get("kernels", {})
    for k in ("minhash_sig", "simhash64", "char_shingle_hashes", "jaccard_sorted",
              "sorted_intersect", "token_entropy", "gram"):
        for suffix in ("rows_per_s", "interp_rows_per_s"):
            name = f"plans.{k}.{suffix}"
            m[name] = (kern.get(name, 0.0), "rows/s")
    n_arr = len(etl_ops)
    raw_rows = truth["raw_rows"] if workload == "etl_arrivals" else 0
    stored = (check.dir_bytes(os.path.join(work, "zones", "conformed"))
              + check.dir_bytes(os.path.join(work, "zones", "purpose_built"))
              if workload == "etl_arrivals" else 0)
    m.update({
        "etl.read_s": (layer_sum("etl.read", etl_ops) + layer_sum("etl.conform", etl_ops), "s"),
        "etl.write_s": (layer_sum("etl.write", etl_ops), "s"),
        "etl.catalog_s": (layer_sum("etl.catalog", etl_ops), "s"),
        "etl.transform_s": (layer_sum("etl.transform", etl_ops), "s"),
        "etl.merge_s": (layer_sum("etl.merge", etl_ops), "s"),
        "etl.jobs_per_batch": (csum("jobs", etl_ops) / n_arr if n_arr else 0.0, "count"),
        "etl.rows_kept_ratio": (csum("rows_conformed", etl_ops) / raw_rows if raw_rows else 0.0,
                                "ratio"),
        "etl.files_written": (csum("files_written", etl_ops), "count"),
        "etl.bytes_written": (csum("bytes_written", etl_ops), "bytes"),
        "etl.partitions_written": (csum("partitions_written", etl_ops), "count"),
        "etl.stored_bytes_per_input_byte": (stored / truth["raw_bytes"]
                                            if workload == "etl_arrivals" else 0.0, "ratio"),
        "trace.wall_s": (res["first_pass_s"], "s"),
        "trace.overhead_s": (res["first_pass_s"] - ref["first_pass_s"], "s"),
    })
    # per-operation split, for the report and the trace file
    rows = []
    for o in ops:
        i = o["id"]
        c = ctr.get(i, {})
        rows.append({"op": o["name"][3:], "start": o["start"], "dur_s": o["end"] - o["start"],
                     "plan_s": c.get("plan_ms", 0) / 1e3,
                     "construct_s": layer_sum("catalog.construct", [i]),
                     "codegen_s": c.get("codegen_ns", 0) / 1e9,
                     "jit_s": c.get("jit_ms", 0) / 1e3, "exec_s": exec_time(i),
                     "driver_s": driver_time(i), "build_s": c.get("build_ns", 0) / 1e9,
                     "jobs": c.get("jobs", 0)})
    report.append(f"  {'operation':28s} {'dur':>7s} {'plan':>6s} {'constr':>6s} "
                  f"{'cgen':>6s} {'jit':>6s} {'exec':>6s} {'driver':>6s} {'build':>6s} {'jobs':>5s}")
    for r in rows:
        report.append(f"  {r['op']:28s} {r['dur_s']:7.3f} {r['plan_s']:6.3f} "
                      f"{r['construct_s']:6.3f} {r['codegen_s']:6.3f} {r['jit_s']:6.3f} "
                      f"{r['exec_s']:6.3f} {r['driver_s']:6.3f} {r['build_s']:6.3f} "
                      f"{r['jobs']:5.0f}")
    return m, {"spans": spans, "self_s": stats.self_times(spans), "ops": rows}


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)
    if a.workload not in cfg["workloads"]:
        die(f"unknown workload {a.workload}; one of {sorted(cfg['workloads'])}")
    cp = build()
    inp = inputs(a.workload, a.seed)
    with open(os.path.join(inp, "truth.json")) as f:
        truth = json.load(f)
    lanes = lane_order(cfg, a.workload, a.seed)
    work = os.path.abspath(os.path.join(BUILD, "runs", a.workload))

    def run(trace, seconds=a.seconds):
        return jvm(cp, a.workload, inp, work, seconds, trace, lanes)

    report = [f"graft benchmark: {a.workload} seed={a.seed} seconds={a.seconds} "
              f"trace={a.trace} cores={os.cpu_count()} heap={heap_gb()}g"]
    if a.trace:
        # first passes only: the traced one and an untraced one for the
        # tracing overhead, each in its own fresh JVM
        ref = run(0, seconds=-1)
        res = run(1, seconds=-1)
    else:
        res = run(0)
    fails = checks(a.workload, inp, work, res, truth, report)
    ops = res["ops"] + (ref["ops"] if a.trace else [])
    op_failed = [o for o in ops if not o["ok"]]
    bad_outputs = {k: v for k, v in fails.items() if v}
    attempted = len(ops)
    failed = min(attempted, len(op_failed) + len(bad_outputs))
    for o in op_failed:
        report.append(f"  PROGRAM DEFECT: {o['name']} pass {o['pass']} failed: {o['error']}")
    for k, v in bad_outputs.items():
        report.append(f"  PROGRAM DEFECT: output {k} is wrong: {'; '.join(v)[:500]}")
    report.append(f"  operations {attempted}, failed {failed}, error_rate "
                  f"{failed / attempted:.4f}, outputs checked {len(fails)}, "
                  f"passes {res['passes']:.0f}, body {res['body_s']:.3f} s")
    if a.trace:
        metrics, trace_doc = per_layer(a.workload, res, ref, work, truth, report)
        os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
        tpath = os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json")
        with open(tpath, "w") as f:
            json.dump(trace_doc, f)
        report.append(f"  tracing overhead: traced wall_s {res['first_pass_s']:.3f} - "
                      f"untraced {ref['first_pass_s']:.3f} = "
                      f"{res['first_pass_s'] - ref['first_pass_s']:.3f} s; spans in {tpath}")
    else:
        metrics = end_to_end(a.workload, res, truth, report)
    for k, (v, unit) in metrics.items():
        report.append(f"  {k:40s} {v:16.6f} {unit}")
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(report))
    print(json.dumps({"correct": not bad_outputs and not op_failed, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if failed == 0 else 1)


if __name__ == "__main__":
    main()
