#!/usr/bin/env python3
"""The repository benchmark: three closed-loop workloads over the graft
engine, each one client on local[nproc] in a fresh JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a source checkout. It compiles the engine and the
benchmark's own Scala sources with the Scala compiler that ships in
Spark's jars directory (SPARK_HOME, or the one `spark-submit` on PATH
belongs to) into .bench_build/, reusing the classes while the sources are
unchanged. Each run gets a private scratch root under .bench_build/runs/
that holds the JVM's temp dir, Spark's local and warehouse dirs, Derby's
home, the fixture cache and every table; it is deleted when the run ends.

With --trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of a traced run, whose tracing
overhead is the listener's own callback time within the timed rounds. Earlier
stdout lines carry the provenance stamp, the raw samples and each
workload's named metrics. The span dump of a traced run is written to
.bench_build/trace-<workload>-<seed>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # nothing lands in the source tree
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics as M  # noqa: E402

WORKLOADS = ("hourly_pipeline", "lake_table_mix", "query_mix")
HEAP = "3g"
QUERY_SCALE = 0.02
# query_mix tables are the same in every run, as the harness's fixed test
# data is; the run's seed sets the query order within each pass
QUERY_DATA_SEED = 42
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
# The reference deployment's Airflow task times (BASELINE.md), shown beside
# the measured Scheduler task rows as context, never as a gate.
AIRFLOW_REFERENCE_S = {"run_single_script": 133.3, "aggregate_results": 17.1,
                       "index_to_elasticsearch": 5.8}
PACKAGES = ("ext", "ops", "functions", "ml", "streaming")


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        die("no Spark jars directory with a Scala compiler (set SPARK_HOME)")
    return jars


def sources(root):
    main = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "scala/*.scala")))
    res = sorted(p for p in glob.glob(os.path.join(root, "src/main/resources/**"), recursive=True)
                 if os.path.isfile(p))
    if not main or not own:
        die("engine sources (src/main/scala) or benchmark sources are missing")
    return main + own, res


def build(root, jars):
    """Compile once per source state; returns (classes dir, source hash)."""
    srcs, res = sources(root)
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    h.update(",".join(sorted(os.listdir(jars))).encode())
    digest = h.hexdigest()[:16]
    base = os.path.join(root, ".bench_build")
    out = os.path.join(base, f"classes-{digest}")
    if os.path.isfile(os.path.join(out, ".complete")):
        return out, digest
    os.makedirs(base, exist_ok=True)
    for old in glob.glob(os.path.join(base, "classes-*")) + glob.glob(
            os.path.join(base, "building-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = os.path.join(base, f"building-{digest}-{os.getpid()}")
    os.makedirs(tmp)
    argfile = os.path.join(base, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cp = os.path.join(jars, "*")
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                        f"-Djava.io.tmpdir={base}", "-cp", cp, "scala.tools.nsc.Main",
                        "-nowarn", "-classpath", cp, "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        shutil.rmtree(tmp, ignore_errors=True)
        die("compilation failed")
    rroot = os.path.join(root, "src/main/resources")
    for p in res:
        dst = os.path.join(tmp, os.path.relpath(p, rroot))
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copyfile(p, dst)
    open(os.path.join(tmp, ".complete"), "w").close()
    os.rename(tmp, out)
    return out, digest


def run_jvm(classes, jars, scratch, args, deadline):
    """One benchmark JVM; returns its parsed result file."""
    out = os.path.join(scratch, f"result-{args['trace']}.json")
    for d in ("tmp", "spark-local", "derby", "fixtures"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    # -Xmx is only the ceiling: the heap grows as the program needs it, so
    # peak RSS and the peak heap in use follow the program, not the setting
    cmd = ["java", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.hadoop.hadoop.tmp.dir={scratch}/tmp",
            "-cp", classes + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
            "--scratch", scratch, "--out", out]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = {k: v for k, v in os.environ.items()
           if k not in ("GRAFT_FIXTURE_DURABLE", "SPARK_GRAFT_JDBC_URL", "_JAVA_OPTIONS",
                        "JAVA_TOOL_OPTIONS")}
    # two malloc arenas: native memory, and so peak RSS, stops depending on
    # which of the JVM's many threads first touched the allocator
    env.update(GRAFT_FIXTURE_CACHE=f"{scratch}/fixtures", SPARK_LOCAL_DIRS=f"{scratch}/spark-local",
               TMPDIR=f"{scratch}/tmp", MALLOC_ARENA_MAX="2")
    log_path = os.path.join(scratch, f"jvm-{args['trace']}.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            die(f"the {args['workload']} run did not finish in time")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if p.returncode != 0 or not os.path.isfile(out):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        die(f"the {args['workload']} JVM exited with {p.returncode}")
    with open(out) as f:
        return json.load(f)


def oracle_check(data, out_dir):
    """Compare each query's set-up result with its DuckDB oracle twin."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
              "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.execute(
                f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetch_df()
            exp = con.execute(sql).fetch_df()
            exp = exp.reindex(sorted(exp.columns), axis=1).reset_index(drop=True)
            got = got.reindex(sorted(got.columns), axis=1).reset_index(drop=True)
            if list(exp.columns) != list(got.columns) or len(exp) != len(got):
                fails.append(f"{name}: shape {exp.shape} vs {got.shape}")
                continue
            pd.testing.assert_frame_equal(exp, got, check_dtype=False, check_exact=True)
        except Exception as e:  # a failed compare is a failed operation
            fails.append(f"{name}: {str(e)[:300]}")
    con.close()
    return len(oracle), fails


def attribute(trace):
    """Give each engine event to the deepest sequential span holding its
    start, and to that span's ancestors. Returns the per-span records and
    the jobs and stages that no sequential span holds."""
    spans = M.depths(trace["spans"])
    by_id = {s["id"]: i for i, s in enumerate(spans)}
    for s in spans:
        s.update(jobs=[], stages=[], phases=[])

    def give(t, key, item):
        i = M.owner(spans, t)
        while i is not None:
            spans[i][key].append(item)
            i = by_id.get(spans[i]["parent"])

    for j in trace["jobs"]:
        give(j[1], "jobs", j)
    fields = trace["stage_fields"]
    for st in trace["stages"]:
        give(st[2], "stages", dict(zip(fields, st)))
    for ph in trace["phases"]:
        give(ph[1], "phases", ph)
    for s in spans:
        lo, hi = s["t0"], s["t1"]
        wall = (hi - lo) / 1e3
        ivs = [(j[1], j[2]) for j in s["jobs"]]
        in_jobs = M.union_length([M.clip(iv, lo, hi) for iv in ivs]) / 1e3
        st = s["stages"]
        s["engine"] = {
            "jobs": len(s["jobs"]), "stages": len(st), "tasks": sum(x["tasks"] for x in st),
            "in_jobs_s": in_jobs, "driver_outside_jobs_s": wall - in_jobs,
            "planning_s": M.union_length([(p[1], p[2]) for p in s["phases"]]) / 1e3,
            "executor_cpu_s": sum(x["cpu_ns"] for x in st) / 1e9,
            "gc_s": sum(x["gc_ms"] for x in st) / 1e3,
            "input_bytes": sum(x["in_bytes"] for x in st),
            "shuffle_bytes": sum(x["shuffle_bytes"] for x in st),
            "spill_bytes": sum(x["spill_bytes"] for x in st),
            "output_bytes": sum(x["out_bytes"] for x in st)}
        children = [(c["t0"], c["t1"]) for c in spans if c["parent"] == s["id"]]
        s["wall_s"] = wall
        s["self_s"] = M.self_time((lo, hi), children) / 1e3
    # the parts-sum self-check, over jobs and over stages: a span fails
    # when a job or stage it owns runs past its end or into a child span,
    # and an event that no sequential span holds is a failure of its own
    failing, unowned = M.parts_check(spans, [(f"job {j[0]}", j[1], j[2]) for j in trace["jobs"]])
    st_failing, st_unowned = M.parts_check(
        spans, [(f"stage {x['id']}.{x['attempt']}", x["t0"], x["t1"]) for x in
                (dict(zip(fields, st)) for st in trace["stages"])])
    for i, s in enumerate(spans):
        s["parts_ok"] = i not in failing and i not in st_failing
    return spans, unowned + st_unowned


def sum_engine(spans):
    keys = spans[0]["engine"].keys() if spans else []
    return {k: sum(s["engine"][k] for s in spans) for k in keys}


ENGINE_KEYS = ("jobs", "stages", "tasks", "in_jobs_s", "driver_outside_jobs_s", "planning_s",
               "executor_cpu_s", "gc_s", "input_bytes", "shuffle_bytes", "spill_bytes",
               "output_bytes")
# Per-layer metrics: (name, unit, better). Engine figures are per round
# (tick, lake round or mix pass) of the traced run.
PER_LAYER = (
    [(f"engine.{k}", "s" if k.endswith("_s") else "bytes" if k.endswith("bytes") else "count",
      "lower") for k in ENGINE_KEYS]
    + [(f"setup.{k}", "s", "lower") for k in ("session_s", "input_gen_s", "warm_s")]
    + [("pipeline.account_task_p50_s", "s", "lower"), ("pipeline.account_task_max_s", "s", "lower"),
       ("pipeline.aggregate_task_s", "s", "lower"), ("pipeline.attempts_per_task", "ratio", "lower"),
       ("pipeline.jobs_per_tick", "count", "lower")]
    + [(f"{k}_s", "s", "lower") for k in (
        "sources.land", "sources.normalize", "ml.enrich", "lake.snapshot_write",
        "lake.discovery", "lake.diff", "sinks.jdbc", "sinks.es")]
    + [("sinks.jdbc_rows", "count", "higher"), ("sinks.es_requests", "count", "lower"),
       ("sinks.es_docs", "count", "higher")]
    + [("lake.files_live", "count", "lower"), ("lake.versions", "count", "lower"),
       ("lake.files_read_per_point_read", "ratio", "lower"),
       ("lake.rows_read_per_row_returned", "ratio", "lower"), ("spark.read_plan_s", "s", "lower"),
       ("lake.commit_s", "s", "lower"), ("lake.bytes_written_per_user_byte", "ratio", "lower"),
       ("lake.files_rewritten_per_merge", "count", "lower"),
       ("lake.tombstoned_rows", "count", "higher"),
       ("lake.maintain_bytes_rewritten", "bytes", "lower"),
       ("spark.stream_batches", "count", "lower"), ("spark.stream_batch_s", "s", "lower"),
       ("spark.stream_rows_per_batch", "ratio", "higher")]
    + [(f"{p}.{k}", u, "lower") for p in PACKAGES
       for k, u in (("query_s", "s"), ("jobs", "count"), ("executor_cpu_s", "s"),
                    ("driver_outside_jobs_s", "s"))]
    + [("jvm.heap_peak_mb", "MB", "lower")]
    + [("trace.round_p50_s", "s", "lower"),
       ("trace.overhead_ratio", "ratio", "lower"), ("trace.spans", "count", "higher"),
       ("trace.parts_sum_failures", "count", "lower")])
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def rounds_of(spans):
    """The timed rounds: ticks, lake rounds or mix passes."""
    return [s for s in spans if s["kind"] in ("tick", "round", "pass") and s["depth"] == 0]


def overhead(res, rounds):
    return M.listener_overhead([(s["t0"], s["t1"]) for s in rounds], res["trace"]["callbacks"])


def per_layer(res, spans, unowned):
    """Every per-layer metric; layers a workload does not exercise read 0."""
    m = dict.fromkeys(UNITS, 0.0)
    d = res["details"]
    rounds = rounds_of(spans)
    n = max(1, len(rounds))
    for k, v in sum_engine(rounds).items():
        m[f"engine.{k}"] = v / n
    for k in ("session_s", "input_gen_s", "warm_s"):
        m[f"setup.{k}"] = res["setup"][k]
    if res["workload"] == "hourly_pipeline":
        for k, v in d["pipeline"].items():
            m[f"pipeline.{k}"] = v
        m["pipeline.jobs_per_tick"] = m["engine.jobs"]
        for k, v in d["layers"].items():
            m[k] = v
    if res["workload"] == "lake_table_mix":
        def kind(k):
            return [s for s in spans if s["kind"] == k]
        reads = kind("point_read")
        m["lake.files_live"] = d["files_live"]
        m["lake.versions"] = d["versions"]
        m["lake.files_read_per_point_read"] = M.median(d["point_files_read"])
        rows_read = sum(x["in_records"] for s in reads for x in s["stages"])
        m["lake.rows_read_per_row_returned"] = M.ratio(rows_read, d["point_rows_returned"])["value"]
        m["spark.read_plan_s"] = M.median(
            [((min(j[1] for j in s["jobs"]) if s["jobs"] else s["t1"]) - s["t0"]) / 1e3
             for s in reads])
        m["lake.commit_s"] = M.median(
            [(s["t1"] - max(j[2] for j in s["jobs"])) / 1e3 for s in kind("append") if s["jobs"]])
        written = sum(s["engine"]["output_bytes"] for s in kind("append") + kind("merge"))
        m["lake.bytes_written_per_user_byte"] = M.ratio(written, d["user_bytes_written"])["value"]
        m["lake.files_rewritten_per_merge"] = d["files_rewritten_per_merge"]
        m["lake.tombstoned_rows"] = d["tombstoned_rows"]
        m["lake.maintain_bytes_rewritten"] = M.median(
            [s["engine"]["output_bytes"] for s in kind("maintain")])
        m["spark.stream_batches"] = d["stream"]["batches"]
        m["spark.stream_batch_s"] = d["stream"]["batch_s"]
        m["spark.stream_rows_per_batch"] = d["stream"]["rows_per_batch"]
    if res["workload"] == "query_mix":
        for p in PACKAGES:
            qs = [s for s in spans if s["kind"] == "query" and s["attrs"].get("package") == p]
            e = sum_engine(qs)
            m[f"{p}.query_s"] = sum(s["wall_s"] for s in qs) / n
            for k in ("jobs", "executor_cpu_s", "driver_outside_jobs_s"):
                m[f"{p}.{k}"] = e.get(k, 0) / n
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    # the traced run's own round p50: set against round_p50_s of the
    # untraced runs, the difference is the tracing overhead
    m["trace.round_p50_s"] = M.median(res["rounds"])
    m["trace.overhead_ratio"] = overhead(res, rounds)["value"]
    m["trace.spans"] = len(spans)
    m["trace.parts_sum_failures"] = (sum(1 for s in spans if s["seq"] and not s["parts_ok"]) +
                                     len(unowned))
    return m


def named(res, setup_s, failed, attempted):
    """The workload's own end-to-end metrics under their descriptive names,
    each with its unit: the ones every workload has, then its own."""
    d, samples = res["details"], {}
    for kind, sec in res["samples"]:
        samples.setdefault(kind, []).append(sec)
    out = {"setup_s": {"value": setup_s, "unit": "s"},
           "ops_failed": dict(M.ratio(failed, attempted), unit="ratio"),
           "rss_peak_mb": {"value": res["rss_peak_mb"], "unit": "MB"},
           "heap_peak_mb": {"value": res["heap_peak_mb"], "unit": "MB"}}

    def p50(name, kind):
        out[name] = {"value": M.median(samples.get(kind, [])), "unit": "s",
                     "n": len(samples.get(kind, []))}

    def tl(name, kind):
        t = M.tail(samples.get(kind, []))
        out[name] = ({"value": t[0], "unit": "s", "percentile": t[1], "n": t[2]} if t else
                     {"value": None, "unit": "s", "n": len(samples.get(kind, [])),
                      "note": "fewer than 11 samples, so no percentile has 10 beyond it"})

    if res["workload"] == "hourly_pipeline":
        p50("tick_p50_s", "tick")
        tl("tick_tail_s", "tick")
        out["scheduler_tasks"] = {
            "account_task_p50_s": d["pipeline"]["account_task_p50_s"],
            "aggregate_task_s": d["pipeline"]["aggregate_task_s"],
            "reference_airflow_s (context, not a gate)": AIRFLOW_REFERENCE_S}
    if res["workload"] == "lake_table_mix":
        for k in ("append", "point_read", "scan", "merge", "delete", "maintain",
                  "stream_catchup"):
            p50(f"{k}_p50_s", k)
        tl("point_read_tail_s", "point_read")
        out["bytes_per_user_byte"] = dict(M.ratio(d["table_bytes"], d["user_bytes"]),
                                          unit="ratio")
        out["page_cache"] = (f"table {d['table_bytes']} B, {d['live_rows']} live rows; "
                             f"{d['mem_available_bytes']} B of memory available, so the table "
                             "stays in the page cache")
    if res["workload"] == "query_mix":
        out["mix_pass_s"] = {"value": M.median(res["rounds"]), "unit": "s",
                             "n": len(res["rounds"])}
        out["query_cold_s"] = d["cold_s"]
        out["query_warm_p50_s"] = d["warm_s"]
    return out


def main():
    # a terminated run still stops its JVM and deletes its scratch root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    started = time.time()
    root = os.getcwd()
    jars = spark_jars()
    classes, digest = build(root, jars)
    deadline = time.time() + RUN_LIMIT_S
    scratch = os.path.join(root, ".bench_build", "runs", f"{os.getpid()}-{int(time.time())}")
    os.makedirs(scratch)
    try:
        setup_t0 = time.time()
        args = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds}
        if a.workload == "query_mix":
            import gen_tables
            g0 = time.time()
            data = os.path.join(scratch, "data")
            gen_tables.generate(QUERY_DATA_SEED, data, QUERY_SCALE)
            args.update(data=data, mix=os.path.join(HERE, "query_mix.txt"),
                        input_gen_s=time.time() - g0)
        res = run_jvm(classes, jars, scratch, dict(args, trace=int(a.trace)), deadline)
        attempted, failures = res["attempted"], list(res["failures"])
        if a.workload == "query_mix":
            n, fails = oracle_check(args["data"], res["details"]["out_dir"])
            attempted += n
            failures += fails
        rounds = res["rounds"]
        correct = not failures and len(rounds) > 0
        # process start until timing began: the input generation run.py
        # does before the JVM, then the JVM's start and its own set-up
        setup_s = res["timing_began_ms"] / 1e3 - setup_t0
        if a.trace == "0":
            metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                       "round_p50_s": {"value": M.median(rounds), "unit": "s"}}
        else:
            spans, unowned = attribute(res["trace"])
            pl = per_layer(res, spans, unowned)
            metrics = {k: {"value": v, "unit": UNITS[k]} for k, v in pl.items()}
            ovh = overhead(res, rounds_of(spans))
            dump = os.path.join(root, ".bench_build", f"trace-{a.workload}-{a.seed}.json")
            with open(dump, "w") as f:
                json.dump({"spans": [{k: s[k] for k in ("id", "parent", "name", "kind", "t0",
                                                         "t1", "wall_s", "self_s", "engine",
                                                         "parts_ok", "attrs")}
                                     for s in spans],
                           "overhead": ovh}, f)
            bad = [s["name"] for s in spans if s["seq"] and not s["parts_ok"]] + [
                f"{e} (no span)" for e in unowned]
            by_kind = {}
            for s in spans:
                by_kind.setdefault(s["kind"], []).append(s)
            print("# trace " + json.dumps({
                "by_span_kind": {k: dict(sum_engine(v), n=len(v), wall_s=sum(
                    x["wall_s"] for x in v), self_s=sum(x["self_s"] for x in v))
                    for k, v in by_kind.items()},
                "span_dump": os.path.relpath(dump, root), "spans": len(spans),
                "parts_sum_within_5pct": not bad, "parts_sum_failures": bad[:20],
                "overhead": ovh}))
        print("# provenance " + json.dumps(dict(
            res["provenance"], nproc=len(os.sched_getaffinity(0)), seed=a.seed,
            seconds=a.seconds, source_hash=digest, git_commit=git_commit(root),
            rounds=rounds, samples=res["samples"], setup=res["setup"],
            wall_s=time.time() - started)))
        print("# named " + json.dumps(dict(named(res, setup_s, len(failures), attempted),
                                           failures=failures[:20])))
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": len(failures), "metrics": metrics}))
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def git_commit(root):
    try:
        return subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except Exception:
        return None


if __name__ == "__main__":
    main()
