#!/usr/bin/env python3
"""Benchmark for the pot store and the query engine.

Run one workload:
    python3 perfbench/run.py --workload pot-parity --seed 1 --seconds 5 --trace 0
Run every workload untraced and traced, with the tracing overhead:
    python3 perfbench/run.py --workload all --seed 1 --seconds 5

Run from the root of a source tree. The program is compiled from
`src/main/scala` into `.bench_build/`; every run works in `.bench_work/`.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics and `--trace 1` the per-layer ones. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics as M  # noqa: E402
import model  # noqa: E402

WORKLOADS = ["pot-parity", "bucketed-sql", "query-mix"]
# A warm pass takes about 7 s on 4 cores; see README.md for the queries
# left out to keep every run inside the time budget.
QUERIES = [
    "q1_pricing_summary", "q2_filter_project", "q3_join_revenue",
    "q6_join_left_outer", "q13_agg_cube", "q21_orderby_limit", "q38_pivot",
    "q65_semi_additive", "t10_bm25", "s1_cosine_topk", "m5_frame_dedup",
    "st13_stream_rollup"]
RELATIONAL = {q for q in QUERIES if q[0] == "q"}
STREAMING = {q for q in QUERIES if q.startswith("st")}

SETUP_REPS = 3
HEAP = "4g"
POT_PATHS, POT_DOCS = 8, 200
SQL_DOCS, SQL_BUCKETS = 20000, 16
MIX_SCALE = 1.0
# The loop ends on a unit boundary, so every run holds the exact mix: a
# block of the store mixes, a pass over the query list.
UNIT_OPS = {"pot-parity": model.POT_UNIT, "bucketed-sql": model.SQL_UNIT,
            "query-mix": len(QUERIES)}
# Three store units let ops_per_s take the median unit; two passes give the
# query median ten samples beyond it.
MIN_UNITS = {"pot-parity": 3, "bucketed-sql": 3, "query-mix": 2}
# Two units of warm-up: per-operation latency keeps falling through the
# first unit while the JIT compiles the hot paths.
WARMUP_OPS = {"pot-parity": 2 * model.POT_UNIT,
              "bucketed-sql": 2 * model.SQL_UNIT, "query-mix": 0}
RUN_LIMIT_S = 170

E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "read_p50_ms": "ms",
             "heap_live_peak_mb": "MB"}

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def die_with_parent() -> None:
    """Child-process hook: the kernel kills the JVM if this process dies."""
    import ctypes
    import signal
    ctypes.CDLL(None, use_errno=True).prctl(1, signal.SIGKILL)  # PR_SET_PDEATHSIG


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def spark_jars() -> str:
    return os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")


# --------------------------------------------------------------------- build

def build(root: str) -> str:
    """Compile the program and the driver once per source hash; returns the
    classpath."""
    srcs = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"),
                            recursive=True))
    drv = sorted(glob.glob(os.path.join(HERE, "scala", "*.scala")))
    if not srcs or not drv:
        raise SystemExit("perfbench: no program sources under src/main/scala")
    h = hashlib.sha256()
    for f in srcs + drv:
        h.update(f[len(root):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(root, ".bench_build", h.hexdigest()[:16])
    classes, driver = os.path.join(out, "classes"), os.path.join(out, "driver")
    jars = os.path.join(spark_jars(), "*")
    if not os.path.exists(os.path.join(out, "ok")):
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(classes)
        os.makedirs(driver)
        tmp = os.path.join(out, "tmp")
        os.makedirs(tmp)
        scalac = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData",
                  f"-Djava.io.tmpdir={tmp}", "-cp", jars,
                  "scala.tools.nsc.Main", "-nowarn"]
        t0 = time.time()
        for dest, cp, files in ((classes, jars, srcs),
                                (driver, f"{classes}:{jars}", drv)):
            r = subprocess.run(scalac + ["-d", dest, "-classpath", cp] + files,
                               stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                               text=True, timeout=800)
            if r.returncode != 0:
                log(r.stdout[-4000:])
                raise SystemExit("perfbench: compilation failed")
        res = os.path.join(root, "src/main/resources")
        if os.path.isdir(res):
            shutil.copytree(res, classes, dirs_exist_ok=True)
        open(os.path.join(out, "ok"), "w").close()
        log(f"perfbench: built in {time.time() - t0:.1f}s")
    return f"{driver}:{classes}:{jars}"


# ------------------------------------------------------------------- prepare

def write_jsonl(path: str, items) -> None:
    with open(path, "w") as f:
        for it in items:
            f.write(json.dumps(it, separators=(",", ":")) + "\n")


def strip(op: dict) -> dict:
    """What the program under test receives: the operation, no answer."""
    return {k: v for k, v in op.items() if k not in ("expect", "check")}


def prepare(workload: str, seed: int, seconds: float, work: str) -> dict:
    cfg = {"workload": workload, "work": work, "seconds": seconds,
           "setup_reps": SETUP_REPS, "warmup_ops": WARMUP_OPS[workload],
           "min_units": MIN_UNITS[workload], "unit_ops": UNIT_OPS[workload],
           "ops": os.path.join(work, "ops.jsonl"),
           "out": os.path.join(work, "out.json")}
    n_ops = WARMUP_OPS[workload] + int(seconds * 100) + 400
    if workload == "pot-parity":
        t = datagen.customer(seed, 1.0, n=POT_PATHS * POT_DOCS)
        rows = list(zip(*(t.column(c).to_pylist() for c in (
            "c_custkey", "c_name", "c_nationkey", "c_acctbal",
            "c_mktsegment"))))
        initial = model.pot_initial(rows, POT_PATHS, POT_DOCS)
        ops = model.pot_ops(seed, initial, n_ops)
        write_jsonl(os.path.join(work, "initial.jsonl"), (
            {"path": p, "docs": [[k, *d] for k, d in sorted(docs.items())]}
            for p, docs in sorted(initial.items())))
        cfg.update(initial=os.path.join(work, "initial.jsonl"),
                   lease_ms=model.LEASE_MS)
    elif workload == "bucketed-sql":
        import pyarrow as pa
        import pyarrow.parquet as pq
        t = datagen.orders(seed, 1.0, n=SQL_DOCS)
        rows = list(zip(*(t.column(c).to_pylist() for c in (
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority"))))
        initial = model.sql_initial(rows)
        keys = sorted(initial)
        pq.write_table(pa.table({
            "pot_file": [""] * len(keys), "key": keys,
            "doc_json": [model.jdump(initial[k]) for k in keys]}),
            os.path.join(work, "initial.parquet"))
        ops = model.sql_ops(seed, initial, n_ops)
        cfg.update(initial=os.path.join(work, "initial.parquet"),
                   buckets=SQL_BUCKETS, final=os.path.join(work, "final.tsv"))
    else:
        data = os.path.join(work, "data")
        datagen.write_tables(data, seed, MIX_SCALE)
        initial, ops = None, []
        cfg.update(data=data, queries=QUERIES,
                   verify=os.path.join(work, "verify"))
    write_jsonl(cfg["ops"], (strip(o) for o in ops))
    return {"cfg": cfg, "initial": initial, "ops": ops}


# ----------------------------------------------------------------- run + check

def run_jvm(root: str, cp: str, cfg: dict, deadline: float) -> dict:
    if cfg["trace"]:
        cp = os.path.join(HERE, "trace-conf") + ":" + cp
    path = os.path.join(cfg["work"], "config.json")
    with open(path, "w") as f:
        json.dump(cfg, f)
    tmp = os.path.join(cfg["work"], "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + ADD_OPENS + [
        f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", cp, "org.apache.spark.perfbench.PerfBench", path])
    with open(os.path.join(cfg["work"], "jvm.log"), "w") as logf:
        p = subprocess.Popen(cmd, cwd=cfg["work"], stdout=logf,
                             stderr=subprocess.STDOUT,
                             preexec_fn=die_with_parent)
        try:
            rc = p.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit("perfbench: driver exceeded its time limit")
    if rc != 0 or not os.path.exists(cfg["out"]):
        with open(os.path.join(cfg["work"], "jvm.log")) as f:
            log(f.read()[-4000:])
        raise SystemExit(f"perfbench: driver exited with {rc}")
    with open(cfg["out"]) as f:
        return json.load(f)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def commit_markers(path: str) -> int:
    return sum(1 for d, _, fs in os.walk(path)
               if os.path.basename(d) in ("_commits", ".commits")
               for f in fs if not f.endswith(".crc"))


def check_store(workload: str, prep: dict, out: dict) -> dict:
    """Model replay over the executed prefix, then the final content."""
    recs = out["ops"]
    ops = prep["ops"][:len(recs)]
    res = model.replay(workload, ops, recs)
    if workload == "pot-parity":
        m = model.PotModel(prep["initial"])
        for op in ops:
            m.apply(op)
        want = {p: model.pot_digest(d) for p, d in m.paths.items()}
        res["final_ok"] = out["final"] == want
        res["live_bytes"] = model.pot_live_bytes(m)
        res["final_hash"] = hashlib.md5(json.dumps(
            sorted(want.items())).encode()).hexdigest()
    else:
        m = model.SqlModel(prep["initial"])
        for op in ops:
            m.apply(op)
        got = {}
        with open(prep["cfg"]["final"]) as f:
            for line in f:
                k, d = line.rstrip("\n").split("\t", 1)
                got[k] = json.loads(d)
        res["final_ok"] = got == m.docs
        res["live_bytes"] = model.sql_live_bytes(m)
        res["final_hash"] = hashlib.md5(json.dumps(
            sorted(m.docs.items()), sort_keys=True).encode()).hexdigest()
    return res


def check_mix(root: str, out: dict, cfg: dict) -> dict:
    r = subprocess.run(
        [sys.executable, os.path.join(root, "scripts", "local_verify.py"),
         cfg["data"], cfg["verify"]],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=120)
    passed = [ln.split()[1] for ln in r.stdout.splitlines()
              if ln.startswith("PASS ")]
    failed = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL ")]
    errs = [(o["kind"], o["outcome"]) for o in out["ops"]
            if o["outcome"] != "ok"]
    return {"checked": len(QUERIES), "oracle_pass": len(passed),
            "wrong": failed + [q for q in QUERIES if q not in passed
                               and not any(q in f for f in failed)],
            "unexpected": errs, "refusals": 0, "planned_refusals": 0,
            "final_ok": True}


# ------------------------------------------------------------------- metrics

def summarize(workload: str, prep: dict, out: dict, chk: dict,
              trace: bool, spans_path: str) -> dict:
    loop = [o for o in out["ops"] if not o["warm"]]
    ok = [o for o in loop if o["outcome"] in ("ok", "refused")]
    reads = [o["ms"] for o in ok if o["class"] == "read"]
    writes = [o["ms"] for o in ok if o["class"] == "write"]
    maint = [o["ms"] for o in ok if o["class"] == "maint"]
    attempted = len(out["ops"]) + chk["checked"] * (workload == "query-mix")
    failed = len(chk["wrong"]) + len(chk["unexpected"]) + (
        0 if chk["final_ok"] else 1)
    if workload == "pot-parity" and chk["refusals"] != chk["planned_refusals"]:
        failed += 1
    unit = UNIT_OPS[workload]
    units = [sum(o["ms"] for o in loop[u:u + unit]) / 1000.0
             for u in range(0, len(loop), unit)]
    e2e = {
        "setup_s": (out["session_start_s"] + M.quartiles(out["build_s"])[1],
                    len(out["build_s"])),
        # median over the loop's mix units, so one slow unit does not move it
        "ops_per_s": (unit / M.quartiles(units)[1], len(units)),
        "read_p50_ms": (M.percentile(reads, 50), len(reads)),
        "heap_live_peak_mb": (out["heap_live_peak_mb"], 1)}
    extra = {"failed_ratio": (failed / attempted, attempted, "ratio"),
             "op_geomean_ms": (M.geomean([o["ms"] for o in ok]), len(ok), "ms"),
             "loop_s": (out["loop_s"], len(loop), "s"),
             "warmup_s": (out["warmup_s"], 1, "s"),
             "build_median_s": (M.quartiles(out["build_s"])[1],
                                len(out["build_s"]), "s")}
    for name, xs in (("read", reads), ("write", writes), ("maint", maint)):
        if not xs:
            continue
        if name != "read":
            extra[f"{name}_p50_ms"] = (M.percentile(xs, 50), len(xs), "ms")
        p = M.highest_backed(len(xs), (99, 95, 90, 75))
        if p:
            extra[f"{name}_p{p}_ms"] = (M.percentile(xs, p), len(xs), "ms")
    if workload != "query-mix":
        root = out["store_root"]
        extra["space_amp"] = (dir_bytes(root) / chk["live_bytes"], 1, "ratio")
        extra["store_mb"] = (dir_bytes(root) / 1048576.0, 1, "MB")
        extra["generations_published"] = (commit_markers(root), 1, "count")
    else:
        passes = len(loop) // len(QUERIES)
        per_q = {}
        for o in loop:
            per_q.setdefault(o["kind"], []).append(o["ms"] / 1000.0)
        extra["mix_total_s"] = (sum(o["ms"] for o in loop) / 1000.0 / passes,
                                passes, "s")
        extra["mix_geomean_s"] = (M.geomean(
            [M.quartiles(v)[1] for v in per_q.values()]), len(per_q), "s")
    layers = layer_metrics(workload, prep, out, loop, spans_path) \
        if trace else {}
    return {"e2e": e2e, "extra": extra, "layers": layers,
            "attempted": attempted, "failed": failed, "check": chk}


def user_bytes_written(workload: str, ops: list) -> int:
    """Bytes of document JSON the timed writes hand to the store."""
    if workload == "pot-parity":
        return sum(len(model.jdump(dict(zip(model.POT_COLS, d))).encode())
                   for o in ops if o["kind"] in ("upsert", "create")
                   for d in o["docs"])
    return sum(len(model.jdump(d).encode()) + len(k)
               for o in ops for r in o.get("rows", [])
               for k, d in [r[:2]] if o["class"] == "write" and d)


def layer_metrics(workload, prep, out, loop, spans_path) -> dict:
    """Per-layer numbers of a traced run: (value, unit)."""
    L = out["layers"]
    w = WARMUP_OPS[workload]
    user_bytes = user_bytes_written(workload, prep["ops"][w:len(out["ops"])])
    n = max(1, L["ops"])
    g = lambda k: L.get(k, 0.0)  # noqa: E731
    spans = []
    with open(spans_path) as f:
        for line in f:
            spans.append(json.loads(line))
    calls = [s for s in spans if s["id"].startswith("call-")]
    jobs = {}
    for s in spans:
        if s["layer"] == "spark" and s["name"] == "job":
            jobs.setdefault(s["parent"], []).append((s["start_ms"], s["end_ms"]))
    covered = [M.covered(c["start_ms"], c["end_ms"], jobs.get(c["id"], []))
               for c in calls]
    self_ms = [c["end_ms"] - c["start_ms"] - cv for c, cv in zip(calls, covered)]
    plan = sum(g(f"phase_{p}_ms") for p in ("analysis", "optimization",
                                              "planning"))
    res = {
        "spark.jobs_per_op": (g("jobs") / n, "count"),
        "spark.stages_per_op": (g("stages") / n, "count"),
        "spark.tasks_per_op": (g("tasks") / n, "count"),
        "spark.driver_self_ms": (sum(self_ms) / max(1, len(self_ms)), "ms"),
        "spark.job_ms_per_op": (sum(covered) / max(1, len(covered)), "ms"),
        "spark.plan_ms_per_op": (plan / n, "ms"),
        "spark.executor_run_ms_per_op": (g("executor_run_ms") / n, "ms"),
        "spark.executor_cpu_ms_per_op": (g("executor_cpu_ms") / n, "ms"),
        "spark.shuffle_read_bytes_per_op": (g("shuffle_read_bytes") / n, "bytes"),
        "spark.shuffle_write_bytes_per_op": (g("shuffle_write_bytes") / n, "bytes"),
        "spark.spill_bytes_per_op": (g("spill_bytes") / n, "bytes"),
        "spark.gc_ms": (float(out["gc_ms"]), "ms"),
        "fs.read_ops_per_op": (g("fs.open") / n, "count"),
        "fs.list_ops_per_op": (g("fs.list") / n, "count"),
        "fs.status_ops_per_op": (g("fs.status") / n, "count"),
        "fs.write_ops_per_op": (sum(g(f"fs.{k}") for k in (
            "create", "delete", "rename", "mkdirs")) / n, "count"),
        "fs.bytes_written_per_op": (g("fs.bytes_written") / n, "bytes"),
        "fs.bytes_written_per_user_byte": (
            g("fs.bytes_written") / user_bytes if user_bytes else 0.0,
            "ratio"),
        "kv.pot_reads": (g("graft.pot_reads"), "count"),
        "kv.pot_writes": (g("graft.pot_writes"), "count"),
        "kv.pot_lists": (g("graft.pot_lists"), "count"),
        "kv.pot_removes": (g("graft.pot_removes"), "count"),
        "kv.lock_count": (g("graft.lock_count"), "count"),
        "kv.refusals": (float(sum(1 for o in loop
                                  if o["outcome"] == "refused")), "count"),
        "sources.doc_skipped_entries": (g("docSkippedEntries"), "count"),
        "sources.stats_only_agg_objects": (g("statsOnlyAggObjects"), "count"),
        "streaming.batches": (g("stream_batches"), "count"),
    }
    return res


def kind_report(workload, out, loop, spans_path) -> dict:
    """Layer-specific timings for the human report (not in the JSON line):
    median ms per operation kind, layer self time, family sums."""
    rep = {}
    prefix = {"pot-parity": "kv", "bucketed-sql": "sources"}.get(workload)
    by = {}
    for o in loop:
        by.setdefault(o["kind"], []).append(o["ms"])
    for k, xs in sorted(by.items()):
        if prefix:
            name = {"get": "get", "list": "list_paths", "point": "point_select",
                    "in": "in_select", "agg": "agg_scan"}.get(k, k)
            rep[f"{prefix}.{name}_ms"] = (M.percentile(xs, 50), len(xs), "ms")
        else:
            rep[f"query.{k}_s"] = (M.quartiles(xs)[1] / 1000.0, len(xs), "s")
    if workload == "query-mix":
        fam = {"operators.relational_s": RELATIONAL,
               "operators.streaming_s": STREAMING,
               "operators.llm_s": set(QUERIES) - RELATIONAL - STREAMING}
        for name, qs in fam.items():
            rep[name] = (sum(M.quartiles(by[q])[1] for q in qs) / 1000.0,
                         len(qs), "s")
        if out.get("machinery_s"):
            rep["streaming.machinery_s"] = (out["machinery_s"], 1, "s")
    L = out.get("layers", {})
    if workload == "pot-parity":
        rep["kv.lock_sum_ms"] = (L.get("graft.lock_sum_ms", 0.0),
                                 int(L.get("graft.lock_count", 0)), "ms")
    if workload == "bucketed-sql":  # spark.plan_ms_per_op, as the sources layer sees it
        rep["sources.plan_ms"] = (sum(L.get(f"phase_{p}_ms", 0.0) for p in (
            "analysis", "optimization", "planning")) / max(1, L.get("ops", 1)),
            int(L.get("queries", 0)), "ms")
    spans = [json.loads(line) for line in open(spans_path)]
    for layer, ms in sorted(M.self_times(spans).items()):
        rep[f"self.{layer}_ms_per_op"] = (ms / max(1, len(loop)), len(loop),
                                          "ms")
    return rep


def counter_check(workload: str, prep: dict, out: dict) -> list:
    """graft.Metrics deltas against the benchmark's own counts over the timed
    loop (pot-parity: exact expectations from the model)."""
    if workload != "pot-parity":
        return []
    L = out["layers"]
    w = WARMUP_OPS[workload]
    ops = prep["ops"][w:len(out["ops"])]
    exp = {"pot_lists": sum(o["kind"] == "list" for o in ops),
           "pot_removes": sum(o["kind"] == "remove" for o in ops),
           "pot_reads": sum(o["kind"] == "get" or o.get("check", False)
                            for o in ops),
           "pot_writes": sum(o["kind"] in ("upsert", "remove") or
                             o["kind"] == "create" and o["expect"][0] == "ok"
                             for o in ops)}
    return [(k, v, L.get(f"graft.{k}")) for k, v in exp.items()
            if L.get(f"graft.{k}") != v]


# ---------------------------------------------------------------------- main

def one(root: str, cp: str, workload: str, seed: int, seconds: float,
        trace: bool, deadline: float) -> dict:
    work = os.path.join(root, ".bench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    keep = os.path.join(root, ".bench_work", "runs")
    os.makedirs(keep, exist_ok=True)
    spans = os.path.join(keep, f"{workload}-seed{seed}.spans.jsonl")
    t0 = time.time()
    prep = prepare(workload, seed, seconds, work)
    datagen_s = time.time() - t0
    cfg = dict(prep["cfg"], trace=trace, spans=spans)
    try:
        out = run_jvm(root, cp, cfg, deadline)
        shutil.copy(cfg["out"], os.path.join(
            keep, f"{workload}-seed{seed}-trace{int(trace)}.json"))
        chk = (check_mix(root, out, cfg) if workload == "query-mix"
               else check_store(workload, prep, out))
        res = summarize(workload, prep, out, chk, trace, spans)
        res["extra"]["datagen_s"] = (datagen_s, 1, "s")
        if trace:
            loop = [o for o in out["ops"] if not o["warm"]]
            res["extra"].update(kind_report(workload, out, loop, spans))
            bad = counter_check(workload, prep, out)
            res["counter_mismatch"] = bad
            res["failed"] += len(bad)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return res


def print_report(workload: str, res: dict, trace: bool) -> None:
    print(f"== {workload} ({'traced' if trace else 'untraced'})")
    for k, (v, n) in res["e2e"].items():
        print(f"  {k:<34} {v:>14.4f} {E2E_UNITS[k]:<6} n={n}")
    for k, (v, n, u) in res["extra"].items():
        print(f"  {k:<34} {v:>14.4f} {u:<6} n={n}")
    for k, (v, u) in res["layers"].items():
        print(f"  {k:<34} {v:>14.4f} {u:<6}")
    chk = res["check"]
    print(f"  check: wrong={len(chk['wrong'])} unexpected="
          f"{len(chk['unexpected'])} final_ok={chk['final_ok']} "
          f"refusals={chk['refusals']}/{chk['planned_refusals']} planned"
          + (f" counter_mismatch={res['counter_mismatch']}"
             if res.get("counter_mismatch") else ""))
    for w in (chk["wrong"] + chk["unexpected"])[:5]:
        print(f"    {w}")


def result_line(res: dict, trace: bool) -> str:
    if trace:
        mets = {k: {"value": v, "unit": u} for k, (v, u) in res["layers"].items()}
    else:
        mets = {k: {"value": v, "unit": E2E_UNITS[k]}
                for k, (v, _) in res["e2e"].items()}
    return json.dumps({"correct": res["failed"] == 0,
                       "attempted": res["attempted"], "failed": res["failed"],
                       "metrics": mets})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    start = time.time()
    root = os.getcwd()
    if not os.path.exists(os.path.join(root, "scripts", "local_verify.py")):
        log("perfbench: run from the root of the source tree")
        return 2
    cp = build(root)
    if a.workload != "all":
        deadline = max(time.time(), start) + RUN_LIMIT_S
        res = one(root, cp, a.workload, a.seed, a.seconds, bool(a.trace),
                  deadline)
        print_report(a.workload, res, bool(a.trace))
        print(result_line(res, bool(a.trace)))
        return 0
    total = {"attempted": 0, "failed": 0}
    for w in WORKLOADS:
        runs = {}
        for trace in (False, True):
            res = one(root, cp, w, a.seed, a.seconds, trace,
                      time.time() + RUN_LIMIT_S)
            print_report(w, res, trace)
            runs[trace] = res
            total["attempted"] += res["attempted"]
            total["failed"] += res["failed"]
        print(f"  tracing overhead ({w}):")
        for k, (v, _) in runs[False]["e2e"].items():
            tv = runs[True]["e2e"][k][0]
            print(f"    {k:<32} {tv - v:>+12.4f} {E2E_UNITS[k]:<6} "
                  f"({(tv - v) / v:+.1%})")
    print(json.dumps({"correct": total["failed"] == 0,
                      "attempted": total["attempted"],
                      "failed": total["failed"], "metrics": {}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
