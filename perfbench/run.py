#!/usr/bin/env python3
"""Pipeline benchmark: one workload per run, from the root of a source
checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (README.md has why each was chosen and the metric definitions):
  live_dashboard   open-loop file generator + ProcessingTime(0) ingest
                   beside a dashboard client polling on a schedule
  corpus_ops       refreshes of six registry queries over a seeded corpus

The benchmark builds the engine together with its own driver
(perfbench/build.sbt) when the sources changed, generates the inputs
from the seed, runs the driver JVM, checks every output, and prints one
JSON object as its last line: the end-to-end metrics with --trace 0,
the per-layer metrics with --trace 1. Every layer number is printed
above it; perfbench/results/ keeps each run's numbers and
perfbench/traces/ each traced run's spans and scheduler counts.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import accounting as acc  # noqa: E402
import selfcheck  # noqa: E402

WORKLOADS = ("live_dashboard", "corpus_ops")
BUILD_TIMEOUT_S = 850
JVM_TIMEOUT_S = 160
# a live run is invalid when the generator runs this late, or when more
# than this many seconds of offered input wait uncommitted
LAG_LIMIT_S = 1.0
BACKLOG_LIMIT_S = 5.0
# corpus size: a sixth of the engine's sf0.01 driver corpus, so three
# refreshes fit the window (at that size a refresh costs job count, not
# data); set-up warms the JVM with one refresh over a corpus a fifth
# that size
CORPUS = dict(docs=150, vectors=100, orders=2500, parts=350, customers=250)
WARM_CORPUS = dict(docs=30, vectors=20, orders=500, parts=70, customers=50)
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
E2E = ("setup_s", "rows_per_s", "freshness_p50_s", "freshness_tail_s", "read_p50_s", "read_tail_s")
UNITS = {"setup_s": "s", "rows_per_s": "rows/s", "freshness_p50_s": "s", "freshness_tail_s": "s",
         "read_p50_s": "s", "read_tail_s": "s"}
PER_LAYER = {"spark.jobs": ("jobs", "count"), "spark.stages": ("stages", "count"),
             "spark.tasks": ("tasks", "count"), "spark.task_wait_s": ("task_wait_s", "s"),
             "spark.exec_cpu_s": ("exec_cpu_s", "s"), "spark.gc_s": ("gc_s", "s"),
             "spark.shuffle_read_bytes": ("shuffle_read_bytes", "bytes"),
             "spark.shuffle_write_bytes": ("shuffle_write_bytes", "bytes")}
STREAM_DURATIONS = {"streaming.add_batch_s": "addBatch", "sources.latest_offset_s": "latestOffset",
                    "sources.get_batch_s": "getBatch", "streaming.query_planning_s": "queryPlanning",
                    "streaming.wal_commit_s": "walCommit", "streaming.commit_offsets_s": "commitOffsets"}
QUERY_OF_TOPIC = {"graft_ingest_sales": "sales", "graft_ingest_warehouse": "warehouse"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = "-Dsbt.offline=true -Xmx2g -Dsbt.server.forcestart=false"
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts
    return env


def source_hash(root):
    # the checkout's own path is hashed too: the recorded class path is
    # absolute, so a moved checkout rebuilds
    h = hashlib.sha256(os.path.abspath(root).encode())
    for top in (os.path.join(root, "src", "main"), os.path.join(root, "build.sbt"),
                os.path.join(root, "project", "build.properties"), os.path.join(HERE, "src"),
                os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")):
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(root):
    """Compile engine + driver with the benchmark's sbt build (which
    builds the engine through the engine's own build.sbt) unless the
    sources are unchanged since the last build; returns the class path
    and the sources' hash."""
    stamp = os.path.join(HERE, "target", "perfbench.classpath")
    digest = source_hash(root)
    if os.path.exists(stamp):
        with open(stamp, encoding="utf-8") as f:
            got, cp = f.read().split("\n", 1)
        if got == digest:
            return cp.strip(), digest
    proc = subprocess.Popen(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        fail("build timed out")
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    with open(stamp, "w", encoding="utf-8") as f:
        f.write(digest + "\n" + cp)
    return cp, digest


def run_jvm(cp, a, work, corpus_dirs):
    """Run the driver JVM; returns (spawn wall ms, parsed result)."""
    out = os.path.join(work, "result.json")
    args = [a.workload, str(a.seed), str(a.seconds), str(a.trace), work, out] + corpus_dirs
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.hadoop.hadoop.tmp.dir={work}/tmp"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main"] + args)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        spawn = time.time() * 1000.0
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = "timeout"
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"driver JVM failed ({rc})")
    with open(out, encoding="utf-8") as f:
        return spawn, json.load(f)


def check_oracles(runs, res, corpus_dir):
    """Compare the output of each of the given corpus query runs with its
    DuckDB oracle, cell by cell with the repository's own oracle check
    (`tools/check_oracle.py`); returns {query: "ok" | reason}."""
    import duckdb
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from check_oracle import norm
    con = duckdb.connect()
    for t in res["corpus_rows"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")
    out = {}
    for q in runs:
        name = q["query"]
        if not q["ok"]:
            out[name] = "query failed"
            continue
        try:
            got = con.execute(f"SELECT * FROM '{q['out']}/*.parquet'").df()
            want = con.execute(res["oracle_sql"][name]).df()
        except Exception as e:  # noqa: BLE001 - any oracle error fails the check
            out[name] = f"oracle error: {e}"
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            out[name] = f"columns {gc} != {wc}"
        elif len(got) != len(want):
            out[name] = f"rows {len(got)} != {len(want)}"
        else:
            bad = next(((i, a, b) for i, (rg, rw) in enumerate(zip(got[gc].values.tolist(),
                                                                    want[wc].values.tolist()))
                        for a, b in zip(rg, rw) if norm(a) != norm(b)), None)
            out[name] = "ok" if bad is None else f"row {bad[0]}: {bad[1]!r} != {bad[2]!r}"
    return out


def measured_batches(res):
    """The live pipelines' micro-batches after set-up's warm tick."""
    return [b for b in res["batches"]
            if b["query"] in QUERY_OF_TOPIC and b["start_ms"] >= res["t0_ms"]]


def stream_layers(res, files, visible):
    """Per-layer numbers of the live workload."""
    batches = measured_batches(res)
    lay = {k: sum(b["durations_ms"].get(v, 0) for b in batches) / 1000.0
           for k, v in STREAM_DURATIONS.items()}
    lay["streaming.batches"] = len(batches)
    lay["streaming.rows_per_batch"] = sum(b["input_rows"] for b in batches) / max(1, len(batches))
    lay["streaming.backlog_rows"] = acc.backlog_max(files, visible)
    lay["loadgen.lag_max_s"] = acc.lateness_max(files)
    lines = sum(f["lines"] for f in files)
    lay["ingest.useful_ratio"] = sum(f["typed"] for f in files) / lines
    lay["ingest.files_written"] = res["sink_files_written"]
    lay["ingest.bytes_written"] = res["sink_bytes_written"]
    for q, s in res["dashboard_stats"].items():
        for k, v in s.items():
            lay[f"dashboard.{q}.{k}"] = v
    return lay


def live_metrics(res, checks):
    files = res["files"]
    logs = {t: acc.source_log(p) for t, p in res["checkpoints"].items()}
    commits = {(QUERY_OF_TOPIC[b["query"]], b["batch_id"]): b["commit_ms"]
               for b in res["batches"] if b["query"] in QUERY_OF_TOPIC}
    visible = acc.visible_ms(files, logs, commits)
    checks["every file committed"] = None not in visible
    fresh = acc.freshness(files, visible)
    checks["sink rows == generator tallies"] = res["sink_counts"] == res["expected_counts"]
    for q, c in res["dashboard_check"].items():
        checks[f"dashboard {q} == tallies"] = c["ok"]
    polls = res["polls"]
    reads = [(p["end_ms"] - p["due_ms"]) / 1000.0 for p in polls]
    last = max(v for v in visible if v is not None)
    rows_per_s = sum(f["typed"] for f in files) / ((last - res["t0_ms"]) / 1000.0)
    attempted = len(measured_batches(res)) + len(polls)
    failed = sum(not p["ok"] for p in polls)
    layers = stream_layers(res, files, visible)
    offered = res["offered_rows_per_s"]
    checks["generator on schedule"] = layers["loadgen.lag_max_s"] <= LAG_LIMIT_S
    checks["backlog bounded"] = layers["streaming.backlog_rows"] <= offered * BACKLOG_LIMIT_S
    extra = {"offered_rows_per_s": offered, "drain_out_s": res["drain_out_s"]}
    return rows_per_s, fresh, reads, attempted, failed, layers, extra


def corpus_metrics(res, checks, corpus_dir):
    """Refreshes one after another. In each, a derived table's freshness
    is the time from the refresh start to its result being written, and
    a query's read latency is its own wall time; each table or query
    gets the median of its values over the run's refreshes."""
    runs = res["queries"]
    last = max(r["refresh"] for r in runs)
    for q, verdict in check_oracles([r for r in runs if r["refresh"] == last], res,
                                    corpus_dir).items():
        checks[f"{q} == DuckDB oracle"] = verdict == "ok"
        if verdict != "ok":
            print(f"oracle mismatch {q}: {verdict}")
    order = [r["query"] for r in runs if r["refresh"] == 0]
    refreshes = [[r for r in runs if r["refresh"] == k] for k in range(last + 1)]
    wall_of, fresh_of, rates = {q: [] for q in order}, {q: [] for q in order}, []
    for rs in refreshes:
        start = rs[0]["start_ms"]
        for r in rs:
            wall_of[r["query"]].append((r["end_ms"] - r["start_ms"]) / 1000.0)
            fresh_of[r["query"]].append((r["end_ms"] - start) / 1000.0)
        rates.append(sum(r["rows_in"] for r in rs)
                     / sum((r["end_ms"] - r["start_ms"]) / 1000.0 for r in rs))
    print("samples refresh_wall_s " + " ".join(
        f"{sum(wall_of[q][k] for q in order):.3f}" for k in range(len(refreshes))))
    walls = [acc.median(wall_of[q]) for q in order]
    fresh = [acc.median(fresh_of[q]) for q in order]
    layers = {"corpus.refreshes": len(refreshes)}
    for q, w in zip(order, walls):
        c = res["counts"].get(f"corpus.{q}", {})
        layers[f"corpus.{q}.wall_s"] = w
        layers[f"corpus.{q}.jobs"] = c.get("jobs", 0) / len(refreshes)
        layers[f"corpus.{q}.exec_cpu_s"] = c.get("exec_cpu_s", 0.0) / len(refreshes)
        layers[f"corpus.{q}.shuffle_bytes"] = (c.get("shuffle_read_bytes", 0)
                                               + c.get("shuffle_write_bytes", 0)) / len(refreshes)
    extra = {"corpus_wall_s": sum(walls), "corpus_geomean_s": acc.geomean(walls)}
    failed = sum(not r["ok"] for r in runs)
    return acc.median(rates), fresh, walls, len(runs), failed, layers, extra


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("run from the root of a source checkout: src/main/scala/graft is missing")
    selfcheck.run()
    cp, digest = build(root)

    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus_dirs = []
        if a.workload == "corpus_ops":
            import gen_corpus
            for name, seed, size in (("corpus", a.seed, CORPUS),
                                     ("warm_corpus", a.seed + 1, WARM_CORPUS)):
                corpus_dirs.append(os.path.join(work, name))
                os.makedirs(corpus_dirs[-1])
                gen_corpus.generate(corpus_dirs[-1], seed, **size)
        spawn, res = run_jvm(cp, a, work, corpus_dirs)
        corpus_dir = corpus_dirs[0] if corpus_dirs else None

        checks = {}
        if a.workload == "corpus_ops":
            measured = corpus_metrics(res, checks, corpus_dir)
        else:
            measured = live_metrics(res, checks)
        rows_per_s, fresh, reads, attempted, failed, layers, extra = measured
        checks["no failed operation"] = failed == 0
    finally:
        shutil.rmtree(work, ignore_errors=True)

    jvm_s = (res["main_entry_ms"] - spawn) / 1000.0
    f_p, f_tail = acc.tail(fresh)
    r_p, r_tail = acc.tail(reads)
    e2e = {"setup_s": jvm_s + res["setup_s"], "rows_per_s": rows_per_s,
           "freshness_p50_s": acc.median(fresh), "freshness_tail_s": f_tail,
           "read_p50_s": acc.median(reads), "read_tail_s": r_tail}
    total = res["counts_total"]
    for k, (field, _) in PER_LAYER.items():
        layers[k] = total[field]
    layers["spark.spill_bytes"] = total["spill_bytes"]
    layers["spark.exec_run_s"] = total["exec_run_s"]
    if a.workload == "live_dashboard" and a.trace:
        checks["backfill drains: sink rows == generator tallies"] = res["backfill_counts_ok"]
        layers["ingest.backfill_rows_per_s"] = res["backfill_rows_per_s"]
        layers["ingest.single_core_rows_per_s"] = res["single_core_rows_per_s"]
    spans = res["spans"]
    for name in ("ingest.transform", "ingest.sink"):
        if any(s["name"] == name for s in spans):
            layers[f"{name}_s"] = sum((s["end_ms"] - s["start_ms"]) / 1000.0
                                      for s in spans if s["name"] == name)

    correct = all(checks.values())
    print(f"workload {a.workload} seed {a.seed} seconds {a.seconds} trace {a.trace} "
          f"cpus {res['cpus']}")
    for k, v in checks.items():
        print(f"check {'ok  ' if v else 'FAIL'} {k}")
    print(f"tail freshness_tail_s = p{f_p:.4g} of {len(fresh)} samples; "
          f"read_tail_s = p{r_p:.4g} of {len(reads)} samples")
    print("samples read_s " + " ".join(f"{x:.3f}" for x in reads))
    named = dict(extra, error_rate=failed / attempted, jvm_start_s=jvm_s)
    if "polls" in res:
        named["read_service_p50_s"] = acc.median(
            [(p["end_ms"] - p["start_ms"]) / 1000.0 for p in res["polls"]])
    if a.workload == "live_dashboard":
        named.update(live_rows_per_s=rows_per_s, freshness_p50_s=e2e["freshness_p50_s"],
                     freshness_tail_s=f_tail, dashboard_p50_s=e2e["read_p50_s"],
                     dashboard_tail_s=r_tail)
    for k, v in e2e.items():
        print(f"metric {k} {v:.6g} {UNITS[k]}")
    for k, v in named.items():
        print(f"named {k} {v:.6g}")
    for k in sorted(layers):
        print(f"layer {k} {layers[k]:.6g}")

    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
              "source_hash": digest, "correct": correct, "checks": checks, "end_to_end": e2e, "named": named,
              "per_layer": layers}
    base = f"{a.workload}-seed{a.seed}"
    with open(os.path.join(HERE, "results", f"{base}-trace{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        # the overhead needs an untraced run of the same sources
        untraced = os.path.join(HERE, "results", f"{base}-trace0.json")
        base_rec = None
        if os.path.exists(untraced):
            with open(untraced) as f:
                base_rec = json.load(f)
        if base_rec and base_rec.get("source_hash") == digest:
            for k in E2E:
                print(f"overhead {k} traced-untraced {e2e[k] - base_rec['end_to_end'][k]:+.6g} "
                      f"{UNITS[k]}")
        else:
            print("overhead not computed: no untraced run of these sources with this seed")
        os.makedirs(os.path.join(HERE, "traces"), exist_ok=True)
        with open(os.path.join(HERE, "traces", f"{base}.json"), "w") as f:
            json.dump({"spans": spans, "batches": res["batches"], "counts": res["counts"],
                       "per_layer": layers, "end_to_end": e2e}, f)

    if a.trace:
        metrics = {k: {"value": layers[k], "unit": u} for k, (_, u) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": UNITS[k]} for k in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
