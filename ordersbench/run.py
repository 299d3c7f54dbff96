#!/usr/bin/env python3
"""The orders-spark benchmark: one workload, one run, one JSON line.

    python3 ordersbench/run.py --workload orders_live --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run builds the engine and the
benchmark's JVM driver with sbt (``ordersbench/build.sbt``); later runs
reuse the build while the sources are unchanged. Inputs are generated
from ``--seed`` with the knobs in ``ordersbench/workloads.json``; every
file a run writes stays under ``ordersbench/target/``. The last line of
stdout is the result; see ``ordersbench/README.md`` for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

from benchlib import gen, oracle, stats  # noqa: E402

TARGET = BENCH / "target"
CLASSPATH = TARGET / "classpath.txt"
STAMP = TARGET / "build.stamp"
RUN_LIMIT_S = 170  # the whole run, build excluded, must end well inside 180 s
JVM_HEAP = "3g"
# matches org.apache.spark.launcher.JavaModuleOptions, as the root build.sbt does
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(msg):
    print(f"[ordersbench] {msg}", file=sys.stderr, flush=True)


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Runs ``cmd`` in its own process group, output to ``out_path``;
    on timeout the whole group is killed and waited for."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def source_stamp():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", BENCH / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles the engine and the driver unless the sources are unchanged."""
    stamp = source_stamp()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == stamp:
        return
    TARGET.mkdir(parents=True, exist_ok=True)
    log("building the engine and the benchmark driver with sbt")
    env = dict(os.environ)
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.server.autostart=false",
                 "-Dsbt.log.noformat=true"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    out = TARGET / "build.log"
    rc = run_proc(["sbt", "-batch", "compile", "export Runtime/fullClasspath"], BENCH,
                  800, out, env)
    lines = [x.strip() for x in out.read_text().splitlines() if x.strip()]
    cp = next((x for x in reversed(lines) if "classes" in x and not x.startswith("[")), None)
    if rc != 0 or cp is None:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    CLASSPATH.write_text(cp)
    STAMP.write_text(stamp)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def loadavg():
    try:
        return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]
    except OSError:
        return []


def competing_processes():
    """Runnable processes besides this one, the median of five samples
    over half a second (the 1-minute loadavg still carries the previous
    run's JVM for a while)."""
    counts = []
    for _ in range(5):
        try:
            counts.append(int(Path("/proc/loadavg").read_text().split()[3].split("/")[0]) - 1)
        except (OSError, IndexError, ValueError):
            return None
        time.sleep(0.1)
    return statistics.median(counts)


def prepare(workload, knobs, seed, seconds, work, trace):
    """Writes the workload's generated inputs and the JVM job file."""
    conf = dict(knobs)
    # a traced run also runs untraced on two copies: see CorpusCycle.scala
    copies = ["input", "input-b", "input-w"] if trace else ["input"]
    if workload == "orders_live":
        sched = gen.live_schedule(seed, knobs, seconds)
        with open(work / "schedule.tsv", "w") as f:
            for r in sched:
                f.write(f"{r['due_s']:.6f}\t{r['key']}\t{r['value']}\n")
        conf["max_event_ms"] = max(r["event_ms"] for r in sched if "event_ms" in r)
        conf["open_s"] = knobs["warmup_s"] + knobs["settle_s"] + seconds
        inputs = {"schedule": sched, "max_event_ms": conf["max_event_ms"]}
    else:
        docs, vecs = gen.corpus_tables(seed, knobs)
        for c in copies:
            (work / c).mkdir()
            gen.write_table(docs, work / c / "documents.parquet")
            gen.write_table(vecs, work / c / "embeddings.parquet")
        inputs = {"rows": docs.num_rows + vecs.num_rows}
    job = {"workload": workload, "cpus": cores(), "trace": bool(trace), "conf": conf}
    (work / "job.json").write_text(json.dumps(job))
    return inputs


def run_jvm(work, deadline):
    (work / "tmp").mkdir()
    cmd = (["java", f"-Xmx{JVM_HEAP}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC", "-cp", CLASSPATH.read_text(),
              "graft.ordersbench.Main", str(work)])
    rc = run_proc(cmd, work, deadline - time.monotonic(), work / "jvm.log")
    if rc != 0 or not (work / "jvm.json").exists():
        tail = (work / "jvm.log").read_text().splitlines()[-40:]
        sys.stderr.write("\n".join(tail) + "\n")
        raise SystemExit(f"JVM driver failed with exit code {rc}")
    return json.loads((work / "jvm.json").read_text())


def check_keys(work, ops):
    """Oracle compare of every key that ran; builds only have to finish."""
    con = oracle.connect(str(work / "input"))
    sqls = json.loads((work / "oracle_sql.json").read_text())
    failures = []
    for o in ops:
        if o["error"] is not None:
            failures.append(f"{o['name']} threw: {o['error']}")
        elif o["kind"] == "key":
            bad = oracle.check_key(con, sqls.get(o["name"]), str(work / "out" / o["name"]))
            if bad:
                failures.append(f"{o['name']}: {bad}")
    return len(ops), failures


def live_results(jvm, inputs, knobs, seconds):
    sched = inputs["schedule"]
    expected = stats.expected_live(sched, knobs["facilities"])
    # the two flush sentinels' windows (see Live.scala); only the first closes
    flush = {stats.window_end(inputs["max_event_ms"] + step) for step in (86400000, 90000000)}
    real = [r for r in jvm["main"]["sink"] if r[1] not in flush]
    attempted, failures = stats.check_live(real, expected)
    for extra in ("untraced", "one_core"):  # the other passes of a traced run
        if extra in jvm:
            fl = stats.check_live([r for r in jvm[extra]["sink"] if r[1] not in flush],
                                  expected)[1]
            failures += [f"{extra} pass: {f}" for f in fl]
    closable = stats.closable_due(sched, sorted({e for _, e in expected}))
    measured_from = knobs["warmup_s"] + knobs["settle_s"]
    samples = stats.emit_samples(real, closable, measured_from, measured_from + seconds)
    bursts = jvm["main"]["bursts"]
    burst_records = sum(n for n, _ in bursts)
    metrics = {
        "latency_p50_ms": stats.percentile(samples, 0.50),
        "latency_p95_ms": stats.percentile(samples, 0.95),
        "throughput_per_s": statistics.median(n / s for n, s in bursts),
    }
    note = {"windows_sampled": len(samples), "generator_late_ms": jvm["main"]["late_ms"],
            "open_loop_records": len(sched) - int(burst_records),
            "burst_records": int(burst_records)}
    return metrics, attempted, failures, note


def corpus_results(jvm, ops, rows):
    """The two phases' wall times under the shared metric names, by fixed
    assignment: ``latency_p50_ms`` is the read phase (``probe_s``),
    ``latency_p95_ms`` the write phase (``build_s``)."""
    wall = sum(o["wall_s"] for o in ops)
    build_s = sum(o["wall_s"] for o in jvm["write"])
    probe_s = sum(o["wall_s"] for o in jvm["read"])
    metrics = {
        "latency_p50_ms": probe_s * 1000.0,
        "latency_p95_ms": build_s * 1000.0,
        "throughput_per_s": rows * len(ops) / wall if wall else None,
    }
    trig = [t[0] for t in jvm["triggers"]]
    note = {"input_rows": rows, "build_s": build_s, "probe_s": probe_s,
            "ops": {o["name"]: round(o["wall_s"], 4) for o in ops},
            "serve_triggers": len(trig),
            "serve_p50_ms": statistics.median(trig) if trig else None,
            "serve_max_ms": max(trig, default=None)}
    return metrics, note


def layer_metrics(workload, jvm, names):
    """Every per-layer metric by name; 0 where the layer does no work in
    this workload."""
    m = {n: 0.0 for n in names}
    m.update({k: v for k, v in jvm.get("layers", {}).items() if k in m})
    if workload == "orders_live":
        trig = jvm["main"]["triggers"]  # (trigger ms, input rows, parsed rows)
        m["wire.records"] = float(sum(t[1] for t in trig))
        m["wire.parsed"] = float(sum(t[2] for t in trig))
        m["wire.parse_yield"] = m["wire.parsed"] / m["wire.records"] if m["wire.records"] else 0.0
        drain_s = lambda p: sum(s for _, s in p["bursts"])  # noqa: E731
        m["trace.overhead_s"] = drain_s(jvm["main"]) - drain_s(jvm["untraced"])
        m["cpu.one_core_ratio"] = drain_s(jvm["one_core"]) / drain_s(jvm["main"])
    else:
        for o in jvm["write"]:
            key = "build.corpus_build_s" if o["name"] == "q_corpus_build" else f"build.{o['name']}_s"
            if key in m:
                m[key] = o["wall_s"]
        ops = jvm["write"] + jvm["read"]
        unt = jvm["untraced"]["write"] + jvm["untraced"]["read"]
        m["trace.overhead_s"] = sum(o["wall_s"] for o in ops) - sum(o["wall_s"] for o in unt)
        m["probe.cold_s"] = sum(o["wall_s"] for o in jvm["read"])
        m["probe.warm_s"] = sum(o["wall_s"] for o in jvm["warm"])
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        raise SystemExit(f"no engine sources next to {BENCH.name}/: run from a full checkout")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    knobs_all = json.loads((BENCH / "workloads.json").read_text())
    if a.workload not in knobs_all:
        raise SystemExit(f"unknown workload {a.workload}")
    knobs = knobs_all[a.workload]

    build()
    started = time.monotonic()
    deadline = started + RUN_LIMIT_S
    load_start, competing = loadavg(), competing_processes()
    work = TARGET / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    inputs = prepare(a.workload, knobs, a.seed, a.seconds, work, a.trace)
    prepared = time.monotonic()
    jvm = run_jvm(work, deadline)
    ran = time.monotonic()

    if a.workload == "orders_live":
        metrics, attempted, failures, note = live_results(jvm, inputs, knobs, a.seconds)
    else:
        ops = jvm["write"] + jvm["read"]
        attempted, failures = check_keys(work, ops)
        extra = jvm.get("warm", []) + sum(jvm.get("untraced", {}).values(), [])
        failures += [f"{o['name']} threw: {o['error']}" for o in extra if o["error"] is not None]
        metrics, note = corpus_results(jvm, ops, inputs["rows"])
    metrics["setup_s"] = statistics.median(jvm["setup_s"])
    metrics["retained_heap_mb"] = jvm["retained_heap_mb"]

    note.update({"workload": a.workload, "seed": a.seed, "cores": cores(),
                 "setup_runs_s": jvm["setup_s"], "loadavg_start": load_start,
                 "loadavg_end": loadavg(), "competing_processes": competing,
                 "started_under_load": competing is not None and competing >= cores() / 2,
                 "failed_share": len(failures) / attempted if attempted else 1.0,
                 "phases_s": {"prepare": round(prepared - started, 2),
                              "jvm": round(ran - prepared, 2),
                              "check": round(time.monotonic() - ran, 2)}})
    for f in failures[:20]:
        log(f"FAIL {f}")
    print("note " + json.dumps(note))

    if a.trace:
        names = [x["name"] for x in spec["per_layer"]]
        values = layer_metrics(a.workload, jvm, names)
        units = {x["name"]: x["unit"] for x in spec["per_layer"]}
        (work / "layers.json").write_text(json.dumps(values, indent=1))
    else:
        missing = [k for k, v in metrics.items() if v is None]
        if missing:
            raise SystemExit(f"metrics without enough samples: {missing}")
        values = metrics
        units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}
    print(json.dumps(result))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
