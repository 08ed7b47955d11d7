#!/usr/bin/env python3
"""perfbench: seeded end-to-end and per-layer benchmark of the graft engine.

Run from the root of a checkout:

  python3 perfbench/run.py --workload dedup_batch --seed 1 --seconds 14 --trace 0
  python3 perfbench/run.py --workload all --seed 1 --seconds 14   # one line each

It builds the engine and the harness from source (cached under
.bench_build/perfbench, keyed by a hash of the sources), generates the
workload's inputs from the seed (cached by seed, outside every timing),
runs the harness JVM (one client, one local[nproc] session, a few
untimed warm-up ops, then a closed loop), checks the outputs without
the engine, and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. The full record of a
run (every op, span and job, the canary and settings) is written to
.bench_build/perfbench/<workload>-<seed>-t<trace>.json.

Exits non-zero when an output check fails or the engine is missing.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

WORKLOADS = ("dedup_batch", "ingest_stream")
HEAP = "2g"  # -Xms = -Xmx: a fixed heap keeps peak RSS comparable
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

E2E_UNITS = {"setup_s": "s", "op_p50_s": "s", "recall": "ratio",
             "shuffle_mb": "MB", "peak_rss_mb": "MB"}

LAYER_UNITS = {
    "plan.s": "s", "build.s": "s", "exec.s": "s", "driver.gap_s": "s",
    "driver.jobs": "count", "driver.stages": "count",
    "caches.release_s": "s", "caches.pinned_rdds": "count",
    "caches.bcast_after_mb": "MB",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.busy_frac": "ratio",
    "exec.spill_mb": "MB", "exec.peak_task_mem_mb": "MB", "exec.gc_s": "s",
    "scan.input_mb": "MB", "scan.files": "count", "scan.shuffle_mb": "MB",
    "signatures.s": "s", "signatures.task_s": "s",
    "bands.s": "s", "bands.rows": "count",
    "candidates.s": "s", "candidates.shuffle_mb": "MB",
    "candidates.pairs": "count", "candidates.skew": "ratio",
    "verify.s": "s", "verify.pairs": "count", "verify.yield": "ratio",
    "verify.recall": "ratio",
    "probe.s": "s", "probe.pairs": "count", "probe.read_mb": "MB",
    "ingest_verify.s": "s", "ingest_verify.dropped": "count",
    "ingest_verify.planted_recall": "ratio",
    "write.s": "s", "write.mb": "MB", "write.files": "count",
    "store.files": "count", "store.read_frac": "ratio",
    "stream.batches": "count", "stream.add_batch_s": "s",
    "stream.planning_s": "s", "stream.wal_commit_s": "s",
    "stream.commit_offsets_s": "s",
    "latency.p50_s": "s", "latency.tail_s": "s", "latency.tail_pct": "%", "latency.samples": "count",
    "canary.before_s": "s", "canary.after_s": "s",
    "trace.overhead_s": "s", "trace.recon_err": "ratio",
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_hash(root):
    """Hash of everything the build compiles."""
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/harness/build.sbt",
            "perfbench/harness/project/build.properties",
            "perfbench/harness/src"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def run_group(cmd, cwd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on
    timeout and wait for it, so nothing outlives the benchmark."""
    p = subprocess.Popen(cmd, cwd=cwd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(root, cache):
    """Compile engine + harness with sbt once per source hash; returns
    the runtime classpath."""
    cp_file = os.path.join(cache, f"classpath-{source_hash(root)}.txt")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building engine and harness (first run in this checkout)")
    out = os.path.join(cache, "build.log")
    with open(out, "w") as fh:
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspath"],
                       os.path.join(root, "perfbench", "harness"),
                       BUILD_LIMIT_S, stdout=fh, stderr=subprocess.STDOUT)
    lines = open(out).read().splitlines()
    cps = [ln for ln in lines if not ln.startswith("[") and "classes" in ln]
    if rc != 0 or not cps:
        fail(f"build failed (exit {rc}); see {out}")
    with open(cp_file, "w") as fh:
        fh.write(cps[-1])
    return cps[-1]


def inputs(cache, workload, seed):
    """Generated inputs, cached by (workload, seed, generator source)."""
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:8]
    d = os.path.join(cache, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.exists(os.path.join(d, "_DONE")):
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(workload, seed, d)
        open(os.path.join(d, "_DONE"), "w").close()
    return d


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it (the
    largest sample when there are ten or fewer): (value, pct)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def timed_ops(res):
    """The ops after the untimed warm-up ones: the ones metrics use."""
    return [o for o in res["ops"] if not o["warm"]]


def end_to_end(res, recall):
    """Medians over the timed ops, or over the workload's fixed span of
    them when its state grows with every op."""
    ops = timed_ops(res)[:res["fixed_span"]]
    return {
        "setup_s": median(res["setup_s"]),
        "op_p50_s": median([o["s"] for o in ops]),
        "recall": recall,
        "shuffle_mb": median([o["c"]["shuffleWrite"] / 2**20 for o in ops]),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def per_layer(res, recall):
    """Medians over the traced ops of the run; layers a workload does
    not exercise read 0."""
    nproc = res["env"]["nproc"]
    spans = res["spans"]
    by_parent = {}
    for s in spans:
        by_parent.setdefault(s["parent"], []).append(s)
    tops = {(s["op"], s["name"]): s for s in spans if s["parent"] == -1}

    def child(op, name):
        top = tops.get((op["id"], op["name"]))
        kids = by_parent.get(top["id"], []) if top else []
        return sum((k["end_ns"] - k["start_ns"]) / 1e9 for k in kids if k["name"] == name)

    timed = timed_ops(res)
    traced = [o for o in timed if o["traced"]]
    plain = [o for o in timed if not o["traced"]]
    rows = []
    recon = []
    for o in traced:
        c, s, x = o["c"], o["s"], o
        parts = sum(child(o, n) for n in ("build", "plan", "exec", "release"))
        recon.append(abs(s - parts) / s)
        r = {
            "plan.s": c["planMs"] / 1e3, "build.s": child(o, "build"),
            "exec.s": child(o, "exec"),
            "driver.gap_s": max(0.0, s - c["jobCoveredMs"] / 1e3),
            "driver.jobs": c["jobs"], "driver.stages": c["stages"],
            "caches.release_s": child(o, "release"),
            "exec.task_s": c["taskMs"] / 1e3, "exec.cpu_s": c["cpuNs"] / 1e9,
            "exec.busy_frac": c["taskMs"] / 1e3 / (s * nproc),
            "exec.spill_mb": c["spill"] / 2**20,
            "exec.peak_task_mem_mb": c["peakTaskMem"] / 2**20,
            "exec.gc_s": c["gcMs"] / 1e3,
            "scan.input_mb": c["inputBytes"] / 2**20, "scan.files": c["scanFiles"],
            "scan.shuffle_mb": c["scanShuffleWrite"] / 2**20,
            "stream.batches": c["streamBatches"],
            "stream.add_batch_s": c["streamAddBatchMs"] / 1e3,
            "stream.planning_s": c["streamPlanningMs"] / 1e3,
            "stream.wal_commit_s": c["streamWalCommitMs"] / 1e3,
            "stream.commit_offsets_s": c["streamCommitOffsetsMs"] / 1e3,
        }
        for k in ("caches.pinned_rdds", "caches.bcast_after_mb", "write.mb",
                  "write.files", "store.files", "store.read_frac"):
            if k in x:
                r[k] = x[k]
        if o["name"] == "similarPairs":
            sig, band, cand = (x["signatures.s"], x["bands.s"], x["candidatePairs.s"])
            r.update({
                "signatures.s": sig, "signatures.task_s": x["signatures.task_s"],
                "bands.s": band - sig, "bands.rows": x["bands.rows"],
                "candidates.s": cand - band,
                "candidates.shuffle_mb":
                    x["candidatePairs.shuffle_mb"] - x["bands.shuffle_mb"],
                "candidates.pairs": x["candidatePairs.rows"],
                "candidates.skew": x["candidatePairs.skew"],
                "verify.s": s - cand, "verify.pairs": o["rows"],
                "verify.yield": o["rows"] / max(1, x["candidatePairs.rows"]),
                "verify.recall": recall,
            })
        elif o["name"] == "ingestBatch":
            band, probe, filt = (x["bands.s"], x["incrementalCandidates.s"],
                                 x["filterBatch.s"])
            r.update({
                "bands.s": band, "bands.rows": x["bands.rows"],
                "probe.s": probe - band, "probe.pairs": x["incrementalCandidates.rows"],
                "probe.read_mb": x["incrementalCandidates.read_mb"],
                "ingest_verify.s": filt - probe,
                "ingest_verify.dropped": gen.INGEST_BATCH_DOCS - x["filterBatch.rows"],
                "ingest_verify.planted_recall": recall,
                "write.s": s - filt,
            })
        rows.append(r)
    out = {k: median([r.get(k, 0.0) for r in rows]) for k in LAYER_UNITS}
    base = plain or timed
    t, pct = tail([o["s"] for o in base])
    out.update({
        "latency.p50_s": median([o["s"] for o in base]),
        "latency.tail_s": t, "latency.tail_pct": pct, "latency.samples": len(base),
        "canary.before_s": res["canary_s"][0], "canary.after_s": res["canary_s"][1],
        "trace.overhead_s": median([o["s"] for o in traced]) - median([o["s"] for o in plain]),
        "trace.recon_err": max(recon) if recon else 0.0,
    })
    return out


def run_checks(workload, inp, res):
    """(failed op ids, recall, notes)."""
    if workload == "dedup_batch":
        return check.check_dedup(inp, res["checks"], res["ops"])
    return check.check_ingest(inp, res["checks"], res["ops"])


def run_workload(root, cache, workload, seed, seconds, trace):
    """Build, generate, run the harness and check one workload; returns
    the result summary."""
    started = time.time()
    cp = build(root, cache)
    inp = inputs(cache, workload, seed)
    work = os.path.join(cache, "work", f"{workload}-{seed}-t{trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={work}", "-cp", cp, "perfbench.Harness",
              workload, inp, work, str(seconds), str(trace)])
    limit = max(30.0, RUN_LIMIT_S - (time.time() - started))
    with open(os.path.join(work, "harness.log"), "w") as fh:
        rc = run_group(cmd, root, limit, stdout=fh, stderr=subprocess.STDOUT)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.exists(result):
        fail(f"harness failed (exit {rc}); see {work}/harness.log", 1)
    with open(result) as fh:
        res = json.load(fh)
    failed, recall, notes = run_checks(workload, inp, res)
    for n in notes:
        log(f"check: {n}")
    if trace:
        metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                   for k, v in per_layer(res, recall).items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                   for k, v in end_to_end(res, recall).items()}
    summary = {"correct": not failed, "attempted": len(res["ops"]),
               "failed": len(failed), "metrics": metrics}
    res["summary"] = summary
    with open(os.path.join(cache, f"{workload}-{seed}-t{trace}.json"), "w") as fh:
        json.dump(res, fh)
    shutil.rmtree(work, ignore_errors=True)
    return summary


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them (one result line each)")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        fail("no engine sources here: run from the root of a graft checkout")
    cache = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(cache, exist_ok=True)
    ok = True
    for w in (WORKLOADS if a.workload == "all" else (a.workload,)):
        summary = run_workload(root, cache, w, a.seed, a.seconds, a.trace)
        ok = ok and summary["correct"]
        print(json.dumps(summary if a.workload != "all" else {"workload": w, **summary}),
              flush=True)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
