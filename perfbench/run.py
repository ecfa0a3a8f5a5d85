"""The repository's benchmark: one command for every workload.

    python3 perfbench/run.py --workload cql_oltp --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
driver from source (perfbench/build.py), starts one JVM sized from the host
(local[nproc], nproc shuffle partitions, a driver heap from /proc/meminfo),
runs the workload closed-loop from one client thread, checks every answer,
and prints every metric by name and unit. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}, where the
metrics are the end-to-end ones with --trace 0 and the per-layer ones with
--trace 1. The full artifact (sample counts, tail percentiles, host facts,
and in traced runs the spans) is written under .bench_build/results/.
See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True  # leave nothing in the checkout but .bench_build
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ("cql_oltp", "bulk_merge", "analytics")
RUN_TIMEOUT_S = 175
TAIL_BEYOND = 10
# Tail percentile per (workload, op kind), from the sample counts at the
# 15 s run length: cql_oltp 40-57 reads and 10-14 writes, bulk_merge 18 reads
# and 6 merges in its two blocks, analytics one pass of 41 keys. cql_oltp
# and analytics reads leave TAIL_BEYOND samples beyond p75; no percentile
# above the median can for the others, whose p80 is reported with
# resolved = false.
TAIL_PCT = {("cql_oltp", "read"): 75, ("cql_oltp", "write"): 80,
            ("bulk_merge", "read"): 80, ("bulk_merge", "write"): 80,
            ("analytics", "read"): 75, ("analytics", "write"): 80}

# name, unit: the end-to-end metrics of the result line (BENCHMARK.json)
END_TO_END = [
    ("read_p50_ms", "ms"), ("read_tail_ms", "ms"), ("ops_per_s", "ops/s"),
    ("setup_s", "s"), ("heap_live_mb", "MB"), ("disk_bytes_per_live_byte", "ratio"),
]
# printed and kept in the artifact only: the write median of 6 merges
# (bulk_merge) or ~12 sub-millisecond statements (cql_oltp) spread by up
# to 0.27 between runs of one seed set; no workload has enough writes for
# a resolved write tail; failed_ratio is 0 when all is well (the result
# line carries `failed`); peak RSS follows the collector's heap growth
PRINTED_ONLY = [("write_p50_ms", "ms"), ("write_tail_ms", "ms"), ("failed_ratio", "fraction"),
                ("peak_rss_mb", "MB")]
# analytics runs no writes and keeps no table: it reports the rest
ANALYTICS_END_TO_END = {"read_p50_ms", "read_tail_ms", "ops_per_s", "setup_s", "peak_rss_mb",
                        "heap_live_mb", "failed_ratio"}

PER_LAYER = [
    ("cql.parse_ms", "ms"), ("cql.execute_ms", "ms"),
    ("cql.read_after_write_ms", "ms"), ("cql.read_same_epoch_ms", "ms"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("storage.reconcile_ms", "ms"), ("storage.snapshot_ms", "ms"),
    ("storage.merge_ms_lt1k", "ms"), ("storage.merge_ms_1k_10k", "ms"),
    ("storage.merge_ms_ge10k", "ms"), ("storage.merge_rows_per_s", "rows/s"),
    ("storage.compact_ms", "ms"), ("storage.log_rows_per_live_row", "ratio"),
    ("storage.disk_bytes", "bytes"),
    ("runtime.jobs", "count"), ("runtime.stages", "count"), ("runtime.tasks", "count"),
    ("runtime.untagged_jobs", "count"), ("runtime.driver_gap_ms", "ms"),
    ("runtime.executor_run_ms", "ms"), ("runtime.executor_cpu_ms", "ms"),
    ("runtime.gc_ms", "ms"), ("runtime.shuffle_read_bytes", "bytes"),
    ("runtime.shuffle_write_bytes", "bytes"), ("runtime.spill_bytes", "bytes"),
    ("runtime.slot_utilization", "ratio"),
    ("kernels.wscg_ms", "ms"),
    ("self.op_ms", "ms"), ("self.cql_ms", "ms"), ("self.catalyst_ms", "ms"),
    ("self.storage_ms", "ms"), ("self.runtime_ms", "ms"),
]

ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def driver_heap():
    """The tier-1 formula: half of MemTotal in GiB, clamped to [2, 8]."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration, ValueError):
        return "2g"


def commit_of(root):
    """The commit the checkout was made from, when it is a git work tree of
    its own (the source hash in the artifact identifies it otherwise)."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=root,
                           capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or Path(lines[0]).resolve() != root.resolve():
        return None
    return lines[1]


# ---- statistics ---------------------------------------------------------

def median(xs):
    return statistics.median(xs) if xs else 0.0


def quantile(s, pct):
    """Linear-interpolated percentile of sorted samples."""
    if not s:
        return 0.0
    x = (len(s) - 1) * pct / 100.0
    i = int(x)
    return s[i] if i + 1 >= len(s) else s[i] + (s[i + 1] - s[i]) * (x - i)


def tail(xs, pct):
    """The workload's tail percentile: fixed per workload and op kind as
    the highest percentile that leaves TAIL_BEYOND samples beyond it at the
    configured run length (TAIL_PCT). The artifact records n and how many
    samples this run left beyond it; `resolved` is false below
    TAIL_BEYOND."""
    s = sorted(xs)
    beyond = sum(1 for v in s if v > quantile(s, pct))
    return {"value": quantile(s, pct), "pct": pct, "n": len(s), "beyond": beyond,
            "resolved": beyond >= TAIL_BEYOND}


def interval_union_us(ivs, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    ivs = sorted((max(a, lo), min(b, hi)) for a, b in ivs if b > lo and a < hi)
    tot, cur_a, cur_b = 0, None, None
    for a, b in ivs:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot


# ---- metrics ------------------------------------------------------------

def end_to_end(raw):
    ops = raw["ops"]
    ok = [o for o in ops if o["ok"]]
    reads = [o["ms"] for o in ok if o["kind"] == "read"]
    writes = [o["ms"] for o in ok if o["kind"] == "write"]
    attempted = len(ops) + len(raw["warm_ops"])
    failed = sum(1 for o in ops + raw["warm_ops"] if not o["ok"])
    rt = tail(reads, TAIL_PCT[(raw["workload"], "read")])
    wt = tail(writes, TAIL_PCT[(raw["workload"], "write")])
    m = {
        "read_p50_ms": median(reads),
        "read_tail_ms": rt["value"],
        "write_p50_ms": median(writes),
        "write_tail_ms": wt["value"],
        "ops_per_s": len(ok) / raw["wall_s"] if raw["wall_s"] > 0 else 0.0,
        "setup_s": raw["session_s"] + median(raw["setup_reps_s"]),
        "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0,
        "heap_live_mb": raw["heap_live_bytes"] / 2 ** 20,
        "disk_bytes_per_live_byte": (raw["disk_bytes"] / raw["live_parquet_bytes"]
                                     if raw.get("live_parquet_bytes") else 0.0),
        "failed_ratio": failed / attempted if attempted else 0.0,
    }
    detail = {
        "read_tail": rt, "write_tail": wt, "n_reads": len(reads), "n_writes": len(writes),
        "n_ops": len(ok), "attempted": attempted, "failed": failed,
        "first_op_s": raw["first_op_s"], "session_s": raw["session_s"],
        "setup_reps_s": raw["setup_reps_s"], "warmup_s": raw["warmup_s"],
        "wall_s": raw["wall_s"], "ops_by_sub": count_by(ops, "sub"),
        "p50_ms_by_sub": {k: median([o["ms"] for o in ok if o["sub"] == k])
                          for k in count_by(ops, "sub")},
    }
    return m, detail


def count_by(ops, key):
    out = {}
    for o in ops:
        out[o[key]] = out.get(o[key], 0) + 1
    return out


def build_spans(raw):
    """Every span of the traced run with an id and a parent: op roots, the
    benchmark's layer-call children, Catalyst phases, Spark jobs and
    stages. A phase or job hangs under the benchmark child that contains
    its midpoint (Spark's clocks tick in milliseconds), else the root."""
    spans, by_op = [], {}
    for s in raw.get("spans", []):
        sp = {"id": len(spans), "name": s["name"], "op": s["op"],
              "start_us": s["start_us"], "end_us": s["end_us"], "parent": None}
        spans.append(sp)
        by_op.setdefault(s["op"], {"root": None, "children": []})
        if s["root"]:
            by_op[s["op"]]["root"] = sp
        else:
            by_op[s["op"]]["children"].append(sp)
    for g in by_op.values():
        for c in g["children"]:
            c["parent"] = g["root"]["id"] if g["root"] else None

    def attach(op, start, end):
        g = by_op.get(op)
        if not g or not g["root"]:
            return None
        mid = (start + end) / 2 + 500
        for c in g["children"]:
            if c["start_us"] <= mid <= c["end_us"]:
                return c["id"]
        return g["root"]["id"]

    for q in raw.get("qes", []):
        for ph, t in q["phases"].items():
            spans.append({"id": len(spans), "name": f"catalyst.{ph}", "op": q["op"],
                          "start_us": t["start_us"], "end_us": t["end_us"],
                          "parent": attach(q["op"], t["start_us"], t["end_us"])})
    job_span = {}
    for j in raw.get("jobs", []):
        sp = {"id": len(spans), "name": "runtime.job", "op": j["op"], "job": j["job"],
              "start_us": j["start_us"], "end_us": max(j["end_us"], j["start_us"]),
              "parent": attach(j["op"], j["start_us"], max(j["end_us"], j["start_us"]))}
        job_span[j["job"]] = sp["id"]
        spans.append(sp)
    for st in raw.get("stages", []):
        spans.append({"id": len(spans), "name": "runtime.stage", "op": st["op"],
                      "stage": st["stage"], "start_us": st["start_us"],
                      "end_us": max(st["end_us"], st["start_us"]),
                      "parent": job_span.get(st["job"])})
    for p in raw.get("probes", []):
        spans.append({"id": len(spans), "name": f"probe.{p['name']}", "op": p["op"],
                      "start_us": p["start_us"], "end_us": p["start_us"] + p["ms"] * 1e3,
                      "parent": None})
    # self time: duration minus the part of it that child spans cover
    kids = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append((sp["start_us"], sp["end_us"]))
    for sp in spans:
        covered = interval_union_us(kids.get(sp["id"], []), sp["start_us"], sp["end_us"])
        sp["self_us"] = (sp["end_us"] - sp["start_us"]) - covered
    return spans


def per_layer(raw, spans):
    ops = raw["ops"]
    n_ops = max(1, len(ops))
    ok = [o for o in ops if o["ok"]]
    reads = [o for o in ok if o["kind"] == "read"]
    probes = raw.get("probes", [])
    qes = [q for q in raw.get("qes", []) if q["op"] >= 0]
    jobs = raw.get("jobs", [])
    tagged = [j for j in jobs if j["op"] >= 0]
    m = {}
    m["cql.parse_ms"] = median([p["ms"] for p in probes if p["name"] == "cql.parse"])
    m["cql.execute_ms"] = median([(s["end_us"] - s["start_us"]) / 1e3 for s in spans
                                  if s["name"] == "cql.execute"])
    aw = [o["ms"] for o in reads if o.get("after_write")]
    se = [o["ms"] for o in reads if o.get("after_write") is False]
    m["cql.read_after_write_ms"] = median(aw)
    m["cql.read_same_epoch_ms"] = median(se)
    phase_ms = {}
    for q in qes:
        for ph, t in q["phases"].items():
            d = phase_ms.setdefault(ph, {})
            d[q["op"]] = d.get(q["op"], 0.0) + (t["end_us"] - t["start_us"]) / 1e3
    read_ids = {o["id"] for o in reads}
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_ms"] = median(
            [v for op, v in phase_ms.get(ph, {}).items() if op in read_ids])
    m["storage.reconcile_ms"] = median([p["ms"] for p in probes
                                        if p["name"] == "storage.reconcile"])
    m["storage.snapshot_ms"] = median([(s["end_us"] - s["start_us"]) / 1e3 for s in spans
                                       if s["name"] == "storage.snapshot"])
    merges = [o for o in ok if o["sub"] == "merge"]
    for name, lo, hi in (("lt1k", 0, 1000), ("1k_10k", 1000, 10000), ("ge10k", 10000, 1 << 62)):
        m[f"storage.merge_ms_{name}"] = median(
            [o["ms"] for o in merges if lo <= o["delta_rows"] < hi])
    merge_s = sum(o["ms"] for o in merges) / 1e3
    m["storage.merge_rows_per_s"] = (sum(o["delta_rows"] for o in merges) / merge_s
                                     if merge_s else 0.0)
    m["storage.compact_ms"] = median([o["ms"] for o in ok if o["kind"] == "compact"])
    comps = raw.get("compactions", [])
    m["storage.log_rows_per_live_row"] = (statistics.mean(
        c["rows_in"] / c["rows_out"] for c in comps if c["rows_out"]) if comps else 0.0)
    m["storage.disk_bytes"] = raw["disk_bytes"]
    m["runtime.jobs"] = len(tagged) / n_ops
    m["runtime.stages"] = sum(j["stages"] for j in tagged) / n_ops
    m["runtime.tasks"] = sum(j["tasks"] for j in tagged) / n_ops
    m["runtime.untagged_jobs"] = sum(1 for j in jobs if j["op"] == -1)
    gaps = []
    for o in ok:
        ivs = [(j["start_us"], j["end_us"]) for j in tagged if j["op"] == o["id"]]
        cover = interval_union_us(ivs, o["start_us"], o["start_us"] + o["ms"] * 1e3)
        gaps.append(o["ms"] - cover / 1e3)
    m["runtime.driver_gap_ms"] = median(gaps)
    for key in ("executor_run_ms", "executor_cpu_ms", "gc_ms", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes"):
        m[f"runtime.{key}"] = sum(j[key] for j in tagged) / n_ops
    wall_ms = raw["wall_s"] * 1e3
    m["runtime.slot_utilization"] = (sum(j["executor_run_ms"] for j in tagged)
                                     / (wall_ms * raw["nproc"]) if wall_ms else 0.0)
    # commands (MERGE, snapshot writes) report pipeline times far above
    # their wall time, so only query actions count
    m["kernels.wscg_ms"] = sum(q["wscg_ms"] for q in qes if q["action"] != "command") / n_ops
    layer_self = {}
    for s in (s for s in spans if s["op"] >= 0 and not s["name"].startswith("probe.")):
        layer = s["name"].split(".")[0]
        layer_self[layer] = layer_self.get(layer, 0) + s["self_us"]
    for layer in ("op", "cql", "catalyst", "storage", "runtime"):
        m[f"self.{layer}_ms"] = layer_self.get(layer, 0) / 1e3 / n_ops
    return m


def check_answers(raw, keep):
    """Hash every analytics answer of the warm-up pass against the recorded
    hashes; a mismatch fails that op. The answers and the fixture are kept
    for a DuckDB confirmation with tools/compare.py."""
    import answers
    res = answers.check(raw["answers_dir"], [o["sub"] for o in raw["warm_ops"]])
    for o in raw["warm_ops"]:
        h, n, want, ok = res[o["sub"]]
        if o["ok"] and not ok:
            o["ok"] = False
            o["err"] = f"answer hash {h} ({n} rows) != recorded {want}"
    raw["answers"] = {k: {"hash": h, "rows": n, "ok": ok} for k, (h, n, _, ok) in res.items()}
    shutil.rmtree(keep, ignore_errors=True)
    shutil.copytree(raw["answers_dir"], keep / "answers")
    shutil.copytree(raw["fixture_dir"], keep / "fixture")


def analytics_layers(raw):
    """Wall time per key and per operator family (medians over passes)."""
    ok = [o for o in raw["ops"] if o["ok"]]
    m = {}
    for fam in ("relational", "streaming", "cassandra", "dedup", "vector", "text"):
        m[f"kernels.{fam}_ms"] = median([o["ms"] for o in ok if o.get("family") == fam])
    for k in sorted({o["sub"] for o in ok}):
        m[f"query.{k}_ms"] = median([o["ms"] for o in ok if o["sub"] == k])
    return m


def previous_untraced(results, workload, seed):
    """Newest untraced artifact of this workload, this seed preferred."""
    cands = sorted(results.glob(f"{workload}-seed*-trace0.json"),
                   key=lambda p: p.stat().st_mtime, reverse=True)
    same = [p for p in cands if p.name == f"{workload}-seed{seed}-trace0.json"]
    for p in same + cands:
        try:
            return json.loads(p.read_text())
        except (OSError, ValueError):
            continue
    return None


# ---- the run ------------------------------------------------------------

def run_jvm(root, classes, a, work, out):
    heap = driver_heap()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # a fixed young generation and an early, fixed marking threshold: the
    # heap then grows with live data rather than with the collector's
    # adaptive sizing, which keeps peak RSS comparable between runs
    cmd = ["java", *ADD_OPENS, f"-Xmx{heap}", "-Xmn1g", "-XX:-G1UseAdaptiveIHOP",
           "-XX:InitiatingHeapOccupancyPercent=20", "-Xss8m", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", f"{classes}:{build.classpath(root)}", "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--out", str(out), "--work", str(work),
           "--nproc", str(nproc())]
    env = dict(os.environ, SPARK_DRIVER_MEM=heap, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    jvm_log = work / "jvm.log"
    with open(jvm_log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=root, stdout=lf, stderr=subprocess.STDOUT, env=env)
        rc = None
        try:
            rc = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:  # on a timeout, or when this process is interrupted or terminated
            if p.poll() is None:
                p.kill()
                p.wait()
    return rc, heap, jvm_log


def main():
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    root = Path.cwd()
    t_build = time.time()
    try:
        classes = build.build(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 1
    build_s = time.time() - t_build

    runs = root / ".bench_build" / "run"
    work = runs / f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    out = work / "raw.json"
    try:
        rc, heap, jvm_log = run_jvm(root, classes, a, work, out)
        if rc != 0 or not out.exists():
            text = jvm_log.read_text(errors="replace")
            kept = root / ".bench_build" / "results" / f"{a.workload}-seed{a.seed}-jvm.log"
            kept.parent.mkdir(parents=True, exist_ok=True)
            kept.write_text(text)
            errors = [l for l in text.splitlines() if "Exception" in l and not l.startswith("\t")]
            log(f"JVM {'timed out' if rc is None else f'exited {rc}'}; log in {kept}; errors:\n"
                + "\n".join(errors[:10]))
            return 1
        raw = json.loads(out.read_text())
        if a.workload == "analytics":
            check_answers(raw, root / ".bench_build" / "results" / "analytics")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e, detail = end_to_end(raw)
    results = root / ".bench_build" / "results"
    results.mkdir(parents=True, exist_ok=True)
    artifact = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "host": {"nproc": raw["nproc"], "heap": heap, "max_heap_bytes": raw["max_heap_bytes"],
                 "commit": commit_of(root), "source_hash": classes.name.split("-", 1)[1],
                 "build_s": build_s},
        "end_to_end": e2e, "detail": detail,
        "failures": [o for o in raw["ops"] + raw["warm_ops"] if not o["ok"]][:20],
    }
    artifact["ops"] = raw["ops"]
    artifact["warm_ops"] = raw["warm_ops"]
    for k in ("compactions", "disk_roots", "live_rows", "disk_bytes", "live_parquet_bytes",
              "answers"):
        if k in raw:
            artifact[k] = raw[k]
    if a.trace:
        spans = build_spans(raw)
        layer = per_layer(raw, spans)
        if a.workload == "analytics":
            layer.update(analytics_layers(raw))
        artifact["per_layer"] = layer
        artifact["qes"] = raw.get("qes", [])
        prev = previous_untraced(results, a.workload, a.seed)
        if prev:
            artifact["tracing_overhead"] = {
                k: {"traced": e2e[k], "untraced": prev["end_to_end"][k],
                    "delta": e2e[k] - prev["end_to_end"][k]}
                for k in ("read_p50_ms", "read_tail_ms", "write_p50_ms", "ops_per_s")}
        spans_file = results / f"{a.workload}-seed{a.seed}-spans.json"
        spans_file.write_text(json.dumps({"workload": a.workload, "seed": a.seed,
                                          "spans": spans}))
        artifact["spans_file"] = str(spans_file.relative_to(root))
        artifact["n_spans"] = len(spans)
    (results / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
        json.dumps(artifact, indent=1))

    correct = detail["failed"] == 0
    if not a.trace:
        names, values = END_TO_END, e2e
        if a.workload == "analytics":
            names = [(n, u) for n, u in END_TO_END if n in ANALYTICS_END_TO_END]
    else:
        values = artifact["per_layer"]
        names = PER_LAYER + [(n, "ms") for n in values if n not in dict(PER_LAYER)]
    print(f"workload {a.workload}  seed {a.seed}  nproc {raw['nproc']}  heap {heap}  "
          f"reads n={detail['n_reads']} (tail p{detail['read_tail']['pct']})  "
          f"writes n={detail['n_writes']} (tail p{detail['write_tail']['pct']})")
    for n, u in END_TO_END + PRINTED_ONLY:
        if a.workload != "analytics" or n in ANALYTICS_END_TO_END:
            print(f"  {n:<28} {e2e[n]:.6g} {u}")
    if a.trace:
        for n, u in names:
            print(f"  {n:<28} {values[n]:.6g} {u}")
        for k, v in artifact.get("tracing_overhead", {}).items():
            print(f"  tracing overhead {k:<14} {v['delta']:+.6g} (traced {v['traced']:.6g})")
    print(json.dumps({"correct": correct, "attempted": detail["attempted"],
                      "failed": detail["failed"],
                      "metrics": {n: {"value": values[n], "unit": u} for n, u in names}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
