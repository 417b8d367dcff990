"""Benchmark command: one workload, one JVM, one operation at a time.

    python3 perfbench/run.py --workload etl --seed 1 --seconds 6 --trace 0

Builds the program and the harness if their sources changed, generates the
workload's input tables from the seed, runs the harness on `local[nproc]`
with a fixed heap, checks every operation's output against DuckDB, and
prints the metrics. The last line of standard output is one JSON object:
`{"correct", "attempted", "failed", "metrics"}`. With `--trace 0` the
metrics are the end-to-end ones; with `--trace 1` they are the per-layer
ones, and every operation's per-layer figures are also written to
`<build>/trace/<workload>-s<seed>.json`.

`--rebuild-oracle` recomputes DuckDB's cached answers for the inputs.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import stats  # noqa: E402

# Operations per workload, grouped by the program module they exercise.
WORKLOADS = {
    "etl": {"sf": 0.01, "modules": {
        "core_ops": ["q01_pricing_summary", "q03_star_join_agg"],
        "meta": ["q33_meta_etl"],
        "mapper": ["q36_flatten_explode"],
        "warehouse": ["q30_cdc_changes"],
        "quality": ["q32_dq_rules"],
        "sources": ["q12_csv_roundtrip"],
        "streaming": ["q117_stream_dedup"]}},
    "curation": {"sf": 0.03, "modules": {
        "dedup": ["q24_minhash_lsh", "q25_ngram_jaccard"],
        "similarity": ["q108_name_edit_pairs"],
        "analytics": ["q111_copurchase_lift"]}},
}

HEAP = "4g"
RUN_LIMIT_S = 170   # the whole command must end within 180 s

END_TO_END = [("setup_s", "s"), ("cold_pass_s", "s"), ("pass_s", "s"),
              ("peak_rss_mb", "MB")]

# Per-layer metric name -> (trace field, unit); each is the sum over
# operations of the field's median across warm rounds.
LAYER_FIELDS = {
    "jvm.jit_s": ("jit_s", "s"), "jvm.gc_s": ("gc_s", "s"),
    "plan.analysis_s": ("analysis_s", "s"),
    "plan.optimization_s": ("optimization_s", "s"),
    "plan.planning_s": ("planning_s", "s"),
    "dispatch.jobs": ("jobs", "count"), "dispatch.stages": ("stages", "count"),
    "dispatch.tasks": ("tasks", "count"), "dispatch.driver_s": ("driver_s", "s"),
    "scan.input_mb": ("input_mb", "MB"), "scan.input_rows": ("input_rows", "count"),
    "exec.run_s": ("run_s", "s"), "exec.cpu_s": ("cpu_s", "s"),
    "shuffle.write_mb": ("shuffle_write_mb", "MB"),
    "shuffle.read_mb": ("shuffle_read_mb", "MB"),
    "shuffle.records": ("shuffle_records", "count"),
    "shuffle.fetch_wait_s": ("fetch_wait_s", "s"),
    "spill.mb": ("spill_mb", "MB"),
    "write.mb": ("write_mb", "MB"), "write.files": ("write_files", "count"),
    "write.rows": ("write_rows", "count"),
    "stream.batches": ("batches", "count"),
    "stream.add_batch_s": ("add_batch_s", "s"),
    "stream.wal_commit_s": ("wal_commit_s", "s"),
    "stream.commit_offsets_s": ("commit_offsets_s", "s"),
    "stream.query_planning_s": ("query_planning_s", "s"),
    "stream.state_rows": ("state_rows", "count"),
    "stream.state_commit_s": ("state_commit_s", "s"),
    "stream.state_mem_mb": ("state_mem_mb", "MB"),
}

ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def all_ops():
    return [op for w in WORKLOADS.values() for ops in w["modules"].values() for op in ops]


def op_id(op):
    return op.split("_", 1)[0]


def per_layer_names():
    """Every per-layer metric name with its unit, in report order."""
    names = [("core.session_s", "s"), ("core.tables_s", "s")]
    names += [(n, u) for n, (_, u) in LAYER_FIELDS.items()]
    names += [("stream.batch_p50_s", "s"), ("jvm.cold_jit_s", "s"),
              ("jvm.cold_gc_s", "s"), ("trace.pass_s", "s")]
    names += [(f"{m}.s", "s") for w in WORKLOADS.values() for m in w["modules"]]
    names += [(f"op.{op_id(op)}_s", "s") for op in all_ops()]
    return names


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def provenance(raw):
    def read(path, pick):
        try:
            with open(path) as fh:
                return pick(fh.read())
        except OSError:
            return "unknown"
    try:
        commit = subprocess.run(["git", "rev-parse", "--short=12", "HEAD"], cwd=build.ROOT,
                                capture_output=True, text=True, timeout=10).stdout.strip()
    except (OSError, subprocess.SubprocessError):
        commit = ""
    if not commit:   # not a git checkout: name the program sources instead
        h = hashlib.sha256()
        for f in build.sources(build.PROGRAM_SRC):
            h.update(open(f, "rb").read())
        commit = "src-" + h.hexdigest()[:12]
    return {
        "commit": commit, "cores": raw.get("cores"),
        "loadavg": read("/proc/loadavg", lambda s: " ".join(s.split()[:3])),
        "cpu": read("/proc/cpuinfo", lambda s: next(
            (ln.split(":", 1)[1].strip() for ln in s.splitlines()
             if ln.startswith("model name")), platform.processor() or "unknown")),
        "jvm_flags": " ".join(raw.get("jvm_flags", [])),
        "spark": raw.get("spark"),
    }


def run_harness(classpath, ops, input_dir, run_dir, seconds, trace, deadline):
    out = os.path.join(run_dir, "out")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=1g",
            "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-cp", classpath, "perfbench.Harness",
            f"input={input_dir}", f"out={out}", "ops=" + ",".join(ops),
            f"cores={cores()}", f"seconds={seconds}", f"trace={trace}",
            f"scratch={os.path.join(run_dir, 'scratch')}"]
    log = os.path.join(run_dir, "harness.log")
    with open(log, "w") as fh:
        cmd.append(f"spawn_ms={int(time.time() * 1000)}")
        proc = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, cwd=run_dir)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: harness exceeded the run limit, see {log}")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0:
        tail = open(log, errors="replace").read()[-3000:]
        raise SystemExit(f"perfbench: harness exited {rc}:\n{tail}")
    with open(os.path.join(out, "raw.json")) as fh:
        return json.load(fh), out


def metrics_of(raw, checks, trace):
    execs = raw["execs"]
    failed = stats.failed_ops(execs, {op: r is None for op, r in checks.items()})
    attempted, n_failed = stats.counts(execs, failed)
    pass_s = stats.pass_time(execs, failed)
    if not trace:
        vals = {"setup_s": raw["setup_s"],
                "cold_pass_s": stats.cold_pass_time(execs, failed),
                "pass_s": pass_s,
                "peak_rss_mb": raw["vm_hwm_kb"] / 1024.0}
        units = dict(END_TO_END)
        return attempted, n_failed, failed, {k: (v, units[k]) for k, v in vals.items()}, None
    stats.add_driver_time(execs)
    sums = stats.layer_sums(execs, failed, [f for f, _ in LAYER_FIELDS.values()])
    vals = {"core.session_s": raw["session_s"], "core.tables_s": raw["tables_s"]}
    vals.update({n: sums[f] for n, (f, _) in LAYER_FIELDS.items()})
    vals["stream.batch_p50_s"] = stats.batch_p50(execs, failed)
    vals["jvm.cold_jit_s"] = stats.cold_sum(execs, failed, "jit_s")
    vals["jvm.cold_gc_s"] = stats.cold_sum(execs, failed, "gc_s")
    vals["trace.pass_s"] = pass_s
    medians = stats.op_medians(execs, failed)
    for w in WORKLOADS.values():
        for m, ops in w["modules"].items():
            vals[f"{m}.s"] = sum(medians.get(op, 0.0) for op in ops)
    for op in all_ops():
        vals[f"op.{op_id(op)}_s"] = medians.get(op, 0.0)
    units = dict(per_layer_names())
    per_op = stats.per_op_layers(execs, failed, [f for f, _ in LAYER_FIELDS.values()])
    detail = {}
    for op, layers in per_op.items():
        samples = stats.op_samples(execs, failed)[op]
        tail = stats.tail_percentile(samples)
        detail[op] = {"median_s": medians[op], "samples": len(samples),
                      "cold_s": next(e["wall_s"] for e in execs
                                     if e["op"] == op and e["phase"] == "cold"),
                      **({f"p{tail[0]:g}_s": tail[1]} if tail else {}),
                      **{n: layers[f] for n, (f, _) in LAYER_FIELDS.items()}}
    return attempted, n_failed, failed, {k: (v, units[k]) for k, v in vals.items()}, detail


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rebuild-oracle", action="store_true")
    args = ap.parse_args(argv)
    deadline = time.monotonic() + RUN_LIMIT_S

    import gen       # noqa: E402  (numpy/pyarrow only once the sources exist)
    import oracle    # noqa: E402

    t_start = time.monotonic()
    classpath = build.build()
    # A build only happens on a checkout's first run; it gets its own limit.
    deadline = max(deadline, time.monotonic() + RUN_LIMIT_S - 30)
    spec = WORKLOADS[args.workload]
    ops = [op for mod in spec["modules"].values() for op in mod]
    bdir = build.build_dir()
    input_dir = gen.write(os.path.join(bdir, "inputs",
                                       f"sf{spec['sf']}-s{args.seed}-g{gen.version()}"),
                          args.seed, spec["sf"])
    run_dir = os.path.join(bdir, "runs", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    t_inputs = time.monotonic()
    try:
        raw, out = run_harness(classpath, ops, input_dir, run_dir,
                               args.seconds, args.trace, deadline)
        t_harness = time.monotonic()
        checks = oracle.check(input_dir, os.path.join(out, "dump"), ops,
                              os.path.join(bdir, "oracle", os.path.basename(input_dir)),
                              cores(), rebuild=args.rebuild_oracle)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    marks = ", ".join(f"{k} {v:.1f}s" for k, v in raw["marks"].items())
    print(f"perfbench: build+inputs {t_inputs - t_start:.1f}s, harness "
          f"{t_harness - t_inputs:.1f}s (ends after spawn: {marks}), "
          f"check {time.monotonic() - t_harness:.1f}s", file=sys.stderr)

    attempted, n_failed, failed, metrics, detail = metrics_of(raw, checks, args.trace)
    prov = provenance(raw)
    print(f"perfbench workload={args.workload} seed={args.seed} sf={spec['sf']} "
          f"seconds={args.seconds:g} trace={args.trace} ops={len(ops)}")
    for k, v in prov.items():
        print(f"provenance {k}: {v}")
    for op in sorted(failed):
        print(f"failed {op}: {checks.get(op) or 'execution raised'}")
    print(f"attempted {attempted} failed {n_failed}")
    for name, (v, unit) in metrics.items():
        print(f"metric {name} {v:.6g} {unit}")
    if detail is not None:
        path = os.path.join(bdir, "trace", f"{args.workload}-s{args.seed}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "provenance": prov, "metrics": {k: v for k, (v, _) in metrics.items()},
                       "ops": detail}, fh, indent=1)
        print(f"trace file {os.path.relpath(path, build.ROOT)}")
    print(json.dumps({
        "correct": stats.correct(raw["execs"], checks),
        "attempted": attempted, "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
