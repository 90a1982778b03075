"""The benchmark's one command.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py),
writes the seeded inputs (perfbench/fixtures.py), runs one JVM of
perfbench.Main at local[<cores>], checks every output against answers
computed here from the inputs (perfbench/checks.py), and prints as its
last line one JSON object: correct, attempted, failed and the metrics of
BENCHMARK.json (the end-to-end ones with --trace 0, the per-layer ones
with --trace 1), each with its unit.

`--record-fingerprints` (headline only) stores the queries' fingerprints
as the reference that later runs are checked against.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import checks  # noqa: E402
import fixtures  # noqa: E402

ROOT = os.path.dirname(HERE)
FINGERPRINTS = os.path.join(HERE, "fingerprints.json")

WORKLOADS = ("etl_cold", "headline")
# a fixed heap (-Xms = -Xmx): G1 resizing it made wall time vary by a
# tenth between runs. It is touched at start (-XX:+AlwaysPreTouch), so
# the page faults of first use fall in set-up, not in the first timed pass.
HEAP = "3g"
HEADLINE_SF = "sf0.1"
TIME_LIMIT_S = 175
FIRST_BUILD_LIMIT_S = 880


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


# ---------------------------------------------------------------- checks

def evaluate_etl(rec, texts):
    """Every pass, the warm-up's included, lists every file."""
    attempted = failed = 0
    problems = []
    names = set(texts)
    for p in rec["etl_passes"]:
        f, probs = checks.check_etl_pass(p, texts, names)
        problems += probs
        if p["timed"]:
            attempted += len(names)
            failed += f
    return attempted, failed, problems


def evaluate_headline(rec, sf_key, record_fingerprints):
    got = rec["fingerprints"]
    stored = {}
    if os.path.exists(FINGERPRINTS):
        with open(FINGERPRINTS, encoding="utf-8") as fh:
            stored = json.load(fh)
    if record_fingerprints:
        stored[sf_key] = got
        with open(FINGERPRINTS, "w", encoding="utf-8") as fh:
            json.dump(stored, fh, indent=1, sort_keys=True)
            fh.write("\n")
    bad = set(checks.check_fingerprints(got, stored.get(sf_key, {})))
    problems = [f"fingerprint of {q}: {got.get(q)} != {stored.get(sf_key, {}).get(q)}"
                for q in sorted(bad)]
    attempted = failed = 0
    for p in rec["headline_passes"]:
        for q, v in p["queries"].items():
            attempted += 1
            if not v["ok"] or q in bad:
                failed += 1
    return attempted, failed, problems


# --------------------------------------------------------------- metrics

def end_to_end(rec, workload):
    if workload == "etl_cold":
        walls = [p["wall_s"] for p in rec["etl_passes"] if p["timed"]]
    else:
        walls = [p["wall_s"] for p in rec["headline_passes"]]
    return {"wall_s": checks.median(walls), "setup_s": rec["setup_s"]}


def per_layer(rec, names):
    spans = rec["spans"]
    by_pass = defaultdict(list)
    child_wall = defaultdict(float)
    for s in spans:
        by_pass[s["pass"]].append(s)
        if s["parent"]:
            child_wall[s["parent"]] += s["wall_s"]

    def self_s(s):
        return s["wall_s"] - child_wall[s["id"]]

    def over_passes(f):
        vals = [f(ss) for ss in by_pass.values()]
        return checks.median(vals) if vals else 0.0

    def total(name, f):
        return over_passes(lambda ss: sum(f(s) for s in ss if s["name"] == name))

    cores = rec["cores"]
    roots = ("etl.pass", "headline.pass")

    def pass_wall(ss):
        return sum(s["wall_s"] for s in ss if s["name"] in roots)

    def phases(s, keys=("analysis", "optimization", "planning")):
        return sum(s["phase_ms"].get(k, 0) for k in keys)

    def skew(ss):
        r = [mx / max(md, 1.0) for s in ss for mx, md in s["stage_max_median_task_ms"]]
        return max(r) if r else 0.0

    def extract_busy(ss):
        e = [s for s in ss if s["name"] == "pipeline.extract"]
        wall = sum(s["wall_s"] for s in e)
        return sum(s["task_s"] for s in e) / (wall * cores) if wall > 0 else 0.0

    m = {
        "sources.scan_s": total("sources.scan", self_s),
        "sources.scan_out_partitions": total("sources.scan", lambda s: s["counts"].get("out_partitions", 0)),
        "sources.history_read_s": total("sources.history_read", self_s),
        "sources.history_files_read": total("sources.history_read", lambda s: s["counts"].get("files_read", 0)),
        "staging.materialize_s": total("staging.materialize", self_s),
        "pipeline.extract_s": total("pipeline.extract", self_s),
        "pipeline.extract_tasks": total("pipeline.extract", lambda s: s["tasks"]),
        "pipeline.extract_core_busy": over_passes(extract_busy),
        "sinks.fs_write_s": total("sinks.fs_write", self_s),
        "sinks.history_upsert_s": total("sinks.history_upsert", self_s),
        "sinks.history_files_written": total("sinks.history_upsert", lambda s: s["counts"].get("files_written", 0)),
        "spark.jobs": over_passes(lambda ss: sum(s["jobs"] for s in ss)),
        "spark.stages": over_passes(lambda ss: sum(s["stages"] for s in ss)),
        "spark.tasks": over_passes(lambda ss: sum(s["tasks"] for s in ss)),
        "spark.task_s": over_passes(lambda ss: sum(s["task_s"] for s in ss)),
        "spark.floor_s": over_passes(lambda ss: pass_wall(ss) - sum(s["task_s"] for s in ss) / cores),
        "spark.planning_ms": over_passes(lambda ss: sum(phases(s) for s in ss)),
        "spark.shuffle_read_mb": over_passes(lambda ss: sum(s["shuffle_read_bytes"] for s in ss) / 2**20),
        "spark.shuffle_write_mb": over_passes(lambda ss: sum(s["shuffle_write_bytes"] for s in ss) / 2**20),
        "spark.spill_mb": over_passes(lambda ss: sum(s["spill_bytes"] for s in ss) / 2**20),
        "spark.task_skew": over_passes(skew),
    }
    ops = [p for p in rec.get("etl_passes", []) if p["timed"]]
    new_rows = {p["pass"]: p["extracted"] for p in ops}

    def bytes_per_row(ss):
        rows = new_rows.get(ss[0]["pass"], 0)
        written = sum(s["counts"].get("bytes_written", 0) for s in ss)
        return written / rows if rows else 0.0

    m["sinks.history_bytes_per_new_row"] = over_passes(bytes_per_row)

    def llm(f):
        return checks.median([f(p) for p in ops]) if ops else 0.0

    m["llm.calls"] = llm(lambda p: p["llm_calls"])
    m["llm.prompt_tokens"] = llm(lambda p: p["llm_prompt_tokens"])
    m["llm.completion_tokens"] = llm(lambda p: p["llm_completion_tokens"])
    m["llm.calls_per_doc"] = llm(lambda p: p["llm_calls"] / p["listed"])
    m["llm.tokens_per_doc"] = llm(
        lambda p: (p["llm_prompt_tokens"] + p["llm_completion_tokens"]) / p["listed"])
    traced = [p["wall_s"] for p in ops if p["traced"]]
    untraced = [p["wall_s"] for p in ops if not p["traced"]]
    m["trace.overhead_s"] = rec["trace_overhead_s"] / max(len(by_pass), 1)
    m["trace.wall_delta_s"] = (checks.median(traced) - checks.median(untraced)
                               if traced and untraced else 0.0)
    for n in names:
        if n.startswith("operators.") and n.endswith(".wall_s"):
            m[n] = total(n[: -len(".wall_s")], self_s)
    return m


# ------------------------------------------------------------------ main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true")
    a = ap.parse_args()
    # SIGTERM unwinds like an exception, so subprocess.run kills and reaps
    # the JVM and the work directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    t_start = time.monotonic()
    spec = benchmark_spec()

    try:
        classpath, docs_tsv, compiled = build.build()
    except build.BuildError as e:
        log(f"build: {e}")
        return 2
    limit = FIRST_BUILD_LIMIT_S if compiled else TIME_LIMIT_S
    if compiled:
        log(f"built in {time.monotonic() - t_start:.1f} s")

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.monotonic()
        fixdir = os.path.join(work, "fixtures")
        texts = fixtures.generate(fixtures.load_documents(docs_tsv), a.seed, fixdir, a.workload)
        # flush the fixture files now, not during the timed passes
        os.sync()
        fixture_s = time.monotonic() - t0
        record = os.path.join(work, "record.json")
        cmd = build.java(HEAP) + [
            f"-Xms{HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        ] + build.JVM_OPENS + [
            "-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--fixtures", fixdir, "--work", work,
            "--record", record, "--sf", build.sf_dir(HEADLINE_SF), "--cores", str(cores()),
        ]
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as lf:
            try:
                r = subprocess.run(cmd, stdout=lf, stderr=lf, stdin=subprocess.DEVNULL,
                                   cwd=work, timeout=max(10.0, limit - (time.monotonic() - t_start)))
                rc = r.returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not os.path.exists(record):
            with open(jvm_log, errors="replace") as lf:
                sys.stderr.write("".join(lf.readlines()[-40:]))
            log(f"benchmark JVM failed ({rc})")
            return 3
        with open(record, encoding="utf-8") as fh:
            rec = json.load(fh)

        if a.workload == "etl_cold":
            attempted, failed, problems = evaluate_etl(rec, texts)
        else:
            attempted, failed, problems = evaluate_headline(rec, HEADLINE_SF, a.record_fingerprints)
        for p in problems:
            log(f"check failed: {p}")
        passes = [p for p in rec.get("etl_passes", rec.get("headline_passes", [])) if p.get("timed", True)]
        log(f"fixtures {fixture_s:.3f} s, set-up {rec['setup_s']:.3f} s, "
            f"timed passes {[round(p['wall_s'], 3) for p in passes]}")

        if a.trace:
            names = [x["name"] for x in spec["per_layer"]]
            units = {x["name"]: x["unit"] for x in spec["per_layer"]}
            values = per_layer(rec, names)
        else:
            names = [x["name"] for x in spec["end_to_end"]]
            units = {x["name"]: x["unit"] for x in spec["end_to_end"]}
            values = end_to_end(rec, a.workload)
        metrics = {n: {"value": float(values[n]), "unit": units[n]} for n in names}
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        # the deletes' writeback and discards finish here, not in the next run
        os.sync()


if __name__ == "__main__":
    sys.exit(main())
