"""Alternating parent/change pairs of one benchmark workload, and the rule
for claiming a gain from them.

    python3 tools/ab_pairs.py --parent <tree> --change <tree> \\
        --workload etl_cold --pairs 10 --seeds 501-510 --seconds 15

Each pair runs `python3 perfbench/run.py --workload W --seed S --seconds X
--trace 0` once in each tree (the tree is the working directory), with the
same settings; even pairs run the parent first, odd pairs the change. Pair
i uses seed A + i, cycling through the range A-B. Every run's last stdout
line (the benchmark's JSON record) is echoed to stderr as it lands.

The summary on stdout gives, per end-to-end metric, each side's median and
quartiles, the pairs the change won (ties count for neither side), and
whether a gain may be claimed on it (`gain_holds`): the change wins at
least nine tenths of the pairs run, and the medians differ, in the better
direction, by more than the parent's interquartile range. A run that fails
or prints no record wins no pair.

Quartiles are linear interpolations between order statistics
(`statistics.quantiles(method="inclusive")`, numpy's default).
"""

import argparse
import json
import os
import statistics
import subprocess
import sys

WIN_SHARE = 0.9


def parse_seeds(text):
    """'501-510' -> [501, ..., 510]; '7' -> [7]."""
    lo, _, hi = text.partition("-")
    lo, hi = int(lo), int(hi or lo)
    if hi < lo:
        raise ValueError(f"empty seed range {text}")
    return list(range(lo, hi + 1))


def last_record(stdout):
    """The benchmark's record: the last stdout line that parses as a JSON
    object, or None."""
    for line in reversed(stdout.strip().splitlines()):
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        if isinstance(rec, dict):
            return rec
    return None


def quartiles(values):
    """(q1, median, q3) of at least one value."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, med, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, med, q3


def metric(rec, name):
    """A metric's value from a run's record; None for a failed run."""
    if rec is None or name not in rec.get("metrics", {}):
        return None
    return rec["metrics"][name]["value"]


def summarize(pairs, name, better="lower"):
    """Each side's quartiles and the change's wins for one metric.

    `pairs` is a list of (parent_record, change_record); a record is the
    benchmark's JSON object, or None for a run that failed."""
    sign = 1 if better == "lower" else -1
    par = [metric(p, name) for p, _ in pairs]
    chg = [metric(c, name) for _, c in pairs]
    wins = sum(1 for p, c in zip(par, chg)
               if c is not None and (p is None or sign * (p - c) > 0))
    out = {"metric": name, "better": better, "pairs": len(pairs), "wins": wins}
    for side, vals in (("parent", par), ("change", chg)):
        ok = [v for v in vals if v is not None]
        out[side] = dict(zip(("q1", "median", "q3"), quartiles(ok))) if ok else None
        out[side + "_failed_runs"] = len(vals) - len(ok)
    if out["parent"] and out["change"]:
        gap = sign * (out["parent"]["median"] - out["change"]["median"])
        iqr = out["parent"]["q3"] - out["parent"]["q1"]
        out["median_gap"] = gap
        out["parent_iqr"] = iqr
        out["gain_holds"] = wins >= WIN_SHARE * len(pairs) and gap > iqr
    else:
        out["gain_holds"] = False
    return out


def run_one(tree, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    r = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       stdin=subprocess.DEVNULL, text=True)
    return last_record(r.stdout) if r.returncode == 0 else None


def end_to_end(tree):
    """The benchmark's end-to-end metrics as (name, better) pairs."""
    with open(os.path.join(tree, "BENCHMARK.json"), encoding="utf-8") as fh:
        spec = json.load(fh)
    return [(m["name"], m.get("better", "lower")) for m in spec["end_to_end"]]


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--change", required=True, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seeds", required=True, help="seed range A-B")
    ap.add_argument("--seconds", type=float, required=True)
    a = ap.parse_args(argv)
    seeds = parse_seeds(a.seeds)
    metrics = end_to_end(a.parent)

    pairs = []
    for i in range(a.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        recs = {}
        for side in order:
            recs[side] = run_one(getattr(a, side), a.workload, seed, a.seconds)
            print(json.dumps({"pair": i, "seed": seed, "side": side, "record": recs[side]}),
                  file=sys.stderr, flush=True)
        pairs.append((recs["parent"], recs["change"]))

    summary = {"workload": a.workload, "seeds": a.seeds, "seconds": a.seconds,
               "correct": {side: sum(1 for p in pairs if p[k] and p[k].get("correct"))
                           for k, side in enumerate(("parent", "change"))},
               "failed_ops": {side: sum(p[k]["failed"] for p in pairs if p[k])
                              for k, side in enumerate(("parent", "change"))},
               "metrics": [summarize(pairs, n, b) for n, b in metrics]}
    print(json.dumps(summary, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
